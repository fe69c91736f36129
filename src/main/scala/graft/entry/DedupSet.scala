package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{CounterDef, CounterType}
import graft.dedup.Dedup
import graft.functions.Canonical
import graft.graph.GraphOps
import graft.multimodal.Multimodal
import graft.operators.{Counters, Intermediate, JqTransform}
import graft.similarity.Ann
import graft.textops.{TextAnalysis, UrlOps}

import graft.EntryHelpers._

/** Dedup queries (d01-d30) + their DuckDB oracles.
  *
  * Split mechanically from SparkEntry (round 10); entries are verbatim.
  * Shared fixtures/counter defs/oracle CTE fragments live in
  * [[EntryHelpers]]; [[SparkEntry]] concatenates the per-set maps.
  */
private[graft] object DedupSet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- deduplication ----
    "d01_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir))),
    "d02_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir))),
    "d03_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir))),
    // two-stage fuzzy dedup: MinHash-band candidates at the WIDE d18 net
    // (est ≥ 0.30) → exact per-pair Levenshtein verify, keep ≥ 80%
    // character similarity — the verify cost is candidate-bounded by LSH,
    // never corpus-quadratic
    "d31_edit_verified_pairs" -> ((s, dir) =>
      Dedup.editVerifiedPairs(Tables.documents(s, dir))),
    "d04_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir))),
    "d05_embed_neardup" -> ((s, dir) =>
      Dedup.cosineNearDupPairs(Tables.embeddings(s, dir))),
    // cross-split n-gram leakage matrix: shared distinct 3-grams between
    // every ordered split pair + the share of a's grams leaked — the QA
    // read on t18's content-independent hash split (doc-disjoint but not
    // gram-disjoint); digest-only shuffles, ≤3 rows per digest key
    "d23_split_leakage" -> ((s, dir) =>
      Dedup.splitLeakage(Tables.documents(s, dir))),
    // exact substring dedup's APPLY step (Lee et al. 2022): tokens under
    // any corpus-wide ≥3× word-5-gram are masked; docs re-emit scrubbed
    "d24_span_scrub" -> ((s, dir) =>
      Dedup.spanScrub(Tables.documents(s, dir))),
    // URL-level dedup: four raw variants per resource (www+dup-slash+utm,
    // explicit default port, trailing slash, fragment) all canonicalize
    // to ONE url; keep = min doc_id. The oracle derives the canonical
    // form analytically from the same doc_id formula (t41 convention)
    "d25_url_dedup" -> ((s, dir) =>
      Dedup.urlDedup(Tables.documents(s, dir), rawUrlFixture)),
    // EXACT repeated-substring dedup accounting (Lee et al. '22's
    // suffix-array dedup re-expressed relationally): token 8-grams
    // repeated anywhere in the corpus mark their covers; per-doc
    // overlapping/adjacent covers merge to maximal spans
    "d28_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables.documents(s, dir))),
    // streaming face of d28's repeated-gram detection: each gram digest
    // emits exactly once, on its SECOND sighting — the emitted SET is
    // arrival-independent and ≡ the batch repeated-gram table
    "d29_stream_repeated_grams" -> ((s, dir) => withStatePartitions(s) {
      withRocksDb(s) {
        val stream = Tables.spreadStream(Tables.documentsStream(s, dir),
            s"$dir/documents.parquet", col("doc_id"))
          .withColumn("ts", timestamp_micros(col("doc_id") + lit(86400000000L)))
        val out = graft.streaming.StreamingDedup.repeatedGramDigests(
          stream, "ts", L = 8, watermarkDelay = "3650 days")
        val sink = "d29_gram_sink"
        val q = out.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(sink)
      }
    }),
    // Bloom seen-set membership (the incremental-crawl d11 at fixed
    // memory): even docs' URLs build the filter, odd docs' URLs probe it
    // (mod 301 keeps both parities on every residue, so the overlap is
    // real). Exact member/probe counts hash-compare; the Bloom's
    // zero-false-negative theorem and measured FP budget are the gate
    "d26_bloom_seen" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val url = concat(lit("https://ex.com/p"),
        (col("doc_id") % 301).cast("string")).as("key")
      Dedup.bloomMembership(
        d.where(col("doc_id") % 2 === 0).select(url),
        d.where(col("doc_id") % 2 === 1).select(url))
    }),
    // STREAMING face of the Bloom seen-set: the d26 filter built from
    // the documents STREAM as sharded typed-aggregation state (update
    // mode; bit-OR is commutative AND idempotent, so the final per-shard
    // filter is arrival/batch-boundary independent), probed batch-side
    // with the same exact accounting — the zero-FN theorem certifies the
    // streamed state path lost no bits
    "d32_stream_bloom_seen" -> ((s, dir) => withStatePartitions(s) {
      val d = Tables.documents(s, dir)
      def url(c: Column) =
        concat(lit("https://ex.com/p"), (c % 301).cast("string"))
      val keys = Tables.documentsStream(s, dir)
        .where(col("doc_id") % 2 === 0)
        .select(url(col("doc_id")).as("key"))
      val out = graft.streaming.StreamingDedup.bloomSeenStream(keys)
      val sink = "d32_bloom_sink"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      // n is non-decreasing across a shard's update emissions: max_by(n)
      // picks each shard's final filter
      val finals = s.table(sink).groupBy(col("shard"))
        .agg(max_by(col("s"), col("s.n")).as("s"))
      Dedup.bloomMembershipFromShards(finals,
        d.where(col("doc_id") % 2 === 0).select(url(col("doc_id")).as("key")),
        d.where(col("doc_id") % 2 === 1).select(url(col("doc_id")).as("key")))
    }),
    // pair list → duplicate clusters (keeper = min doc_id per component)
    "d06_dup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(Tables.documents(s, dir)).select(col("a"), col("b")))),
    // embedding near-dup at SCALE: sign-LSH bucket equi-join candidates +
    // exact cosine verify (the sub-quadratic substitute for d05). 4 planes
    // because this corpus's "near" is θ≈69° (max cosine ≈ 0.5) — per-plane
    // agreement 0.62, so 4 planes ≈ 15% per-table recall; production stacks
    // tables/planes per its own similarity floor
    "d07_lsh_neardup" -> ((s, dir) =>
      Dedup.lshNearDupPairs(Tables.embeddings(s, dir), tau = 0.35, nPlanes = 4)),
    // benchmark contamination: corpus docs sharing a word k-gram with the
    // (broadcast) benchmark subset
    "d08_contamination" -> ((s, dir) =>
      Dedup.contamination(Tables.documents(s, dir), col("doc_id") % 25 === 0, k = 3)),
    // decontamination APPLIED: contaminated docs and the benchmark slice
    // itself drop; one AQE-sized anti-join against the contaminated set
    "d19_decontaminate_apply" -> ((s, dir) =>
      Dedup.applyDecontamination(
        Tables.documents(s, dir), col("doc_id") % 25 === 0, k = 3)),
    // the full dedup story applied: pairs → clusters → surviving corpus
    "d09_dedup_apply" -> ((s, dir) =>
      Dedup.applyDedup(
        Tables.documents(s, dir),
        Dedup.minhashLshPairs(Tables.documents(s, dir)).select(col("a"), col("b")))),
    // dedup apply with the QUALITY keeper policy: inside each duplicate
    // cluster the highest-quality member survives (ties → smaller id),
    // not the smallest id — what production pipelines actually keep
    "d22_quality_dedup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.applyDedupByQuality(
        docs,
        Dedup.minhashLshPairs(docs).select(col("a"), col("b")),
        TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality_ppm")))
    }),
    // snapshot delta by content digest (set-operation surface): docs in
    // the even-id snapshot whose content the odd-id snapshot lacks
    "d11_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.snapshotDiff(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),
    // asymmetric containment (the subset-duplication signal Jaccard
    // misses): either direction ≥ 0.8 of the smaller side's grams
    "d12_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir))),
    // multi-table LSH (OR-construction): the recall lever over d07 — 3
    // independent plane families, candidate if ANY table collides; pairs
    // dedup'd before the single cosine verify
    "d10_lsh_multitable" -> ((s, dir) =>
      Dedup.lshNearDupPairsMulti(Tables.embeddings(s, dir),
        tau = 0.35, nPlanes = 4, tables = 3)),
    // chunk-level exact dedup (C4/RefinedWeb line dedup at this corpus's
    // chunk granularity): first occurrence survives, per-doc accounting
    "d13_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedupStats(Tables.documents(s, dir))),
    // CONTENT-DEFINED chunking dedup (LBFS/rsync lineage): boundaries
    // where the 3-token rolling hash % 8 == 0, so an inserted header
    // re-synchronizes instead of shifting every chunk like d13's fixed
    // grid. Fixture: resource pairs (2r, 2r+1) share a body, the odd
    // one prefixed with a header token — CDC dedups the shared tail
    "d30_cdc_chunks" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val base = d.where(col("doc_id") % 2 === 0)
        .select(expr("doc_id div 2").as("r"), col("text").as("__t"))
      val fx = d.select(col("doc_id"), expr("doc_id div 2").as("r"))
        .join(base, "r")
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 1,
            concat(lit("hdr"), col("doc_id") % 7, lit(" "), col("__t")))
            .otherwise(col("__t")).as("text"))
      Dedup.cdcChunkStats(fx)
    }),
    // verbatim shared-substring runs (the suffix-array substring-dedup
    // signal as a distributed k-gram diagonal join): maximal ≥12-token
    // spans shared between doc pairs, digest-only shuffles
    "d17_substring_runs" -> ((s, dir) =>
      Dedup.substringRuns(Tables.documents(s, dir))),
    // MinHash estimate vs exact Jaccard per candidate pair — the
    // parameter-calibration gate; exact pass is candidate-bounded
    "d18_minhash_calibration" -> ((s, dir) =>
      Dedup.minhashCalibration(Tables.documents(s, dir))),
    // within-doc repeated spans (the self-diagonal of d17): longest
    // internal repeat + repeat count per doc — the copy-paste signal
    "d20_self_repeats" -> ((s, dir) =>
      Dedup.selfRepeats(Tables.documents(s, dir), k = 2, minTokens = 3)),
    // corpus-overlap matrix: MinHash-estimated Jaccard between the
    // distinct-shingle sets of corpus SOURCES — min commutes with set
    // union, so each slice signature is ONE map-side-combinable
    // aggregate; nothing but (slice, digest) pairs ever shuffles
    "d21_corpus_overlap" -> ((s, dir) =>
      Dedup.corpusOverlap(Tables.documents(s, dir))),
    // cross-source overlap by HLL set algebra — the sketch-only scale
    // path beside d21's minhash: exact |A|,|B|,|A∩B| hash-compared,
    // the inclusion–exclusion estimate gated within eps·(|A|+|B|)
    "d33_sketch_overlap" -> ((s, dir) =>
      Dedup.sketchOverlap(Tables.documents(s, dir))),
    // ingest-time exact dedup, oracle-checked: a horizon wider than the
    // dataset makes within-watermark dedup ≡ global DISTINCT, and keying
    // the OUTPUT by content digest (not row identity) makes the result
    // independent of which arrival won the first-occurrence race
    "d14_stream_dedup_parity" -> ((s, dir) => withStatePartitions(s) {
      val deduped = graft.streaming.StreamingDedup.dropExactDuplicates(
        Tables.eventsStream(s, dir), "ts", "props", watermarkDelay = "3650 days")
      // null-props rows pass through dedup untouched by design; the oracle
      // excludes them (WHERE props IS NOT NULL), so exclude them here too —
      // parity must not depend on the fixture having no null props
      val out = deduped.where(col("props").isNotNull)
        .select(md5(col("props").cast("binary")).as("content_md5"))
      val sink = "d14_stream_dedup_sink"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
    }),
    // ingest-time URL-level dedup (the live crawl frontier's first
    // stage): d25's raw fetch variants arrive as a stream, canonicalize,
    // first arrival per canonical URL survives — the surviving URL SET
    // is arrival-independent and ≡ batch DISTINCT canonical urls
    "d27_stream_url_dedup" -> ((s, dir) => withStatePartitions(s) {
      val stream = Tables.spreadStream(Tables.documentsStream(s, dir),
          s"$dir/documents.parquet", col("doc_id"))
        .withColumn("ts", timestamp_micros(col("doc_id") + lit(86400000000L)))
      val out = graft.streaming.StreamingDedup.dropSeenUrls(
          stream, "ts", rawUrlFixture, watermarkDelay = "3650 days")
        .select(col("__url").as("url"))
      val sink = "d27_stream_url_sink"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
    }),
    // ingest-time NEAR-dup suppression, oracle-checked the same way:
    // horizon ≥ dataset ⇒ exactly one keeper per sign-LSH bucket, so the
    // recomputed bucket ids of the survivors ≡ the distinct bucket set
    // (which doc won each bucket is arrival-dependent; the bucket set
    // is not)
    "d15_stream_neardup_parity" -> ((s, dir) => withStatePartitions(s) {
      val stream = Tables.embeddingsStream(s, dir)
        .withColumn("ts", timestamp_micros(col("vec_id")))
      val kept = graft.streaming.StreamingDedup.dropNearDuplicatesWithinWatermark(
        stream, "ts", "embedding", nPlanes = 8, watermarkDelay = "3650 days")
      val out = kept.select(graft.similarity.Ann.bucketExprOn(
        transform(col("embedding"), x => x.cast("double")), 8).as("bucket"))
      val sink = "d15_stream_neardup_sink"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
    }),
    // near-dup suppression v2, oracle-checked: multi-band transformWithState
    // state (one ListState per (table, bucket) — the batch equi-join key)
    // with an EXACT-cosine verify against each colliding earlier document.
    // Horizon ≥ dataset ⇒ the verified-match set ≡ the batch multi-table
    // pair set (d10), so the anti-joined survivors are deterministic —
    // unlike d15, which docs win is NOT arrival-dependent here, because
    // only genuine cosine-near-dups (vs the EARLIER doc by (ts, id)) drop
    "d16_stream_neardup_verified" -> ((s, dir) => withStatePartitions(s) {
      withRocksDb(s) {
        // +1 day: an event time EQUAL to the initial watermark (epoch 0)
        // is filtered as late by transformWithState's strict > check —
        // unlike dropDuplicatesWithinWatermark's — and vec_id 0 would
        // silently never register
        val stream = Tables.embeddingsStream(s, dir)
          .withColumn("ts", timestamp_micros(col("vec_id") + lit(86400000000L)))
        val flags = graft.streaming.StreamingDedup.nearDupBandFlags(
          stream, "ts", "embedding", watermarkDelay = "3650 days")
        val sink = "d16_stream_neardup_sink"
        val q = flags.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        val dropped = s.table(sink).where(col("matched_id").isNotNull)
          .select(col("vec_id")).distinct()
        Tables.embeddings(s, dir)
          .join(dropped, Seq("vec_id"), "left_anti")
          .select(col("vec_id"))
      }
    }),
  )

  def oracle: Map[String, String] = Map(
      // d28: the same md5-60 gram digest groups both engines; islands via
      // the running-max-of-end window, integer-exact throughout
      "d28_repeated_spans" ->
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |dd AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) >= 8),
          |p0 AS (SELECT doc_id, n, t,
          |         unnest(generate_series(1, n - 7)) AS pos FROM dd),
          |p AS (SELECT doc_id, n, pos,
          |        (('0x' || substr(md5(array_to_string(t[pos:pos+7], ' ')), 1, 15))::BIGINT) AS g
          |      FROM p0),
          |rep AS (SELECT g FROM p GROUP BY g HAVING count(*) > 1),
          |f AS (SELECT doc_id, n, pos FROM p JOIN rep USING (g)),
          |i1 AS (SELECT doc_id, n, pos,
          |         max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |       FROM f),
          |i2 AS (SELECT doc_id, n, pos,
          |         sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
          |             THEN 1 ELSE 0 END)
          |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
          |       FROM i1),
          |sp AS (SELECT doc_id, any_value(n) AS n, island,
          |         max(pos) + 7 - min(pos) + 1 AS len
          |       FROM i2 GROUP BY doc_id, island)
          |SELECT doc_id, any_value(n)::BIGINT AS n_tokens,
          |  count(*)::BIGINT AS n_spans,
          |  sum(len)::BIGINT AS tokens_removed,
          |  (sum(len) * 1000000 // any_value(n))::BIGINT AS removed_ppm
          |FROM sp GROUP BY doc_id""".stripMargin,
      // d29: the batch repeated-gram table — the streaming emitted set is
      // arrival-independent, so it must equal this exactly
      "d29_stream_repeated_grams" ->
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |dd AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) >= 8),
          |p0 AS (SELECT doc_id, n, t,
          |         unnest(generate_series(1, n - 7)) AS pos FROM dd),
          |p AS (SELECT
          |        (('0x' || substr(md5(array_to_string(t[pos:pos+7], ' ')), 1, 15))::BIGINT) AS g
          |      FROM p0)
          |SELECT g AS gram_h60 FROM p GROUP BY g HAVING count(*) > 1""".stripMargin,
      "d01_dedup_exact" ->
        """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_docs
          | FROM documents GROUP BY 1""".stripMargin,
      "d11_snapshot_diff" ->
        """SELECT md5(text) AS text_md5 FROM documents WHERE doc_id % 2 = 0
          |EXCEPT
          |SELECT md5(text) AS text_md5 FROM documents WHERE doc_id % 2 = 1""".stripMargin,
      "d02_minhash_lsh" ->
        s"WITH $minhashCtes\nSELECT a, b, est_ppm FROM est WHERE est_ppm >= 500000",
      // d21: slice-level union signatures — NON-distinct k-grams feed the
      // same h1/h2 min family (duplicates cannot move a min), pairwise
      // slot agreement over the slices-bounded signature table
      // d33: exact distinct-shingle counts + pairwise intersections on
      // the digest channel; the sketch estimate's verdict is measured
      // Spark-side (the a01/g04 convention — literal-true here)
      "d33_sketch_overlap" ->
        s"""WITH g AS (SELECT DISTINCT source AS slice,
           |    ${h60("g")} AS g
           |  FROM (SELECT source, unnest($kgrams) AS g
           |    FROM (SELECT source, $toks AS t FROM documents))),
           |n AS (SELECT slice, count(*)::BIGINT AS n FROM g GROUP BY 1),
           |c AS (SELECT x.slice AS a, y.slice AS b, count(*)::BIGINT AS nc
           |  FROM g x JOIN g y ON x.g = y.g AND x.slice < y.slice
           |  GROUP BY 1, 2)
           |SELECT na.slice AS src_a, nb.slice AS src_b, na.n AS n_a,
           |  nb.n AS n_b, coalesce(c.nc, 0)::BIGINT AS n_common,
           |  1::BIGINT AS within_eps
           |FROM n na JOIN n nb ON na.slice < nb.slice
           |LEFT JOIN c ON c.a = na.slice AND c.b = nb.slice""".stripMargin,
      "d21_corpus_overlap" ->
        s"""WITH sh AS (SELECT source AS slice, unnest($kgrams) AS g
           |  FROM (SELECT source, $toks AS t FROM documents)),
           |h2 AS (SELECT slice, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1,
           |       (('0x' || substr(md5(g), 16, 14))::BIGINT % (1::BIGINT << 55)) AS h2 FROM sh),
           |hs AS (SELECT slice, i, min((h1 + i * h2) % 2305843009213693951) AS h
           |       FROM h2 CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
           |       GROUP BY slice, i),
           |sig AS (SELECT slice, list(h ORDER BY i) AS sig FROM hs GROUP BY slice)
           |SELECT x.slice AS src_a, y.slice AS src_b,
           |  (len(list_filter(generate_series(1, 64), i -> x.sig[i] = y.sig[i]))
           |     * 1000000 // 64)::BIGINT AS est_ppm
           |FROM sig x JOIN sig y ON x.slice < y.slice""".stripMargin,
      // d18: est (tau 300000) vs exact Jaccard on the candidate pairs;
      // zero-overlap band collisions surface as jaccard 0
      "d18_minhash_calibration" ->
        s"""WITH $minhashCtes,
           |pairs AS (SELECT a, b, est_ppm FROM est WHERE est_ppm >= 300000),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
           |           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
           |           GROUP BY 1, 2)
           |SELECT p.a, p.b, p.est_ppm,
           |  coalesce(c * 1000000 // (na.n + nb.n - c), 0)::BIGINT AS jaccard_ppm,
           |  abs(p.est_ppm - coalesce(c * 1000000 // (na.n + nb.n - c), 0))::BIGINT
           |    AS err_ppm
           |FROM pairs p
           |LEFT JOIN common ON p.a = common.a AND p.b = common.b
           |JOIN sizes na ON p.a = na.doc_id
           |JOIN sizes nb ON p.b = nb.doc_id""".stripMargin,
      // d31: same wide candidate net as d18, then DuckDB's own
      // levenshtein as the exact verify — unit-cost edit distance on
      // both engines, relative-similarity filter is one truncating div
      "d31_edit_verified_pairs" ->
        s"""WITH $minhashCtes,
           |c2 AS (SELECT a, b, est_ppm FROM est WHERE est_ppm >= 300000),
           |lv AS (SELECT c2.a, c2.b, c2.est_ppm,
           |         levenshtein(xa.text, xb.text)::BIGINT AS lev_edits,
           |         greatest(greatest(length(xa.text), length(xb.text)), 1)::BIGINT
           |           AS max_len
           |       FROM c2 JOIN documents xa ON c2.a = xa.doc_id
           |                JOIN documents xb ON c2.b = xb.doc_id)
           |SELECT a, b, est_ppm, lev_edits, max_len,
           |  ((max_len - lev_edits) * 1000000 // max_len)::BIGINT AS sim_ppm
           |FROM lv
           |WHERE (max_len - lev_edits) * 1000000 // max_len >= 800000""".stripMargin,
      "d06_dup_clusters" ->
        s"""WITH RECURSIVE $minhashCtes,
           |p AS (SELECT a, b FROM est WHERE est_ppm >= 500000),
           |nodes AS (SELECT a AS n FROM p UNION SELECT b FROM p),
           |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b AS u, a AS v FROM p),
           |reach(n, m) AS (
           |  SELECT n, n FROM nodes
           |  UNION
           |  SELECT r.n, e.v FROM reach r JOIN e ON r.m = e.u)
           |SELECT n AS node, min(m) AS component FROM reach GROUP BY n""".stripMargin,
      "d03_simhash_pairs" ->
        s"""WITH tc AS (SELECT doc_id, t AS tok, count(*)::BIGINT AS c
           |            FROM (SELECT doc_id, unnest($toks) AS t FROM documents) GROUP BY doc_id, tok),
           |th AS (SELECT doc_id, ${h60("tok")} AS h, c FROM tc),
           |bits AS (SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN c ELSE -c END)::BIGINT AS s
           |         FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) GROUP BY doc_id, b),
           |sh AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
           |       FROM bits GROUP BY doc_id)
           |SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
           |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin,
      "d04_ngram_jaccard" ->
        s"""WITH kg AS (SELECT doc_id, list_distinct($kgrams) AS gs FROM (SELECT doc_id, $toks AS t FROM documents)),
           |sh AS (SELECT doc_id, unnest(gs) AS g FROM kg),
           |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
           |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS c
           |           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)
           |SELECT a, b, (c * 1000000 // (na.n + nb.n - c))::BIGINT AS jaccard_ppm
           |FROM common JOIN sizes na ON a = na.doc_id JOIN sizes nb ON b = nb.doc_id
           |WHERE (c * 1000000 // (na.n + nb.n - c)) >= 500000""".stripMargin,
      // d24: the same 5-gram freq pass + per-token covered-by-hot-start
      // mask, rebuilt with list_filter's (x, i) indexed lambda; docs
      // without hot grams keep everything (LEFT JOIN, empty starts)
      // d25: the canonical URL derived analytically from the same
      // doc_id formula the Spark side feeds through canonicalizeUrl
      "d25_url_dedup" ->
        """SELECT 'https://site' || ((doc_id // 4) % 5)::VARCHAR ||
          |    '.example.com/page/' || (doc_id // 4)::VARCHAR AS url,
          |  count(*)::BIGINT AS n_dups, min(doc_id) AS keep_doc_id
          |FROM documents GROUP BY 1""".stripMargin,
      // d26: exact filter/probe/member counts + the Bloom theorems as
      // literals — zero false negatives (OR-merge theorem, hash-compared)
      // and the measured FP budget verdict (a01/e13/e14 gate pattern)
      // d27: the surviving canonical URL set ≡ batch DISTINCT (d25's
      // canonical formula) — which doc won each URL is arrival-dependent,
      // the URL set is not
      "d27_stream_url_dedup" ->
        """SELECT DISTINCT 'https://site' || ((doc_id // 4) % 5)::VARCHAR ||
          |  '.example.com/page/' || (doc_id // 4)::VARCHAR AS url
          |FROM documents""".stripMargin,
      "d26_bloom_seen" ->
        """WITH f AS (SELECT DISTINCT 'https://ex.com/p' || (doc_id % 301) AS url
          |           FROM documents WHERE doc_id % 2 = 0),
          |p AS (SELECT DISTINCT 'https://ex.com/p' || (doc_id % 301) AS url
          |      FROM documents WHERE doc_id % 2 = 1)
          |SELECT (SELECT count(*) FROM f)::BIGINT AS n_filter,
          |  (SELECT count(*) FROM p)::BIGINT AS n_probes,
          |  (SELECT count(*) FROM p JOIN f USING (url))::BIGINT AS n_members,
          |  0::BIGINT AS false_negatives,
          |  1::BIGINT AS fp_within_bound""".stripMargin,
      // d32: d26's exact accounting verbatim — the filter's PROVENANCE
      // (streamed sharded state vs one batch aggregate) must be invisible
      "d32_stream_bloom_seen" ->
        """WITH f AS (SELECT DISTINCT 'https://ex.com/p' || (doc_id % 301) AS url
          |           FROM documents WHERE doc_id % 2 = 0),
          |p AS (SELECT DISTINCT 'https://ex.com/p' || (doc_id % 301) AS url
          |      FROM documents WHERE doc_id % 2 = 1)
          |SELECT (SELECT count(*) FROM f)::BIGINT AS n_filter,
          |  (SELECT count(*) FROM p)::BIGINT AS n_probes,
          |  (SELECT count(*) FROM p JOIN f USING (url))::BIGINT AS n_members,
          |  0::BIGINT AS false_negatives,
          |  1::BIGINT AS fp_within_bound""".stripMargin,
      "d24_span_scrub" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |grams AS (SELECT doc_id, i AS pos, array_to_string(t[i : i+4], ' ') AS g
          |  FROM (SELECT doc_id, t,
          |          unnest(generate_series(1, len(t) - 4)) AS i FROM toks)),
          |hot AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 3),
          |hs AS (SELECT doc_id, list_sort(list(pos)) AS starts
          |       FROM grams JOIN hot USING (g) GROUP BY doc_id),
          |j AS (SELECT toks.doc_id, t, coalesce(starts, []) AS starts
          |      FROM toks LEFT JOIN hs ON toks.doc_id = hs.doc_id),
          |k AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
          |        list_filter(t, (x, i) -> len(list_filter(starts,
          |          p -> p <= i AND i < p + 5)) = 0) AS kept
          |      FROM j)
          |SELECT doc_id, n_tokens,
          |  (n_tokens - len(kept))::BIGINT AS n_masked,
          |  -- DuckDB's empty-list join is NULL; Spark's array_join is ''
          |  coalesce(array_to_string(kept, ' '), '') AS scrubbed FROM k""".stripMargin,
      // d23: t18's split hash + d04's k-gram machinery → leakage matrix
      "d23_split_leakage" ->
        s"""WITH m AS (SELECT doc_id,
           |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id,
           |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
           |        FROM documents)),
           |kg AS (SELECT doc_id, list_distinct($kgrams) AS gs
           |       FROM (SELECT doc_id, $toks AS t FROM documents)),
           |sg AS (SELECT DISTINCT split, g FROM
           |       (SELECT m.split, unnest(gs) AS g FROM kg JOIN m USING (doc_id))),
           |sizes AS (SELECT split, count(*)::BIGINT AS n FROM sg GROUP BY 1),
           |sh AS (SELECT x.split AS split_a, y.split AS split_b,
           |         count(*)::BIGINT AS shared_grams
           |       FROM sg x JOIN sg y ON x.g = y.g AND x.split != y.split
           |       GROUP BY 1, 2)
           |SELECT split_a, split_b, shared_grams,
           |  (shared_grams * 1000000 // n)::BIGINT AS leak_ppm
           |FROM sh JOIN sizes ON split_a = sizes.split""".stripMargin,
      "d12_containment" ->
        s"""WITH kg AS (SELECT doc_id, list_distinct($kgrams) AS gs FROM (SELECT doc_id, $toks AS t FROM documents)),
           |sh AS (SELECT doc_id, unnest(gs) AS g FROM kg),
           |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
           |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS c
           |           FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)
           |SELECT a, b, (c * 1000000 // na.n)::BIGINT AS cont_a_ppm,
           |       (c * 1000000 // nb.n)::BIGINT AS cont_b_ppm
           |FROM common JOIN sizes na ON a = na.doc_id JOIN sizes nb ON b = nb.doc_id
           |WHERE (c * 1000000 // na.n) >= 800000 OR (c * 1000000 // nb.n) >= 800000""".stripMargin,
      // d30: the same fixture join; boundaries via lagged token hashes
      // (md5 % 2^20, base-31 fold, % 8), chunk ids by a prefix-boundary
      // cumsum, chunk digests via ordered string_agg, d13's winner rule
      "d30_cdc_chunks" ->
        s"""WITH base AS (SELECT doc_id // 2 AS r, text FROM documents
           |              WHERE doc_id % 2 = 0),
           |fx AS (SELECT d.doc_id,
           |         CASE WHEN d.doc_id % 2 = 1
           |           THEN 'hdr' || (d.doc_id % 7) || ' ' || b.text
           |           ELSE b.text END AS text
           |       FROM documents d JOIN base b ON d.doc_id // 2 = b.r),
           |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |         unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos
           |       FROM fx),
           |th AS (SELECT doc_id, pos, tok,
           |         (('0x' || substr(md5(tok), 1, 15))::BIGINT % 1048576) AS h
           |       FROM tk),
           |rb AS (SELECT doc_id, pos, tok,
           |         CASE WHEN pos >= 2
           |           THEN ((lag(h, 2) OVER w * 31 + lag(h, 1) OVER w) * 31 + h) % 8 = 0
           |           ELSE FALSE END AS b
           |       FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
           |cid AS (SELECT doc_id, pos, tok,
           |          coalesce(sum(CASE WHEN b THEN 1 ELSE 0 END) OVER (
           |            PARTITION BY doc_id ORDER BY pos
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           |        FROM rb),
           |ch AS (SELECT doc_id, ci AS chunk_idx,
           |         md5(string_agg(tok, ' ' ORDER BY pos)) AS cm
           |       FROM cid GROUP BY 1, 2),
           |f AS (SELECT cm, doc_id AS fd, chunk_idx AS fi FROM (
           |    SELECT cm, doc_id, chunk_idx, row_number() OVER (
           |      PARTITION BY cm ORDER BY doc_id, chunk_idx) AS rn FROM ch)
           |  WHERE rn = 1)
           |SELECT ch.doc_id, count(*)::BIGINT AS n_chunks,
           |  sum(CASE WHEN f.fd = ch.doc_id AND f.fi = ch.chunk_idx
           |      THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           |  (count(*) - sum(CASE WHEN f.fd = ch.doc_id AND f.fi = ch.chunk_idx
           |      THEN 1 ELSE 0 END))::BIGINT AS n_dropped
           |FROM ch JOIN f ON ch.cm = f.cm GROUP BY 1""".stripMargin,
      "d13_chunk_dedup" ->
        s"""WITH ch AS (
           |  SELECT doc_id, i::BIGINT AS chunk_idx,
           |    md5(array_to_string(t[i*8+1 : i*8+8], ' ')) AS chunk_md5
           |  FROM (SELECT doc_id, $toks AS t FROM documents)
           |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
           |  WHERE i <= ceil(len(t)/8.0) - 1),
           |f1 AS (SELECT chunk_md5, min(doc_id) AS kd FROM ch GROUP BY 1),
           |f2 AS (SELECT ch.chunk_md5, f1.kd, min(ch.chunk_idx) AS ki
           |       FROM ch JOIN f1 ON ch.chunk_md5 = f1.chunk_md5 AND ch.doc_id = f1.kd
           |       GROUP BY 1, 2)
           |SELECT ch.doc_id, count(*)::BIGINT AS n_chunks,
           | sum(CASE WHEN f2.kd = ch.doc_id AND f2.ki = ch.chunk_idx
           |     THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           | sum(CASE WHEN f2.kd = ch.doc_id AND f2.ki = ch.chunk_idx
           |     THEN 0 ELSE 1 END)::BIGINT AS n_dropped
           |FROM ch JOIN f2 ON ch.chunk_md5 = f2.chunk_md5
           |GROUP BY 1""".stripMargin,
      // d17: identical k=8 positional grams, occ-cap, and diagonal
      // gaps-and-islands; md5-60 digests make the join bit-identical
      "d17_substring_runs" ->
        s"""WITH g AS (
           |  SELECT doc_id, i::BIGINT AS pos,
           |    ${h60("array_to_string(t[i : i+7], ' ')")} AS gh
           |  FROM (SELECT doc_id, $toks AS t FROM documents),
           |  LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i)
           |  WHERE len(t) >= 8),
           |cold AS (SELECT * FROM g QUALIFY count(*) OVER (PARTITION BY gh) <= 50),
           |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa,
           |                x.pos - y.pos AS diag
           |         FROM cold x JOIN cold y
           |           ON x.gh = y.gh AND x.doc_id < y.doc_id),
           |runs AS (SELECT a, b, count(*) + 7 AS run_tokens FROM (
           |    SELECT a, b, diag, pa,
           |      pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) AS grp
           |    FROM cand)
           |  GROUP BY a, b, diag, grp
           |  HAVING count(*) + 7 >= 12)
           |SELECT a AS doc_a, b AS doc_b, count(*)::BIGINT AS n_runs,
           |       max(run_tokens)::BIGINT AS max_run_tokens
           |FROM runs GROUP BY 1, 2""".stripMargin,
      "d14_stream_dedup_parity" ->
        "SELECT DISTINCT md5(props) AS content_md5 FROM events WHERE props IS NOT NULL",
      "d15_stream_neardup_parity" ->
        """WITH pl AS (SELECT p, list_transform(generate_series(0, 63), j ->
          |    CASE WHEN ((('0x'||substr(md5('plane:'||p||':'||(j//60)),1,15))::BIGINT >> (j%60)) & 1) = 1
          |         THEN 1.0 ELSE -1.0 END) AS sv
          |  FROM (SELECT unnest(generate_series(0, 7)) AS p)),
          |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |d AS (SELECT vec_id, p, list_sum(list_transform(v, (x, j) -> x * sv[j])) AS dot
          |      FROM v CROSS JOIN pl),
          |b AS (SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
          |      FROM d GROUP BY vec_id)
          |SELECT DISTINCT bucket FROM b""".stripMargin,
      "d05_embed_neardup" ->
        """SELECT x.vec_id AS a, y.vec_id AS b
          |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
          |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.42""".stripMargin,
      "d07_lsh_neardup" ->
        """WITH pl AS (SELECT p, list_transform(generate_series(0, 63), j ->
          |    CASE WHEN ((('0x'||substr(md5('plane:'||p||':'||(j//60)),1,15))::BIGINT >> (j%60)) & 1) = 1
          |         THEN 1.0 ELSE -1.0 END) AS sv
          |  FROM (SELECT unnest(generate_series(0, 3)) AS p)),
          |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |d AS (SELECT vec_id, p, list_sum(list_transform(v, (x, j) -> x * sv[j])) AS dot
          |      FROM v CROSS JOIN pl),
          |bk AS (SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
          |       FROM d GROUP BY vec_id)
          |SELECT x.vec_id AS a, y.vec_id AS b
          |FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          |JOIN embeddings ex ON ex.vec_id = x.vec_id
          |JOIN embeddings ey ON ey.vec_id = y.vec_id
          |WHERE list_cosine_similarity(ex.embedding, ey.embedding) >= 0.35""".stripMargin,
      "d10_lsh_multitable" ->
        """WITH pl AS (SELECT t, p, list_transform(generate_series(0, 63), j ->
          |    CASE WHEN ((('0x'||substr(md5('plane:'||t||':'||p||':'||(j//60)),1,15))::BIGINT >> (j%60)) & 1) = 1
          |         THEN 1.0 ELSE -1.0 END) AS sv
          |  FROM (SELECT unnest(generate_series(0, 2)) AS t)
          |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p)),
          |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |d AS (SELECT vec_id, t, p, list_sum(list_transform(v, (x, j) -> x * sv[j])) AS dot
          |      FROM v CROSS JOIN pl),
          |bk AS (SELECT vec_id, t, sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
          |       FROM d GROUP BY vec_id, t),
          |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          |         FROM bk x JOIN bk y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
          |SELECT a, b FROM cand
          |JOIN embeddings ex ON ex.vec_id = a
          |JOIN embeddings ey ON ey.vec_id = b
          |WHERE list_cosine_similarity(ex.embedding, ey.embedding) >= 0.35""".stripMargin,
      // d16 = the batch d10 pair set's survivors: a doc drops iff it is
      // the LATER side (b) of any multi-table verified pair — streaming
      // arrival order is vec_id order (ts = timestamp_micros(vec_id))
      "d16_stream_neardup_verified" ->
        """WITH pl AS (SELECT t, p, list_transform(generate_series(0, 63), j ->
          |    CASE WHEN ((('0x'||substr(md5('plane:'||t||':'||p||':'||(j//60)),1,15))::BIGINT >> (j%60)) & 1) = 1
          |         THEN 1.0 ELSE -1.0 END) AS sv
          |  FROM (SELECT unnest(generate_series(0, 2)) AS t)
          |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p)),
          |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |d AS (SELECT vec_id, t, p, list_sum(list_transform(v, (x, j) -> x * sv[j])) AS dot
          |      FROM v CROSS JOIN pl),
          |bk AS (SELECT vec_id, t, sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
          |       FROM d GROUP BY vec_id, t),
          |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          |         FROM bk x JOIN bk y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
          |p2 AS (SELECT a, b FROM cand
          |       JOIN embeddings ex ON ex.vec_id = a
          |       JOIN embeddings ey ON ey.vec_id = b
          |       WHERE list_cosine_similarity(ex.embedding, ey.embedding) >= 0.35)
          |SELECT vec_id FROM embeddings
          |WHERE vec_id NOT IN (SELECT b FROM p2)""".stripMargin,
      "d08_contamination" ->
        s"""WITH kg AS (SELECT doc_id, list_distinct($kgrams) AS gs
           |            FROM (SELECT doc_id, $toks AS t FROM documents)),
           |g AS (SELECT doc_id, unnest(gs) AS gram FROM kg),
           |bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 25 = 0),
           |shared AS (SELECT DISTINCT g.doc_id, g.gram
           |           FROM g JOIN bench b ON g.gram = b.gram AND g.doc_id != b.bench_id)
           |SELECT doc_id, count(*)::BIGINT AS n_shared_grams FROM shared GROUP BY 1""".stripMargin,
      "d19_decontaminate_apply" ->
        s"""WITH kg AS (SELECT doc_id, list_distinct($kgrams) AS gs
           |            FROM (SELECT doc_id, $toks AS t FROM documents)),
           |g AS (SELECT doc_id, unnest(gs) AS gram FROM kg),
           |bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 25 = 0),
           |cont AS (SELECT DISTINCT g.doc_id
           |         FROM g JOIN bench b ON g.gram = b.gram AND g.doc_id != b.bench_id)
           |SELECT d.doc_id FROM documents d
           |WHERE d.doc_id % 25 != 0
           |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin,
      // d20: d17's islands on the self-diagonal (same doc, pos1 < pos2)
      "d20_self_repeats" ->
        s"""WITH g AS (
           |  SELECT doc_id, i::BIGINT AS pos,
           |    ${h60("array_to_string(t[i : i+1], ' ')")} AS gh
           |  FROM (SELECT doc_id, $toks AS t FROM documents),
           |  LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
           |  WHERE len(t) >= 2),
           |cold AS (SELECT * FROM g QUALIFY count(*) OVER (PARTITION BY gh) <= 50),
           |cand AS (SELECT x.doc_id AS d, x.pos AS pa, y.pos - x.pos AS diag
           |         FROM cold x JOIN cold y
           |           ON x.gh = y.gh AND x.doc_id = y.doc_id AND x.pos < y.pos),
           |runs AS (SELECT d, count(*) + 1 AS run_tokens FROM (
           |    SELECT d, diag, pa,
           |      pa - row_number() OVER (PARTITION BY d, diag ORDER BY pa) AS grp
           |    FROM cand)
           |  GROUP BY d, diag, grp
           |  HAVING count(*) + 1 >= 3)
           |SELECT d AS doc_id, count(*)::BIGINT AS n_repeats,
           |       max(run_tokens)::BIGINT AS max_repeat_tokens
           |FROM runs GROUP BY 1""".stripMargin,
      "d09_dedup_apply" ->
        s"""WITH RECURSIVE $minhashCtes,
           |p AS (SELECT a, b FROM est WHERE est_ppm >= 500000),
           |nodes AS (SELECT a AS n FROM p UNION SELECT b FROM p),
           |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b AS u, a AS v FROM p),
           |reach(n, m) AS (
           |  SELECT n, n FROM nodes
           |  UNION
           |  SELECT r.n, e.v FROM reach r JOIN e ON r.m = e.u),
           |comp AS (SELECT n AS node, min(m) AS component FROM reach GROUP BY n),
           |drops AS (SELECT node FROM comp WHERE node != component)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT node FROM drops)""".stripMargin,
      // d22: same recursive-CTE clustering as d09, but the keeper is the
      // quality argmax (row_number ties ASC on node = Spark's -node pick);
      // the quality CTE is t02's composite formula inline
      "d22_quality_dedup_apply" ->
        s"""WITH RECURSIVE $minhashCtes,
           |p AS (SELECT a, b FROM est WHERE est_ppm >= 500000),
           |nodes AS (SELECT a AS n FROM p UNION SELECT b FROM p),
           |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b AS u, a AS v FROM p),
           |reach(n, m) AS (
           |  SELECT n, n FROM nodes
           |  UNION
           |  SELECT r.n, e.v FROM reach r JOIN e ON r.m = e.u),
           |comp AS (SELECT n AS node, min(m) AS component FROM reach GROUP BY n),
           |q AS (SELECT doc_id,
           |  ((1000000 - (len(regexp_extract_all(text, '[^a-z0-9 ]')) * 1000000 // length(text))
           |    + (len(list_filter($toks, t -> list_contains($enStop, t))) * 1000000 // len($toks))
           |    + (least(length(text), 500) * 1000000 // 500)) // 3)::BIGINT AS qy
           |  FROM documents),
           |keepers AS (SELECT node AS keeper FROM (
           |  SELECT comp.node, row_number() OVER (PARTITION BY comp.component
           |    ORDER BY q.qy DESC, comp.node ASC) AS rn
           |  FROM comp JOIN q ON q.doc_id = comp.node) WHERE rn = 1),
           |drops AS (SELECT node FROM comp
           |  WHERE node NOT IN (SELECT keeper FROM keepers))
           |SELECT doc_id,
           |  CASE WHEN doc_id IN (SELECT node FROM comp) THEN 'keeper'
           |       ELSE 'solo' END AS kept_as
           |FROM documents WHERE doc_id NOT IN (SELECT node FROM drops)""".stripMargin,
  )
}
