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


/** Shared fixtures for the driver-contract query surface: counter
  * definitions, the events-table accessor, streaming conf scopes, the
  * acd epsilon gate, the c30 shard-source fixture, and the DuckDB oracle
  * SQL fragments shared across sets. Split from SparkEntry (round 10).
  */
private[graft] object EntryHelpers {


  private[graft] val Hour = "1 hour"

  // t44's literal retrieval workload — corpus-vocabulary terms so every
  // query has real hits; the oracle embeds the same VALUES table
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark query fast",
    2L -> "table scan filter",
    3L -> "vector merge batch window")

  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** [[Tables.eventsLean]] — the no-spread loader for light-per-row
    * consumers (see the r12 split: RelationalSet's temporal aggregations
    * read this; the jq/JSON counter paths keep the spread loader).
    */
  private[graft] def eventsLean(s: SparkSession, dir: String): DataFrame =
    Tables.eventsLean(s, dir)

  // --- counter definitions used by the query surface -----------------------
  private[graft] val cRequestCount =
    CounterDef("request_count", CounterType.Count, targetColumn = Some("*"), windowDuration = Hour)
  private[graft] val cColumnCount =
    CounterDef("user_events", CounterType.Count, targetColumn = Some("user_id"), windowDuration = Hour)
  private[graft] val cUserAcd =
    CounterDef("unique_users", CounterType.ApproxCountDistinct, targetColumn = Some("user_id"), windowDuration = Hour)
  private[graft] val cClickCount =
    CounterDef("click_count", CounterType.Count,
      targetExpr = Some("""if(string_contains(event_type, "click"), 1, nil)"""), windowDuration = Hour)
  private[graft] val cClickUsersAcd =
    CounterDef("click_users", CounterType.ApproxCountDistinct,
      targetExpr = Some("""if(event_type == "click", user_id, nil)"""), windowDuration = Hour)
  private[graft] val cBoolFloorCount =
    CounterDef("bool_floor_count", CounterType.Count,
      targetExpr = Some(
        """if(as_bool(if(value >= 50.0, "t", "f")) && floor(min(value, 150.0)) % 2 == 0, 1, nil)"""),
      windowDuration = Hour)
  private[graft] val cRequestCount2p = cRequestCount.copy(id = "request_count_2p")
  private[graft] val cUserAcd2p = cUserAcd.copy(id = "unique_users_2p")
  // engine-extension counter types as CONFIG citizens (CounterType
  // beyond the reference's enum): p90 of the record value / top-3 users
  private[graft] val cValueP90 =
    CounterDef("value_p90", CounterType.ValueQuantile,
      targetColumn = Some("value"), windowDuration = Hour, quantilePpm = 900000L)
  private[graft] val cTopUsers =
    CounterDef("top_users", CounterType.HeavyHitters,
      targetColumn = Some("user_id"), windowDuration = Hour, topK = 3)
  private[graft] val cValueSum =
    CounterDef("revenue_cents", CounterType.ValueSum,
      targetColumn = Some("value"), windowDuration = Hour)
  private[graft] val cBigValueCount =
    CounterDef("big_value_count", CounterType.Count, targetExpr = Some("k > 50"), windowDuration = Hour)
  private[graft] val cValueMin =
    CounterDef("value_min_cents", CounterType.ValueMin,
      targetColumn = Some("value"), windowDuration = Hour)
  private[graft] val cValueMax =
    CounterDef("value_max_cents", CounterType.ValueMax,
      targetColumn = Some("value"), windowDuration = Hour)

  /** Per-language sampling rates (ppm) for the stratified-sample query —
    * the kind of language-balancing mix a multilingual training run uses.
    */
  private[graft] val SampleRates = Map(
    "en" -> 900000L, "de" -> 600000L, "es" -> 600000L,
    "fr" -> 600000L, "zh" -> 300000L)

  /** BM25 query terms for t20: one rare term (high idf) and two common
    * ones, so the ranking exercises both idf spread and length
    * normalization.
    */
  private[graft] val Bm25Query = Seq("dup", "scan", "key")

  /** Run `body` with one session-conf key overridden, restoring (or
    * unsetting) it after — the scoped-config primitive the streaming
    * queries use for state sizing and store-provider selection.
    */
  private[graft] def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** Run `body` with [[Session.StatePartitions]] state stores. */
  private[graft] def withStatePartitions[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", Session.StatePartitions.toString)(body)

  /** Scoped RocksDB state store for the `transformWithState` faces, WITH
    * changelog checkpointing (r13, opt guide §5): without it every
    * micro-batch commit zips and uploads a FULL RocksDB snapshot per
    * store — measured 0.6–0.9 s of the e19-class queries' per-batch
    * commit (rocksdbSaveZipFilesLatency + CommitFileSync in the progress
    * metrics, ~55–75 % of commitTimeMs) for a few KB of live state.
    * Changelog checkpointing writes the per-batch DELTA and defers
    * snapshots to background maintenance — the production setting for
    * exactly this commit-latency reason; state VALUES are unaffected
    * (checkpoint protocol only), so results are oracle-identical.
    */
  private[graft] def withRocksDb[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      withConf(s,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")(body)
    }

  /** Measured ε-gate for the approximate-distinct queries. Two engines'
    * HLL sketches cannot hash-match, so the ESTIMATE stays out of the
    * hashed output; instead each window row carries the Spark-side exact
    * `count(distinct)` — which the DuckDB oracle reproduces — plus a
    * `within_eps` verdict holding iff the sketch estimate is within the
    * reference's own 5% test tolerance of that exact count
    * (`counter_test.go:66`; the lgK=16 sketch's expected error is ~0.4%).
    * A window whose estimate drifts past ε flips the flag to false and
    * fails the oracle's `TRUE` hash compare — a per-window
    * regression-guarded bound instead of a `no_oracle` abstention. The
    * full join makes a window MISSING on either side fail too (null
    * counter_id / false flag).
    */
  private[graft] def acdEpsilonGate(est: DataFrame, exact: DataFrame): DataFrame = {
    val e = est.select(col("window_start").as("ws"),
      col("window_end").as("we"), col("value").as("est"))
    exact.join(e,
        col("window_start") === col("ws") && col("window_end") === col("we"),
        "full")
      .select(
        coalesce(col("window_start"), col("ws")).as("window_start"),
        coalesce(col("window_end"), col("we")).as("window_end"),
        col("counter_id"), col("counter_type"),
        col("value").as("exact_value"),
        (col("est").isNotNull && col("value").isNotNull &&
          abs(col("est") - col("value")) * lit(1000000L) <=
            col("value") * lit(50000L)).as("within_eps"))
  }


  /** Build the `c30` fixture: a 5% events subset written as per-shard
    * JSON-lines logs (the connector's wire format, 4 shards by user id),
    * then read back via `graft-shards` and counted. The write is a
    * driver-side TEST FIXTURE only — the scan, parse and count all run
    * through the connector's executor-side readers.
    */
  // one fixture per (JVM, sfDir) — bench re-invocations of c30 reuse it
  private[graft] val c30Fixtures = new scala.collection.concurrent.TrieMap[String, String]

  private[graft] def shardSourceParity(s: SparkSession, dir: String): DataFrame = {
    val path = c30Fixtures.getOrElseUpdate(dir, writeC30Fixture(s, dir))
    Counters.run(
      s.read.format("graft-shards").load(path)
        .select(col("arrival_ts").as("ts")),
      "ts", cRequestCount.copy(id = "shard_source_count"))
  }

  private[graft] def writeC30Fixture(s: SparkSession, dir: String): String = {
    import java.nio.charset.StandardCharsets
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_shards_c30")
    tmp.toFile.deleteOnExit()
    val enc = java.util.Base64.getEncoder
    events(s, dir).where(col("event_id") % 20 === 0)
      .select(col("event_id"), unix_millis(col("ts")).as("ms"),
        coalesce(col("user_id"), lit(-1L)).as("uid"))
      .collect()
      .groupBy(r => Math.floorMod(r.getLong(2), 4L))
      .foreach { case (shard, rs) =>
        val lines = rs.sortBy(_.getLong(0)).map { r =>
          val data = enc.encodeToString(
            s"""{"user_id":${r.getLong(2)}}""".getBytes(StandardCharsets.UTF_8))
          s"""{"partitionKey":"${r.getLong(2)}","sequenceNumber":"${r.getLong(0)}",""" +
            s""""approximateArrivalTimestamp":${r.getLong(1)},"data":"$data"}"""
        }
        val f = tmp.resolve(f"shard-$shard%03d.jsonl")
        f.toFile.deleteOnExit()
        Files.write(f, java.util.Arrays.asList(lines: _*))
      }
    tmp.toString
  }


  /** The four-variant raw-URL fixture expression shared by d25, d27 and
    * t46 (one definition so the three queries and their common oracle
    * formula cannot silently desynchronize): per resource
    * `doc_id div 4`, variant 0 carries scheme/host case + www + duplicate
    * slash + tracking params, 1 an explicit default :443 port, 2 a
    * trailing slash, 3 a fragment — all four canonicalize to ONE url.
    */
  private[graft] def rawUrlFixture: Column = {
    val res = expr("doc_id div 4")
    val variant = col("doc_id") % 4
    concat(
      when(variant === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
      lit("site"), res % 5, lit(".example.com"),
      when(variant === 1, lit(":443")).otherwise(lit("")),
      when(variant === 0, lit("//page//")).otherwise(lit("/page/")),
      res,
      when(variant === 2, lit("/")).otherwise(lit("")),
      when(variant === 0, lit("?utm_source=feed&fbclid=x")).otherwise(lit("")),
      when(variant === 3, lit("#frag")).otherwise(lit("")))
  }

  /** Line-structured text fixture for the segment-repetition battery
    * (t47): the fixture corpus has no newlines, so each doc synthesizes a
    * multi-line multi-paragraph body analytically (the [[rawUrlFixture]]
    * convention) — paragraph 1 is (text, prefix) on two lines, every
    * third doc repeats the whole paragraph (duplicate-paragraph signal),
    * every second doc appends a third paragraph that re-uses an existing
    * LINE (duplicate-line signal; the %7 variant repeats `text`, the
    * rest repeat the prefix). Prefix length 7·(1 + doc_id%5) < min doc
    * length, so prefix ≠ text always.
    */
  private[graft] def linedTextFixture: Column = {
    val pfx = expr("substr(text, 1, 7 * (1 + doc_id % 5))")
    val p1 = concat_ws("\n", col("text"), pfx)
    concat_ws("\n\n",
      p1,
      when(col("doc_id") % 3 === 0, p1),
      when(col("doc_id") % 2 === 0,
        when(col("doc_id") % 7 === 0, col("text")).otherwise(pfx)))
  }

  /** [[linedTextFixture]]'s DuckDB twin (chr(10) newlines; concat_ws
    * skips NULL CASE arms on both engines). */
  private[graft] val linedTextFixtureSql: String =
    """concat_ws(chr(10) || chr(10),
      |    concat_ws(chr(10), text, substr(text, 1, 7 * (1 + doc_id % 5))),
      |    CASE WHEN doc_id % 3 = 0
      |      THEN concat_ws(chr(10), text, substr(text, 1, 7 * (1 + doc_id % 5))) END,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN (CASE WHEN doc_id % 7 = 0 THEN text
      |            ELSE substr(text, 1, 7 * (1 + doc_id % 5)) END) END)""".stripMargin

  /** The 97-host link-graph fixture shared by g01/g02/g04/g05 (one
    * definition so the four queries and their oracle CTEs cannot
    * desynchronize): each document links its residue host `h(id%97)` to
    * `h((7·id+3)%97)` and `h((13·id+11)%97)` — hosts ≪ docs, the real
    * web-graph shape; in production these edges come from
    * `UrlOps.hostOf` over page/out-link URL pairs.
    */
  private[graft] def hostEdgesFixture(docs: DataFrame): DataFrame = {
    def host(c: Column) = concat(lit("h"), c.cast("string"))
    val d = docs.select(col("doc_id"))
    d.select(host(col("doc_id") % 97).as("src"),
        host((col("doc_id") * 7 + 3) % 97).as("dst"))
      .unionAll(d.select(host(col("doc_id") % 97).as("src"),
        host((col("doc_id") * 13 + 11) % 97).as("dst")))
      .distinct()
  }

  /** [[hostEdgesFixture]]'s DuckDB twin, as a `edges AS (...)` CTE body. */
  private[graft] val hostEdgesCte: String =
    """SELECT DISTINCT src, dst FROM (
      |    SELECT 'h' || (doc_id % 97) AS src,
      |           'h' || ((doc_id * 7 + 3) % 97) AS dst FROM documents
      |    UNION ALL
      |    SELECT 'h' || (doc_id % 97),
      |           'h' || ((doc_id * 13 + 11) % 97) FROM documents) u""".stripMargin

  // ---- DuckDB oracle SQL fragments shared across sets ----

    val win =
      """epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
        | epoch_ms(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS window_end""".stripMargin

    val toks = "string_split(text, ' ')"
    val enStop = "['the','a','of','and','to','in','is','for','on','with']"
    // distinct word 3-gram shingles of a token list column t
    val kgrams =
      "list_transform(generate_series(1, len(t)-2), i -> t[i]||' '||t[i+1]||' '||t[i+2])"
    val h60 = (e: String) => s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"
    // ANN top-k oracles, hoisted: s07's recall eval embeds both as CTEs
    val s01Sql =
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity(qe, e.embedding) DESC, e.vec_id) AS rank
        |  FROM q JOIN embeddings e ON e.vec_id != q.query_id)
        |SELECT query_id, rank::BIGINT AS rank, neighbor_id FROM scored WHERE rank <= 5""".stripMargin
    def s02SqlN(np: Int): String =
      s"""WITH cent AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id % 25 = 0),
        |assigned AS (SELECT vec_id, embedding, cell FROM (
        |  SELECT e.vec_id, e.embedding, c.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, c.ce) DESC, c.cell) AS rn
        |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS (SELECT query_id, qe, cell FROM (
        |  SELECT q.query_id, q.qe, c.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC, c.cell) AS rn
        |  FROM q CROSS JOIN cent c) WHERE rn <= $np),
        |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY p.query_id
        |    ORDER BY list_cosine_similarity(p.qe, a.embedding) DESC, a.vec_id) AS rank
        |  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id != p.query_id)
        |SELECT query_id, rank::BIGINT AS rank, neighbor_id FROM scored WHERE rank <= 5""".stripMargin
    val s02Sql = s02SqlN(3)
    // s23: the s01 truth (rank 1 only) left-joined to the s02 IVF list —
    // integer reciprocal-rank points, 0 on a miss
    val s23Sql =
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
        |bs AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity(qe, e.embedding) DESC, e.vec_id) AS rank
        |  FROM q JOIN embeddings e ON e.vec_id != q.query_id),
        |t AS (SELECT query_id, neighbor_id AS relevant_id FROM bs WHERE rank = 1),
        |cent AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id % 25 = 0),
        |assigned AS (SELECT vec_id, embedding, cell FROM (
        |  SELECT e.vec_id, e.embedding, c.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, c.ce) DESC, c.cell) AS rn
        |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (SELECT query_id, qe, cell FROM (
        |  SELECT q.query_id, q.qe, c.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC, c.cell) AS rn
        |  FROM q CROSS JOIN cent c) WHERE rn <= 3),
        |ivf AS (SELECT query_id, neighbor_id, rank FROM (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_cosine_similarity(p.qe, a.embedding) DESC, a.vec_id) AS rank
        |  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id != p.query_id) z
        |  WHERE rank <= 5)
        |SELECT t.query_id, t.relevant_id,
        |  coalesce(ivf.rank, 0)::BIGINT AS found_rank,
        |  coalesce(1000000000 // ivf.rank, 0)::BIGINT AS points
        |FROM t LEFT JOIN ivf ON ivf.query_id = t.query_id
        |  AND ivf.neighbor_id = t.relevant_id""".stripMargin
    // IVF-PQ ADC pipeline, parameterized by the final shortlist depth —
    // s08 uses it at k=5, s13 re-ranks its 20-deep shortlist exactly
    def s08Sql(lim: Int): String =
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |           FROM embeddings),
         |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
         |cb AS (SELECT m, vec_id AS code, v[m*8+1 : m*8+8] AS cv
         |       FROM v CROSS JOIN ms WHERE vec_id < 16),
         |sv AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s FROM v CROSS JOIN ms),
         |d AS (SELECT vec_id, sv.m, code,
         |      list_sum(list_transform(generate_series(1, 8),
         |        i -> (s[i] - cv[i]) * (s[i] - cv[i]))) AS dist
         |      FROM sv JOIN cb ON sv.m = cb.m),
         |pq AS (SELECT vec_id, m, code FROM (
         |       SELECT vec_id, m, code,
         |         row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
         |       FROM d) WHERE rn = 1),
         |codes AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM pq GROUP BY vec_id),
         |cent AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id % 25 = 0),
         |assigned AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_cosine_similarity(e.embedding, c.ce) DESC, c.cell) AS rn
         |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
         |qd AS (SELECT query_id, s.m, code,
         |       list_sum(list_transform(generate_series(1, 8),
         |         i -> (qs[i] - cv[i]) * (qs[i] - cv[i]))) AS dist
         |       FROM (SELECT query_id, m,
         |             list_transform(qe, x -> x::DOUBLE)[m*8+1 : m*8+8] AS qs
         |             FROM q CROSS JOIN ms) s
         |       JOIN cb ON s.m = cb.m),
         |dtab AS (SELECT query_id, list(dist ORDER BY m, code) AS dtab FROM qd GROUP BY query_id),
         |probes AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, c.cell,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC, c.cell) AS rn
         |  FROM q CROSS JOIN cent c) WHERE rn <= 3),
         |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY p.query_id ORDER BY
         |    list_sum(list_transform(generate_series(0, 7),
         |      m -> t.dtab[m*16 + cd.codes[m+1] + 1])) ASC,
         |    a.vec_id ASC) AS rank
         |  FROM probes p JOIN dtab t USING (query_id)
         |  JOIN assigned a ON p.cell = a.cell AND a.vec_id != p.query_id
         |  JOIN codes cd ON cd.vec_id = a.vec_id)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id FROM scored WHERE rank <= $lim""".stripMargin
    val s13Sql =
      s"""WITH short AS (${s08Sql(20)}),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT s.query_id,
         |    row_number() OVER (PARTITION BY s.query_id
         |      ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
         |               s.neighbor_id ASC)::BIGINT AS rank,
         |    s.neighbor_id
         |  FROM short s
         |  JOIN q ON q.query_id = s.query_id
         |  JOIN embeddings e ON e.vec_id = s.neighbor_id)
         |WHERE rank <= 5""".stripMargin
    // media shared-frame clusters (m05) — hoisted: m06's dedup-apply
    // embeds it as a CTE
    val m05Sql =
      """WITH RECURSIVE fr AS (SELECT doc_id, md5(substr(text, (i*100+1)::INT, 100)) AS frame_md5
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
        |  WHERE i % 2 = 0 AND i*100 < length(text)),
        |ctr AS (SELECT frame_md5, min(doc_id) AS a FROM fr GROUP BY 1),
        |p AS (SELECT DISTINCT ctr.a, fr.doc_id AS b
        |      FROM fr JOIN ctr USING (frame_md5) WHERE fr.doc_id != ctr.a),
        |nodes AS (SELECT a AS n FROM p UNION SELECT b FROM p),
        |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b AS u, a AS v FROM p),
        |reach(n, m) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.n, e.v FROM reach r JOIN e ON r.m = e.u)
        |SELECT n AS node, min(m) AS component FROM reach GROUP BY n""".stripMargin
    // shared MinHash CTE chain (shingle → KM double-hash family → signature
    // → LSH bands → candidate pairs → signature-estimated similarity)
    // t32's NB scoring SQL, hoisted: t33 (the streaming face) must
    // hash-match the same oracle rows
    // The NB train-and-score CTE chain over a feature CTE
    // `(doc_id, label, b)` — shared by the word model (t32/t33/t34) and
    // the char-3-gram language identifier (t52); mirrors
    // TextAnalysis.nbScored exactly (add-one smoothing, floor-log2
    // quantization, argmax ties to the GREATER label via rn over
    // score DESC, label DESC).
    val nbChainSql = (tkSql: String) =>
      s"""tk AS ($tkSql),
           |cls AS (SELECT lang AS label, count(*)::BIGINT AS dn FROM documents GROUP BY 1),
           |tot AS (SELECT count(*)::BIGINT AS d FROM documents),
           |cnt AS (SELECT label, b, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
           |ttl AS (SELECT label, count(*)::BIGINT AS t FROM tk GROUP BY 1),
           |dense AS (SELECT ttl.label, g.b,
           |    (length(bin((coalesce(c.c, 0) + 1)::BIGINT)) - 1)
           |  - (length(bin((ttl.t + 1024)::BIGINT)) - 1) AS w
           |  FROM ttl CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS b) g
           |  LEFT JOIN cnt c ON c.label = ttl.label AND c.b = g.b),
           |prior AS (SELECT label,
           |    (length(bin(dn)) - 1) - (length(bin((SELECT d FROM tot))) - 1) AS p
           |  FROM cls),
           |sc AS (SELECT tk.doc_id, dense.label,
           |    (max(prior.p) + sum(dense.w))::BIGINT AS score
           |  FROM tk JOIN dense ON dense.b = tk.b
           |  JOIN prior ON prior.label = dense.label
           |  GROUP BY 1, 2),
           |best AS (SELECT doc_id, label AS pred, score AS score_bits,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, label DESC) AS rn
           |  FROM sc)""".stripMargin
    // word-token features: the t32/t33/t34 model
    val nbWordTkSql =
      s"""SELECT doc_id, lang AS label,
         |    ${h60("'nb:' || token")} % 1024 AS b
         |  FROM (SELECT doc_id, lang, unnest($toks) AS token FROM documents)""".stripMargin
    // char-3-gram features: the t52 language identifier (cg: domain prefix)
    val nbCharTkSql =
      s"""SELECT doc_id, lang AS label,
         |    ${h60("'cg:' || g")} % 1024 AS b
         |  FROM (SELECT doc_id, lang,
         |          unnest(list_transform(generate_series(1, length(text) - 2),
         |            i -> substr(text, i, 3))) AS g
         |        FROM documents WHERE length(text) >= 3)""".stripMargin
    val t32Sql =
      s"""WITH ${nbChainSql(nbWordTkSql)}
           |SELECT b.doc_id, b.pred, b.score_bits,
           |  (b.pred = d.lang)::BIGINT AS self_match
           |FROM best b JOIN documents d USING (doc_id) WHERE b.rn = 1""".stripMargin
    // t25's perplexity SQL, hoisted: t36's tercile split nests it
    val t25Sql =
      s"""WITH tr AS (SELECT doc_id,
           |    ${h60("'lm2:' || g")} AS g2,
           |    ${h60("'lm1:' || string_split(g, ' ')[1]")} AS g1
           |  FROM (SELECT doc_id,
           |    unnest(list_transform(generate_series(1, len(t)-1),
           |      i -> t[i]||' '||t[i+1])) AS g
           |    FROM (SELECT doc_id, $toks AS t FROM documents))),
           |big AS (SELECT g2, count(*) AS c2 FROM tr GROUP BY 1),
           |pre AS (SELECT g1, count(*) AS c1 FROM tr GROUP BY 1),
           |voc AS (SELECT count(DISTINCT w) AS v FROM (
           |  SELECT unnest($toks) AS w FROM documents)),
           |bits AS (SELECT doc_id,
           |    (length(bin((c1+v)::BIGINT))-1) - (length(bin((c2+1)::BIGINT))-1) AS bits
           |  FROM tr JOIN big USING (g2) JOIN pre USING (g1), voc)
           |SELECT doc_id, count(*)::BIGINT AS n_transitions,
           |       sum(bits)::BIGINT AS total_bits,
           |       (sum(bits) * 1000000 // count(*))::BIGINT AS mean_bits_ppm
           |FROM bits GROUP BY 1""".stripMargin
    val minhashCtes =
      s"""kg AS (SELECT doc_id, list_distinct($kgrams) AS gs FROM (SELECT doc_id, $toks AS t FROM documents)),
         |sh AS (SELECT doc_id, unnest(gs) AS g FROM kg),
         |h2 AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1,
         |       (('0x' || substr(md5(g), 16, 14))::BIGINT % (1::BIGINT << 55)) AS h2 FROM sh),
         |hs AS (SELECT doc_id, i, min((h1 + i * h2) % 2305843009213693951) AS h
         |       FROM h2 CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) GROUP BY doc_id, i),
         |sig AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY doc_id),
         |bands AS (SELECT doc_id, b, md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS key
         |          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
         |         JOIN bands y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
         |est AS (SELECT a, b,
         |  (len(list_filter(generate_series(1, 64), i -> sa.sig[i] = sb.sig[i])) * 1000000 // 64)::BIGINT AS est_ppm
         |  FROM cand JOIN sig sa ON cand.a = sa.doc_id JOIN sig sb ON cand.b = sb.doc_id)""".stripMargin
    // the CCNet verdict CTEs (t03 langid + t26 rules + t25 perplexity
    // verdicts), shared by t28 and the t29 pipeline composition
    val ccnetCtes =
      s"""s AS (SELECT doc_id,
       |  len(list_filter($toks, t -> list_contains(['der','die','das','und','ist','von','mit','den','ein','nicht'], t)))::BIGINT AS s_de,
       |  len(list_filter($toks, t -> list_contains($enStop, t)))::BIGINT AS s_en,
       |  len(list_filter($toks, t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t)))::BIGINT AS s_es,
       |  len(list_filter($toks, t -> list_contains(['le','la','de','et','les','des','un','une','du','dans'], t)))::BIGINT AS s_fr,
       |  len(list_filter($toks, t -> list_contains(['de','shi','le','zai','you','wo','ta','men','zhe','na'], t)))::BIGINT AS s_zh
       |  FROM documents),
       |langid AS (SELECT doc_id,
       |  CASE WHEN g = 0 THEN 'und' WHEN s_de = g THEN 'de' WHEN s_en = g THEN 'en'
       |       WHEN s_es = g THEN 'es' WHEN s_fr = g THEN 'fr' ELSE 'zh' END AS pred_lang,
       |  g FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS g FROM s)),
       |lok AS (SELECT d.doc_id,
       |  (l.pred_lang = d.lang AND l.g > 0)::BIGINT AS lang_ok
       |  FROM documents d JOIN langid l USING (doc_id)),
       |gm AS (SELECT doc_id, len(t)::BIGINT AS n,
       |    greatest(length(text) - (len(t) - 1), 0)::BIGINT AS wc,
       |    len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::BIGINT AS na,
       |    len(list_filter(list_distinct(t),
       |        w -> list_contains($enStop, w)))::BIGINT AS ns
       |  FROM (SELECT doc_id, text, $toks AS t FROM documents)),
       |rules AS (SELECT doc_id,
       |  ((n >= 50 AND n <= 100000)
       |    AND ((wc * 1000000 // greatest(n, 1)) BETWEEN 3000000 AND 10000000)
       |    AND (na * 1000000 // greatest(n, 1)) >= 800000
       |    AND ns >= 2)::BIGINT AS rules_ok FROM gm),
       |tr AS (SELECT doc_id,
       |    ${h60("'lm2:' || g")} AS g2,
       |    ${h60("'lm1:' || string_split(g, ' ')[1]")} AS g1
       |  FROM (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(t)-1),
       |      i -> t[i]||' '||t[i+1])) AS g
       |    FROM (SELECT doc_id, $toks AS t FROM documents))),
       |big AS (SELECT g2, count(*) AS c2 FROM tr GROUP BY 1),
       |pre AS (SELECT g1, count(*) AS c1 FROM tr GROUP BY 1),
       |voc AS (SELECT count(DISTINCT w) AS v FROM (
       |  SELECT unnest($toks) AS w FROM documents)),
       |ppl AS (SELECT doc_id,
       |    (sum((length(bin((c1+v)::BIGINT))-1) - (length(bin((c2+1)::BIGINT))-1))
       |      * 1000000 // count(*))::BIGINT AS mb
       |  FROM tr JOIN big USING (g2) JOIN pre USING (g1), voc GROUP BY 1),
       |pok AS (SELECT doc_id,
       |  (mb BETWEEN 1000000 AND 4500000)::BIGINT AS ppl_ok FROM ppl)""".stripMargin
}
