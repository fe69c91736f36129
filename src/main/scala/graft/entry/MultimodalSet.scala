package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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

/** Multimodal decode/dedup queries (m01-m19) + their DuckDB oracles.
  *
  * Split mechanically from SparkEntry (round 10); entries are verbatim.
  * Shared fixtures/counter defs/oracle CTE fragments live in
  * [[EntryHelpers]]; [[SparkEntry]] concatenates the per-set maps.
  */
private[graft] object MultimodalSet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- multimodal columns ----
    "m01_media_meta" -> ((s, dir) =>
      Multimodal.extractMeta(Multimodal.asMedia(Tables.documents(s, dir))).toDF()),
    "m02_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.asMedia(Tables.documents(s, dir))).toDF()),
    // resize plumbing: binary in → binary out, 1→1, partition-local
    "m03_resize" -> ((s, dir) =>
      Multimodal.resize(Multimodal.asMedia(Tables.documents(s, dir)))
        .select(col("doc_id"), col("n_bytes"), md5(col("media")).as("media_md5"))),
    // media near-dup signal: frames shared across documents
    "m04_shared_frames" -> ((s, dir) =>
      Multimodal.sharedFrames(Multimodal.asMedia(Tables.documents(s, dir)))),
    // media near-dup clusters: shared-frame star edges → the same
    // connected-components path as text near-dups
    "m05_media_clusters" -> ((s, dir) =>
      Multimodal.mediaDupClusters(Multimodal.asMedia(Tables.documents(s, dir)))),
    // media dedup APPLIED: clusters → keeper per component → surviving
    // docs via left-anti join (the multimodal mirror of d09)
    "m06_media_dedup_apply" -> ((s, dir) =>
      Multimodal.applyMediaDedup(Multimodal.asMedia(Tables.documents(s, dir)))),
    // perceptual near-dup: aHash frames + pigeonhole Hamming join —
    // catches near-identical frames where m04's exact digests can't
    "m07_perceptual_pairs" -> ((s, dir) =>
      Multimodal.perceptualDupPairs(Multimodal.asMedia(Tables.documents(s, dir)))),
    // REAL image decode end-to-end: per doc a deterministic grayscale PNG
    // (dims and pixel values are formulas of doc_id) goes through the
    // JRE's actual PNG encoder, then ImageIoCodec's actual decoder —
    // recovered dims and the luma aHash must match the oracle computing
    // the same formulas in pure SQL. Encode is fixture; decode is the
    // tested path (real pixels, not StubCodec fakes).
    "m08_imageio_decode" -> ((s, dir) => {
      import s.implicits._
      val pngs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 13 + 8).toInt
          val h = (id % 7 + 8).toInt
          (id, Multimodal.syntheticGrayPng(w, h,
            (x, y) => (((id * 31 + y.toLong * w + x) * 17) % 256).toInt))
        }).toDF("doc_id", "media").withColumn("media_type", lit("image"))
      Multimodal.decodeImages(pngs).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("ahash"))
    }),
    // REAL image resize: the m08 formula PNGs through the explicit
    // nearest-neighbor raster mapping (src(x·sw/dw, y·sh/dh)) to 8×6 gray
    // PNGs — the luma-sum checksum is RE-DECODED from the resized bytes,
    // and the oracle recomputes the identical integer mapping in SQL
    "m13_resize_real" -> ((s, dir) => {
      import s.implicits._
      val pngs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 13 + 8).toInt
          val h = (id % 7 + 8).toInt
          (id, Multimodal.syntheticGrayPng(w, h,
            (x, y) => (((id * 31 + y.toLong * w + x) * 17) % 256).toInt))
        }).toDF("doc_id", "media").withColumn("media_type", lit("image"))
      Multimodal.resizeImages(pngs, dw = 8, dh = 6).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("luma_sum"))
    }),
    // REAL multi-frame decode: per doc a deterministic animated grayscale
    // GIF ((id%3)+2 frames; dims and pixels are formulas of (doc_id,
    // frame, pixel)) goes through the JRE's real GIF sequence writer,
    // then the reader's frame index + per-frame luma aHash — the
    // video-shaped plumbing on actually-decoded rasters. Encode is
    // fixture; the decode path is what's tested.
    // ANIMATION-level near-dup through the REAL GIF decode path: docs in
    // one group (doc_id div 10) share 2 of 3 frames by formula, the third
    // is per-doc — same-group pairs land at Jaccard 0.5 (2 of 4 distinct
    // hashes), cross-group pairs share nothing. Group size is FIXED at 10
    // regardless of corpus scale, so output stays linear in docs.
    // TEMPORAL animation alignment: same-group GIFs share a 3-frame run
    // at DIFFERENT offsets (even ids at frames 1-3, odd at 0-2), so the
    // order-aware run detector must find every within-group pair with the
    // right start positions — the case m11's set-Jaccard cannot localize
    // Perceptual image near-dup END-TO-END over real decode: per doc a
    // 10×6 two-level (0/255) PNG — its 60 pixels ARE the aHash bits, so
    // the oracle can fold the same hash in SQL. Docs share a group
    // pattern (doc_id div 8); 3 of 4 docs flip ONE bit at id%60, so
    // same-group pairs land at Hamming ≤ 2 and pigeonhole recall is
    // provably exact (maxHamming+1 = 3 chunks). The oracle verifies by
    // brute-force all-pairs on the recomputed hashes — equivalent by the
    // pigeonhole exactness argument, affordable at oracle scale.
    "m20_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val pngs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val g = id / 8
          val flip = if (id % 4 != 0) (id % 60).toInt else -1
          (id, Multimodal.syntheticGrayPng(10, 6, (x, y) => {
            val i = y * 10 + x
            // squared mix (the m12 luma construction): the parity of a
            // LINEAR sequence mod an odd prime is near-alternating for
            // every group (massive cross-group collisions, learned here),
            // and a narrow modulus would alias groups outright — t² mod
            // prime gives properly mixed bits, distinct per group for all
            // g < 65521 (8·65521 docs, far past any fixture SF)
            val t = (g * 997L + i.toLong * 101L) % 65521L
            val bit = ((t * t % 65521L) % 2L).toInt
            (if (i == flip) 1 - bit else bit) * 255
          }))
        }).toDF("doc_id", "media").withColumn("media_type", lit("image"))
      Multimodal.imageDupPairs(pngs, maxHamming = 2)
    }),
    // Scene-change detection through the REAL GIF decode path: 6 frames
    // in 2 scenes of 3 (pixels are formulas of (doc_id, scene, pixel) +
    // a 1-luma per-frame jitter so within-shot distance is small but
    // nonzero); the exact consecutive-frame L1 luma distance crosses the
    // 1000 threshold exactly at the k=3 boundary, and the oracle replays
    // every |int−int| analytically
    "m21_scene_changes" -> ((s, dir) => {
      import s.implicits._
      val gifs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticGrayGif(8, 8, 6, (k, x, y) => {
            val i = y * 8 + x
            val t = (id * 7919L + (k / 3).toLong * 104729L + i.toLong * 31L) % 65521L
            ((t * t % 65521L) % 255L).toInt + (if (i == k) 1 else 0)
          }))
        }).toDF("doc_id", "media").withColumn("media_type", lit("video"))
      Multimodal.sceneChanges(gifs, threshold = 1000L).toDF()
    }),
    "m12_gif_run_align" -> ((s, dir) => {
      import s.implicits._
      val gifs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val g = id / 10
          def luma(seed: Long, i: Long): Int = {
            val t = seed % 65521L + i * 31L
            ((t * t % 65521L) % 256L).toInt
          }
          val off = (id % 2).toInt // 0: shared at frames 1..3; 1: at 0..2
          (id, Multimodal.syntheticGrayGif(8, 8, 5, (k, x, y) => {
            val i = y.toLong * 8 + x
            val j = k - (1 - off)
            if (j >= 0 && j < 3) luma(g * 997 + j * 101, i)
            else luma(id * 1000003L + k * 13 + 7, i)
          }))
        }).toDF("doc_id", "media").withColumn("media_type", lit("video"))
      Multimodal.animationRunPairs(Multimodal.decodeGifFrames(gifs).toDF())
    }),
    "m11_gif_neardup" -> ((s, dir) => {
      import s.implicits._
      val gifs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val g = id / 10
          // non-linear in the pixel index over a wide modulus: a LINEAR
          // formula mod 256 yields ≤256 distinct threshold patterns, and
          // the hash index join would go quadratic on those hot keys at
          // corpus scale — the mix below makes hashes ~unique per (g, k)
          def luma(seed: Long, i: Long): Int = {
            val t = seed % 65521L + i * 31L
            ((t * t % 65521L) % 256L).toInt
          }
          (id, Multimodal.syntheticGrayGif(8, 8, 3, (k, x, y) =>
            if (k < 2) luma(g * 997 + k * 101, y.toLong * 8 + x)
            else luma(id * 1000003L + 7, y.toLong * 8 + x)))
        }).toDF("doc_id", "media").withColumn("media_type", lit("video"))
      Multimodal.animationDupPairs(Multimodal.decodeGifFrames(gifs).toDF())
    }),
    "m10_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val gifs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 9 + 8).toInt
          val h = (id % 5 + 8).toInt
          val n = (id % 3 + 2).toInt
          (id, Multimodal.syntheticGrayGif(w, h, n,
            (k, x, y) => (((id * 31 + k.toLong * 101 + y.toLong * w + x) * 17) % 256).toInt))
        }).toDF("doc_id", "media").withColumn("media_type", lit("video"))
      Multimodal.decodeGifFrames(gifs).toDF()
        .select(col("doc_id"), col("n_frames"), col("frame_idx"), col("ahash"))
    }),
    // REAL WAV decode (JRE javax.sound): deterministic 16-bit PCM fixtures
    // (rate/channels/length/samples all pure formulas of doc_id) written
    // through the real RIFF encoder, decoded back — header fields and the
    // amplitude-delta fingerprint must reproduce the formula exactly
    "m09_wav_decode" -> ((s, dir) => {
      import s.implicits._
      val wavs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (80 + id % 40).toInt
          val samples = Array.tabulate(ns)(i =>
            (((id * 37 + i) * 251) % 4096 - 2048).toInt)
          (id, Multimodal.syntheticPcmWav(
            (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt, samples))
        }).toDF("doc_id", "media").withColumn("media_type", lit("audio"))
      Multimodal.decodeAudio(wavs).toDF()
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("fp"))
    }),
    // REAL audio resample to 4 kHz over the m09 WAV fixtures: rates
    // 8000..12000 downsample by the explicit nearest-neighbor index
    // formula, re-encode through the real RIFF writer, re-decode — the
    // header rate/count and the position-weighted sample checksum must
    // reproduce the oracle's replay of the same integer mapping
    "m15_audio_resample" -> ((s, dir) => {
      import s.implicits._
      val wavs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (80 + id % 40).toInt
          val samples = Array.tabulate(ns)(i =>
            (((id * 37 + i) * 251) % 4096 - 2048).toInt)
          (id, Multimodal.syntheticPcmWav(
            (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt, samples))
        }).toDF("doc_id", "media").withColumn("media_type", lit("audio"))
      Multimodal.resampleAudio(wavs, dstRate = 4000).toDF()
        .select(col("doc_id"), col("dst_rate"), col("n_samples"), col("checksum"))
    }),
    // Windowed ZERO-CROSSING RATE over REAL decoded WAV — the
    // voiced/unvoiced read beside m14's energy gate. Every third
    // 16-sample stretch is a CONSTANT +500 (zero crossings), the rest is
    // the alternating-sign m09 formula (high ZCR), so the voiced verdict
    // genuinely splits; the oracle replays adjacent-sign changes and the
    // strict ppm gate from the formula
    "m16_audio_zcr" -> ((s, dir) => {
      import s.implicits._
      val wavs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (80 + id % 40).toInt
          val samples = Array.tabulate(ns)(i =>
            if ((i / 16) % 3 == 0) 500
            else ((((id * 37 + i) * 251) % 4096 - 2048) * (1 - 2 * (i % 2))).toInt)
          (id, Multimodal.syntheticPcmWav(
            (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt, samples))
        }).toDF("doc_id", "media").withColumn("media_type", lit("audio"))
      Multimodal.audioZeroCrossings(wavs, windowSamples = 32,
          voicedMaxZcrPpm = 600000L).toDF()
        .select(col("doc_id"), col("win_idx"), col("n_samples"),
          col("crossings"), col("voiced"))
    }),
    // STREAMING content-addressed media dedup: decoded-raster digests
    // (md5 of the canonical "w:h:pixels" string — container-independent,
    // the dedup byte-level hashing misses when the same image ships as
    // PNG and BMP) deduped by dropDuplicatesWithinWatermark. Fixture:
    // groups of 4 docs where the first two render ONE shared image and
    // the rest are unique (distinct (slope, intercept) ramps — provably
    // collision-free under 3328 keys), so each group survives as exactly
    // 3 digests; the surviving (resource, digest) SET is
    // arrival-independent, the d15/d27 parity shape.
    "m19_stream_media_dedup" -> ((s, dir) => withStatePartitions(s) {
      import s.implicits._
      // collision-freedom guard, ENFORCED not assumed (round 11 widened
      // the key space per ADVICE r10): two resources share a raster iff
      // their keys agree on (w, h, slope, intercept) — key mod 7 (width),
      // mod 11 (height), mod 13 (slope) and mod 256 (intercept; 11 is
      // invertible mod 256), i.e. keys congruent mod
      // 7·11·13·256 = 256 256 by CRT. Keys span [−(N/4)−1, N), so
      // N + N/4 + 1 < 256 256 (N ≲ 200k docs — any realistic fixture)
      // means no two distinct keys collide; past that the run fails
      // LOUDLY instead of silently breaking parity with the oracle's
      // per-resource DISTINCT.
      val nDocs = Tables.documents(s, dir).count()
      require(nDocs + nDocs / 4 + 1 < 256256,
        s"m19 fixture key space exhausted at $nDocs docs (needs < ~200k): " +
          "two resources would share a raster digest")
      val stream = Tables.spreadStream(Tables.documentsStream(s, dir),
          s"$dir/documents.parquet", col("doc_id"))
        .withColumn("ts", timestamp_micros(col("doc_id") + lit(86400000000L)))
        .select(col("doc_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
      val hashed = stream.mapPartitions(_.flatMap { case (id, ts) =>
        val key = if (id % 4 < 2) -(id / 4) - 1 else id
        val w = ((((key % 7) + 7) % 7) + 8).toInt
        val h = ((((key % 11) + 11) % 11) + 8).toInt
        val slope = (((key % 13) + 13) % 13 + 3).toInt
        val icept = ((((key * 11) % 256) + 256) % 256).toInt
        val png = Multimodal.syntheticGrayPng(w, h,
          (x, y) => (slope * (y * w + x) + icept) % 256)
        Multimodal.rasterDigestOf(png).map { case (_, _, m) => (id, ts, m) }
      }).toDF("doc_id", "ts", "raster_md5")
      val sink = "m19_media_sink"
      val q = hashed.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("raster_md5")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(expr("doc_id div 4").as("resource"), col("raster_md5"))
    }),
    // Luma histogram + solid-image detector over REAL decoded PNGs —
    // the blank-screenshot/placeholder gate: 16 exact luma bins,
    // dominant bin by (count desc, bin asc), occupied-bin count, and
    // the one-cross-multiplication flat verdict. Every third doc is a
    // solid constant (flat trips); the rest use the m13 pixel formula.
    "m18_image_histogram" -> ((s, dir) => {
      import s.implicits._
      val pngs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 13 + 8).toInt
          val h = (id % 7 + 8).toInt
          (id, Multimodal.syntheticGrayPng(w, h,
            (x, y) => if (id % 3 == 0) (id % 256).toInt
                      else (((id * 31 + y.toLong * w + x) * 17) % 256).toInt))
        }).toDF("doc_id", "media").withColumn("media_type", lit("image"))
      Multimodal.imageHistogram(pngs).toDF()
        .select(col("doc_id"), col("n_pixels"), col("top_bin"),
          col("top_count"), col("n_bins_used"), col("flat"))
    }),
    // Dominant-lag autocorrelation pitch over REAL decoded WAV — exact
    // integer lag products R(L) for L in [2,24], (R desc, lag asc)
    // argmax, and the 2R > R0 clarity gate. Three quarters of the docs
    // are sawtooths of period 10+id%7 (the argmax finds the period,
    // high clarity); id%4==0 docs carry the m14 LCG ramp, which is
    // near-periodic at lag 16 (251*16 = 80 mod 4096) — structured
    // interference, not noise, and the oracle replays whatever the
    // formula says.
    "m17_audio_pitch" -> ((s, dir) => {
      import s.implicits._
      val wavs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (80 + id % 40).toInt
          val p = (10 + id % 7).toInt
          val samples = Array.tabulate(ns)(i =>
            if (id % 4 == 0) (((id * 37 + i) * 251) % 4096 - 2048).toInt
            else (i % p) * 300 - 900)
          (id, Multimodal.syntheticPcmWav(
            (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt, samples))
        }).toDF("doc_id", "media").withColumn("media_type", lit("audio"))
      Multimodal.audioPitch(wavs).toDF()
        .select(col("doc_id"), col("n_samples"), col("energy"),
          col("best_lag"), col("best_r"), col("periodic"))
    }),
    // Windowed RMS-energy + silence detection over REAL decoded WAV — the
    // VAD/speech-prep read. The fixture embeds true silence: every third
    // 16-sample stretch is zeroed (i div 16 mod 3 == 0), the rest is the
    // m09 sample formula, so 32-sample analysis windows mix silent and
    // loud regions and the last window is partial (ns = 80 + id%40). The
    // oracle recomputes exact integer Σs² per window and the strict
    // mean-square gate from the same formula.
    "m14_audio_energy" -> ((s, dir) => {
      import s.implicits._
      val wavs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (80 + id % 40).toInt
          val samples = Array.tabulate(ns)(i =>
            if ((i / 16) % 3 == 0) 0
            else (((id * 37 + i) * 251) % 4096 - 2048).toInt)
          (id, Multimodal.syntheticPcmWav(
            (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt, samples))
        }).toDF("doc_id", "media").withColumn("media_type", lit("audio"))
      Multimodal.audioEnergy(wavs, windowSamples = 32,
          silenceMeanSq = 1000000L).toDF()
        .select(col("doc_id"), col("win_idx"), col("n_samples"),
          col("energy"), col("silent"))
    }),

    // Energy-VAD voice segments over REAL decoded WAV — the e05
    // gaps-and-islands device in the audio domain: 16-sample analysis
    // windows ALIGNED to the fixture's silence stretches (silent iff
    // (id + s²) % 5 < 2 — per-doc irregular runs and gaps of 1–3), then
    // voiced-run islands + the hangover-1 merge, so some gaps close and
    // others split, per doc. The oracle replays samples → window
    // verdicts → both island passes in SQL.
    "m22_audio_vad" -> ((s, dir) => {
      import s.implicits._
      val wavs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (96 + id % 64).toInt
          val samples = Array.tabulate(ns) { i =>
            val st = i / 16
            if ((id + st.toLong * st) % 5 < 2) 0
            else (((id * 37 + i) * 251) % 4096 - 2048).toInt
          }
          (id, Multimodal.syntheticPcmWav(
            (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt, samples))
        }).toDF("doc_id", "media").withColumn("media_type", lit("audio"))
      Multimodal.vadSegments(
        Multimodal.audioEnergy(wavs, windowSamples = 16,
          silenceMeanSq = 1000000L).toDF(),
        hangover = 1)
    }),

    // ---- host-graph centrality (web-corpus link structure) ----,
  )

  def oracle: Map[String, String] = Map(
      "m01_media_meta" ->
        """SELECT doc_id, length(text)::BIGINT AS n_bytes, sha256(text) AS sha256,
          | ((ascii(substr(text, 1, 1)) % 64) + 1)::BIGINT AS width,
          | ((ascii(substr(text, 2, 1)) % 64) + 1)::BIGINT AS height,
          | (length(text) // 100 + 1)::BIGINT AS n_frames
          |FROM documents""".stripMargin,
      "m03_resize" ->
        """SELECT doc_id, least(length(text), 256)::BIGINT AS n_bytes,
          | md5(substr(text, 1, 256)) AS media_md5 FROM documents""".stripMargin,
      "m02_frame_sample" ->
        """SELECT doc_id, i::BIGINT AS frame_idx, md5(substr(text, (i*100+1)::INT, 100)) AS frame_md5
          |FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
          |WHERE i % 2 = 0 AND i*100 < length(text)""".stripMargin,
      "m04_shared_frames" ->
        """WITH fr AS (SELECT doc_id, md5(substr(text, (i*100+1)::INT, 100)) AS frame_md5
          |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
          |  WHERE i % 2 = 0 AND i*100 < length(text))
          |SELECT frame_md5, count(DISTINCT doc_id)::BIGINT AS n_docs,
          | min(doc_id) AS keeper_doc
          |FROM fr GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""".stripMargin,
      "m05_media_clusters" -> m05Sql,
      "m06_media_dedup_apply" ->
        s"""WITH comp AS ($m05Sql)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)""".stripMargin,
      "m07_perceptual_pairs" ->
        """WITH fr AS (SELECT doc_id, i AS frame_idx, substr(text, (i*100+1)::INT, 100) AS f
          |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
          |  WHERE i % 2 = 0 AND i*100 < length(text)),
          |ok AS (SELECT doc_id, frame_idx, f FROM fr WHERE length(f) >= 60),
          |cs AS (SELECT doc_id, frame_idx,
          |  list_transform(generate_series(1, 60), j -> ascii(substr(f, j::INT, 1))::BIGINT) AS c
          |  FROM ok),
          |ah AS (SELECT doc_id, frame_idx,
          |  list_reduce(list_transform(c, x ->
          |    CASE WHEN x > list_sum(c) // 60 THEN 1::BIGINT ELSE 0::BIGINT END),
          |    (a, b) -> a * 2 + b) AS ahash
          |  FROM cs),
          |ck AS (SELECT doc_id, frame_idx, ahash, j, (ahash >> (j*15)::INT) & 32767 AS v
          |       FROM ah CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
          |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          |  x.frame_idx AS fa, y.frame_idx AS fb, x.ahash AS ha, y.ahash AS hb
          |  FROM ck x JOIN ck y ON x.j = y.j AND x.v = y.v AND x.doc_id < y.doc_id)
          |SELECT a, b, count(*)::BIGINT AS n_frame_matches
          |FROM cand WHERE bit_count(xor(ha, hb)) <= 3 GROUP BY 1, 2""".stripMargin,
      // m08: the PNG fixture's dims and pixels are pure formulas of doc_id
      // (w = id%13+8, h = id%7+8, luma(i) = ((id*31 + i)*17) % 256
      // row-major), so the REAL encode→decode roundtrip must reproduce
      // this SQL exactly: mean = truncating sum/60, bit i set iff
      // luma > mean, MSB-first (bit i weighs 2^(59-i))
      // m09: the WAV fixture's header fields and channel-0 samples are pure
      // formulas of doc_id (rate = 8000 + id%5*1000, ch = 1 + id%2,
      // ns = 80 + id%40, s(i) = ((id*37 + i)*251) % 4096 - 2048 — the
      // pre-% product is non-negative, so Spark/DuckDB truncating % agree);
      // fingerprint bit i (MSB-first) set iff |s(i+1)| > |s(i)|
      "m09_wav_decode" ->
        """WITH d AS (SELECT doc_id, 8000 + (doc_id % 5) * 1000 AS sample_rate,
          |  1 + (doc_id % 2) AS channels, 80 + (doc_id % 40) AS n_samples
          |  FROM documents),
          |s AS (SELECT doc_id, i, ((doc_id * 37 + i) * 251) % 4096 - 2048 AS v
          |      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS i)),
          |f AS (SELECT s1.doc_id,
          |        sum(CASE WHEN abs(s2.v) > abs(s1.v)
          |                 THEN (1::BIGINT << (59 - s1.i)::INT) ELSE 0 END)::BIGINT AS fp
          |      FROM s s1 JOIN s s2 ON s1.doc_id = s2.doc_id AND s2.i = s1.i + 1
          |      GROUP BY 1)
          |SELECT d.doc_id, sample_rate::BIGINT AS sample_rate,
          |  channels::BIGINT AS channels, n_samples::BIGINT AS n_samples, f.fp
          |FROM d JOIN f ON d.doc_id = f.doc_id""".stripMargin,
      // m15: the m09 sample formula through the identical integer
      // resample mapping — out(i) = s((i*rate)//4000), nOut = ns*4000//rate
      "m15_audio_resample" ->
        """WITH d AS (SELECT doc_id, 8000 + (doc_id % 5) * 1000 AS rate,
          |                  80 + (doc_id % 40) AS ns FROM documents),
          |o AS (SELECT doc_id, rate, (ns * 4000) // rate AS n_out FROM d),
          |s AS (SELECT doc_id, n_out, i,
          |        ((doc_id * 37 + ((i * rate) // 4000)) * 251) % 4096 - 2048 AS v
          |      FROM o CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)
          |      WHERE i < n_out)
          |SELECT doc_id, 4000::BIGINT AS dst_rate, n_out::BIGINT AS n_samples,
          |  sum((i + 1) * v)::BIGINT AS checksum
          |FROM s GROUP BY 1, 2, 3""".stripMargin,
      // m19: the digest is a formula of the pixels, so the survivor set
      // is computed analytically — per doc the (slope, intercept) ramp,
      // the canonical "8:8:p0,p1,…" string, md5, DISTINCT per resource
      "m19_stream_media_dedup" ->
        """WITH d AS (SELECT doc_id, doc_id // 4 AS resource,
          |    CASE WHEN doc_id % 4 < 2 THEN -(doc_id // 4) - 1
          |         ELSE doc_id END AS key FROM documents),
          |par AS (SELECT doc_id, resource,
          |    (((key % 7) + 7) % 7) + 8 AS w,
          |    (((key % 11) + 11) % 11) + 8 AS h,
          |    (((key % 13) + 13) % 13 + 3) AS slope,
          |    (((key * 11) % 256) + 256) % 256 AS icept FROM d),
          |px AS (SELECT doc_id, resource, w, h, pos,
          |       (slope * pos + icept) % 256 AS v
          |       FROM par CROSS JOIN (SELECT unnest(generate_series(0, 321)) AS pos)
          |       WHERE pos < w * h),
          |dg AS (SELECT doc_id, resource,
          |    md5(w || ':' || h || ':' || string_agg(v::VARCHAR, ',' ORDER BY pos)) AS raster_md5
          |  FROM px GROUP BY doc_id, resource, w, h)
          |SELECT DISTINCT resource, raster_md5 FROM dg""".stripMargin,
      // m18: the same solid/formula pixel split binned v // 16, argmax
      // by (count desc, bin asc), occupied bins, integer flat gate —
      // the real PNG decode must reproduce every column
      "m18_image_histogram" ->
        """WITH d AS (SELECT doc_id, (doc_id % 13) + 8 AS w, (doc_id % 7) + 8 AS h
          |           FROM documents),
          |px AS (SELECT doc_id, w, h,
          |        CASE WHEN doc_id % 3 = 0 THEN doc_id % 256
          |             ELSE ((doc_id * 31 + yy.j * w + xx.i) * 17) % 256 END AS v
          |       FROM d
          |       CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS i) xx
          |       CROSS JOIN (SELECT unnest(generate_series(0, 14)) AS j) yy
          |       WHERE xx.i < w AND yy.j < h),
          |bins AS (SELECT doc_id, v // 16 AS bin, count(*)::BIGINT AS c
          |         FROM px GROUP BY 1, 2),
          |agg AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS used
          |        FROM bins GROUP BY 1),
          |top AS (SELECT doc_id, bin, c FROM (
          |    SELECT doc_id, bin, c, row_number() OVER (
          |      PARTITION BY doc_id ORDER BY c DESC, bin ASC) AS rn FROM bins)
          |  WHERE rn = 1)
          |SELECT a.doc_id, a.n AS n_pixels, t.bin::BIGINT AS top_bin,
          |  t.c AS top_count, a.used AS n_bins_used,
          |  (t.c * 1000000 > 500000 * a.n) AS flat
          |FROM agg a JOIN top t ON a.doc_id = t.doc_id""".stripMargin,
      // m17: the same sawtooth/LCG sample formulas; R(L) as a lag self-
      // join summed per (doc, lag), argmax by (r desc, lag asc), and the
      // integer 2R > energy clarity gate — the real decode must
      // reproduce every column bit-for-bit
      "m17_audio_pitch" ->
        """WITH d AS (SELECT doc_id, 80 + (doc_id % 40) AS ns,
          |             10 + (doc_id % 7) AS p FROM documents),
          |s AS (SELECT doc_id, i,
          |        CASE WHEN doc_id % 4 = 0
          |             THEN ((doc_id * 37 + i) * 251) % 4096 - 2048
          |             ELSE (i % p) * 300 - 900 END AS v
          |      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 119)) AS i)
          |      WHERE i < ns),
          |e AS (SELECT doc_id, count(*)::BIGINT AS n, sum(v * v)::BIGINT AS energy
          |      FROM s GROUP BY 1),
          |r AS (SELECT a.doc_id, l.lag, sum(a.v * b.v)::BIGINT AS r
          |      FROM s a
          |      CROSS JOIN (SELECT unnest(generate_series(2, 24)) AS lag) l
          |      JOIN s b ON b.doc_id = a.doc_id AND b.i = a.i + l.lag
          |      GROUP BY 1, 2),
          |best AS (SELECT doc_id, lag, r FROM (
          |    SELECT doc_id, lag, r, row_number() OVER (
          |      PARTITION BY doc_id ORDER BY r DESC, lag ASC) AS rn FROM r)
          |  WHERE rn = 1)
          |SELECT e.doc_id, e.n AS n_samples, e.energy,
          |  best.lag::BIGINT AS best_lag, best.r AS best_r,
          |  (2 * best.r > e.energy) AS periodic
          |FROM e JOIN best ON e.doc_id = best.doc_id""".stripMargin,
      // m16: adjacent-sign changes (sign class = v < 0) per 32-sample
      // window over the constant/formula-mixed fixture + strict ppm gate
      "m16_audio_zcr" ->
        """WITH d AS (SELECT doc_id, 80 + (doc_id % 40) AS ns FROM documents),
          |s AS (SELECT doc_id, i,
          |        CASE WHEN (i // 16) % 3 = 0 THEN 500
          |             ELSE (((doc_id * 37 + i) * 251) % 4096 - 2048)
          |                  * (1 - 2 * (i % 2)) END AS v
          |      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 119)) AS i)
          |      WHERE i < ns),
          |x AS (SELECT a.doc_id, (a.i // 32) AS w,
          |        CASE WHEN a.i % 32 > 0 AND ((b.v < 0) != (a.v < 0))
          |             THEN 1 ELSE 0 END AS c
          |      FROM s a LEFT JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i - 1)
          |SELECT doc_id, w::BIGINT AS win_idx, count(*)::BIGINT AS n_samples,
          |  sum(c)::BIGINT AS crossings,
          |  (sum(c) * 1000000 < 600000 * count(*)) AS voiced
          |FROM x GROUP BY 1, 2""".stripMargin,
      // m22: replay the silence-patterned sample formula → 16-sample
      // window energies + the strict mean-square verdict → voiced-run
      // islands (win − row_number) → the hangover-1 run merge via a
      // second island pass over the runs frame
      "m22_audio_vad" ->
        """WITH d AS (SELECT doc_id, 96 + (doc_id % 64) AS ns FROM documents),
          |s AS (SELECT doc_id, i,
          |        CASE WHEN (doc_id + (i // 16) * (i // 16)) % 5 < 2 THEN 0
          |             ELSE ((doc_id * 37 + i) * 251) % 4096 - 2048 END AS v
          |      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 159)) AS i)
          |      WHERE i < ns),
          |w AS (SELECT doc_id, (i // 16) AS win_idx, count(*) AS n,
          |        sum(v * v)::BIGINT AS energy
          |      FROM s GROUP BY 1, 2),
          |vo AS (SELECT doc_id, win_idx, energy FROM w
          |       WHERE energy >= 1000000 * n),
          |r0 AS (SELECT doc_id, win_idx, energy,
          |        win_idx - row_number() OVER (
          |          PARTITION BY doc_id ORDER BY win_idx) AS isl
          |       FROM vo),
          |runs AS (SELECT doc_id, isl, min(win_idx) AS start_win,
          |        max(win_idx) AS end_win, count(*) AS n_windows,
          |        sum(energy) AS energy
          |       FROM r0 GROUP BY 1, 2),
          |m1 AS (SELECT *, lag(end_win) OVER (
          |         PARTITION BY doc_id ORDER BY start_win) AS prev_end
          |       FROM runs),
          |m2 AS (SELECT *, CASE WHEN prev_end IS NULL
          |         OR start_win - prev_end - 1 > 1 THEN 1 ELSE 0 END AS brk
          |       FROM m1),
          |m3 AS (SELECT *, sum(brk) OVER (
          |         PARTITION BY doc_id ORDER BY start_win) AS seg FROM m2)
          |SELECT doc_id, (seg - 1)::BIGINT AS seg_idx,
          |  min(start_win)::BIGINT AS start_win,
          |  max(end_win)::BIGINT AS end_win,
          |  sum(n_windows)::BIGINT AS n_voiced_windows,
          |  sum(energy)::BIGINT AS energy
          |FROM m3 GROUP BY 1, 2""".stripMargin,
      // m14: the m09 sample formula with every third 16-sample stretch
      // zeroed; exact integer Σs² per 32-sample window (last window
      // partial) and the strict mean-square silence gate — the REAL
      // decode must reproduce this SQL bit-for-bit
      "m14_audio_energy" ->
        """WITH d AS (SELECT doc_id, 80 + (doc_id % 40) AS ns FROM documents),
          |s AS (SELECT doc_id, i,
          |        CASE WHEN (i // 16) % 3 = 0 THEN 0
          |             ELSE ((doc_id * 37 + i) * 251) % 4096 - 2048 END AS v
          |      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 119)) AS i)
          |      WHERE i < ns)
          |SELECT doc_id, (i // 32)::BIGINT AS win_idx, count(*)::BIGINT AS n_samples,
          |  sum(v * v)::BIGINT AS energy,
          |  (sum(v * v) < 1000000 * count(*)) AS silent
          |FROM s GROUP BY 1, 2""".stripMargin,
      // m13: the same pixel formula through the identical integer
      // nearest-neighbor mapping — dst(x,y) = f((x*w)//8, (y*h)//6)
      // m21: replay the (doc, scene, pixel) luma formulas, pair frame k
      // with k−1 on the shared pixel index, sum |Δluma| exactly
      "m21_scene_changes" ->
        """WITH fr AS (SELECT doc_id, k, i,
          |    ((doc_id * 7919 + (k // 3) * 104729 + i * 31) % 65521) AS t
          |  FROM documents
          |  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k)
          |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)),
          |lum AS (SELECT doc_id, k, i,
          |    (t * t % 65521) % 255 + (CASE WHEN i = k THEN 1 ELSE 0 END) AS luma
          |  FROM fr),
          |d AS (SELECT a.doc_id, a.k AS frame_idx,
          |    sum(abs(a.luma - b.luma))::BIGINT AS l1_dist
          |  FROM lum a JOIN lum b ON a.doc_id = b.doc_id AND a.i = b.i
          |    AND b.k = a.k - 1
          |  GROUP BY 1, 2)
          |SELECT doc_id, frame_idx::BIGINT AS frame_idx, l1_dist,
          |  (CASE WHEN l1_dist > 1000 THEN 1 ELSE 0 END)::BIGINT AS is_cut
          |FROM d""".stripMargin,
      // m20: replay the pixel formula, fold the 60-bit aHash exactly as
      // ImageCodec.aHashOf (luma > integer mean, MSB-first), then
      // brute-force all-pairs Hamming ≤ 2 — ≡ the pigeonhole join by its
      // exact-recall guarantee
      "m20_image_neardup" ->
        """WITH px0 AS (SELECT doc_id, i,
          |    ((doc_id // 8) * 997 + i * 101) % 65521 AS t
          |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)),
          |px AS (SELECT doc_id, i,
          |    (CASE WHEN doc_id % 4 != 0 AND i = doc_id % 60
          |       THEN 1 - (t * t % 65521) % 2
          |       ELSE (t * t % 65521) % 2 END) * 255 AS luma
          |  FROM px0),
          |mn AS (SELECT doc_id, sum(luma) // 60 AS mean FROM px GROUP BY 1),
          |hb AS (SELECT px.doc_id,
          |    sum(CASE WHEN luma > mean THEN 1::BIGINT << (59 - i) ELSE 0 END)::BIGINT AS h
          |  FROM px JOIN mn USING (doc_id) GROUP BY 1)
          |SELECT x.doc_id AS a, y.doc_id AS b,
          |  bit_count(xor(x.h, y.h))::BIGINT AS hamming
          |FROM hb x JOIN hb y ON x.doc_id < y.doc_id
          |WHERE bit_count(xor(x.h, y.h)) <= 2""".stripMargin,
      "m13_resize_real" ->
        """WITH d AS (SELECT doc_id, (doc_id % 13) + 8 AS w, (doc_id % 7) + 8 AS h
          |           FROM documents),
          |px AS (SELECT doc_id, w, h, xx.i AS x, yy.j AS y
          |       FROM d
          |       CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) xx
          |       CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS j) yy)
          |SELECT doc_id, 8::BIGINT AS width, 6::BIGINT AS height,
          |  sum(((doc_id * 31 + ((y * h) // 6) * w + ((x * w) // 8)) * 17) % 256)::BIGINT
          |    AS luma_sum
          |FROM px GROUP BY 1""".stripMargin,
      "m08_imageio_decode" ->
        """WITH d AS (SELECT doc_id, (doc_id % 13) + 8 AS w, (doc_id % 7) + 8 AS h
          |           FROM documents),
          |px AS (SELECT doc_id, w, h, i, ((doc_id * 31 + i) * 17) % 256 AS g
          |       FROM d CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)),
          |mn AS (SELECT doc_id, sum(g) // 60 AS mean FROM px GROUP BY 1)
          |SELECT px.doc_id, px.w::BIGINT AS width, px.h::BIGINT AS height,
          |  sum(CASE WHEN g > mean THEN (1::BIGINT << (59 - i)::INT) ELSE 0 END)::BIGINT AS ahash
          |FROM px JOIN mn ON px.doc_id = mn.doc_id
          |GROUP BY 1, 2, 3""".stripMargin,
      // m10: the multi-frame twin of m08 — same first-60-pixels aHash
      // formula per (doc, frame), frame count from the container
      "m10_gif_frames" ->
        """WITH d AS (SELECT doc_id, (doc_id % 9) + 8 AS w,
          |                  (doc_id % 3) + 2 AS n FROM documents),
          |fr AS (SELECT doc_id, n, unnest(generate_series(0, n::INT - 1)) AS k FROM d),
          |px AS (SELECT doc_id, n, k, i,
          |         ((doc_id*31 + k*101 + i) * 17) % 256 AS g
          |       FROM fr CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)),
          |mn AS (SELECT doc_id, k, sum(g) // 60 AS mean FROM px GROUP BY 1, 2)
          |SELECT px.doc_id, px.n::BIGINT AS n_frames, px.k::BIGINT AS frame_idx,
          |  sum(CASE WHEN g > mean
          |      THEN (1::BIGINT << (59 - i)::INT) ELSE 0 END)::BIGINT AS ahash
          |FROM px JOIN mn ON px.doc_id = mn.doc_id AND px.k = mn.k
          |GROUP BY 1, 2, 3""".stripMargin,
      // m11: the fixture's frame lumas are pure formulas (shared frames
      // keyed by group = doc_id // 10, the third by doc_id), so the SQL
      // recomputes every aHash and the same set-Jaccard over them
      // m12: frame hashes from the pixel formula (m11's aHash SQL), then
      // positional 2-grams, pair diagonals, and gaps-and-islands runs
      "m12_gif_run_align" ->
        """WITH fr AS (SELECT doc_id, doc_id // 10 AS g, doc_id % 2 AS off,
          |            unnest([0, 1, 2, 3, 4]) AS k FROM documents),
          |sd AS (SELECT doc_id, k,
          |         CASE WHEN k - (1 - off) BETWEEN 0 AND 2
          |           THEN g*997 + (k - (1 - off))*101
          |           ELSE doc_id*1000003 + k*13 + 7 END AS seed
          |       FROM fr),
          |px AS (SELECT doc_id, k,
          |         ((((seed % 65521 + i*31) * (seed % 65521 + i*31)) % 65521) % 256) AS l, i
          |       FROM sd CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)),
          |mn AS (SELECT doc_id, k, sum(l) // 60 AS mean FROM px GROUP BY 1, 2),
          |ah AS (SELECT px.doc_id, px.k,
          |         sum(CASE WHEN l > mean THEN (1::BIGINT << (59 - i)::INT)
          |             ELSE 0 END)::BIGINT AS h
          |       FROM px JOIN mn ON px.doc_id = mn.doc_id AND px.k = mn.k
          |       GROUP BY 1, 2),
          |gr AS (SELECT a1.doc_id, a1.k AS pos, a1.h AS g1, a2.h AS g2
          |       FROM ah a1 JOIN ah a2 ON a1.doc_id = a2.doc_id AND a2.k = a1.k + 1),
          |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb,
          |                x.pos - y.pos AS diag
          |         FROM gr x JOIN gr y ON x.g1 = y.g1 AND x.g2 = y.g2
          |           AND x.doc_id < y.doc_id),
          |isl AS (SELECT a, b, diag, pa, pb,
          |          pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) AS isle
          |        FROM cand)
          |SELECT a, b, min(pa)::BIGINT AS a_start, min(pb)::BIGINT AS b_start,
          |       (count(*) + 1)::BIGINT AS run_frames
          |FROM isl GROUP BY a, b, diag, isle HAVING count(*) + 1 >= 3""".stripMargin,
      "m11_gif_neardup" ->
        """WITH fr AS (SELECT doc_id, doc_id // 10 AS g, unnest([0, 1, 2]) AS k
          |            FROM documents),
          |px AS (SELECT doc_id, k,
          |         CASE WHEN k < 2
          |           THEN ((((g*997 + k*101) % 65521 + i*31) * ((g*997 + k*101) % 65521 + i*31)) % 65521) % 256
          |           ELSE ((((doc_id*1000003 + 7) % 65521 + i*31) * ((doc_id*1000003 + 7) % 65521 + i*31)) % 65521) % 256
          |         END AS l, i
          |       FROM fr CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)),
          |mn AS (SELECT doc_id, k, sum(l) // 60 AS mean FROM px GROUP BY 1, 2),
          |ah AS (SELECT px.doc_id, px.k,
          |         sum(CASE WHEN l > mean THEN (1::BIGINT << (59 - i)::INT)
          |             ELSE 0 END)::BIGINT AS h
          |       FROM px JOIN mn ON px.doc_id = mn.doc_id AND px.k = mn.k
          |       GROUP BY 1, 2),
          |fh AS (SELECT DISTINCT doc_id, h FROM ah),
          |sizes AS (SELECT doc_id, count(*) AS n FROM fh GROUP BY 1),
          |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
          |           FROM fh x JOIN fh y ON x.h = y.h AND x.doc_id < y.doc_id
          |           GROUP BY 1, 2)
          |SELECT a, b, (c * 1000000 // (na.n + nb.n - c))::BIGINT AS jaccard_ppm
          |FROM common JOIN sizes na ON a = na.doc_id JOIN sizes nb ON b = nb.doc_id
          |WHERE c * 1000000 // (na.n + nb.n - c) >= 400000""".stripMargin,
  )
}
