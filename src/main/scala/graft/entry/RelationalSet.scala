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

/** Relational (h01-h24), temporal/event (e01-e18) and graph (g01-g09) queries + their DuckDB oracles.
  *
  * Split mechanically from SparkEntry (round 10); entries are verbatim.
  * Shared fixtures/counter defs/oracle CTE fragments live in
  * [[EntryHelpers]]; [[SparkEntry]] concatenates the per-set maps.
  */
private[graft] object RelationalSet {

  /** Shadows [[EntryHelpers.events]] with the no-spread loader for this
    * set only (r12 optimization): every events consumer here is a light
    * column projection + aggregation (temporal windows, sketch gates,
    * two-phase counter hops) for which the conditional local repartition
    * costs more than the single-task scan it parallelizes — measured
    * e09 0.94→0.69 s, e13 1.54→1.13 s, while the jq/JSON counter paths
    * (CounterSet) keep the spread loader (c70 regressed 2.1→3.0 s lean).
    * At production scale both loaders plan identically (the spread is a
    * no-op once the source is maxPartitionBytes-split).
    */
  private def events(s: SparkSession, dir: String): DataFrame =
    eventsLean(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational analytics over the TPC-H-shaped tables ----
    // Q1 shape: single-scan small-group pricing summary, integer-exact
    "h01_pricing_summary" -> ((s, dir) =>
      graft.relational.Relational.pricingSummary(Tables.lineitem(s, dir))),
    // Q3 shape: segment filter → orders ⋈ lineitem → top-k by revenue
    "h02_top_orders" -> ((s, dir) =>
      graft.relational.Relational.topOrdersByRevenue(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // Q5 shape: broadcast region/nation dims → customer/orders/lineitem
    "h03_region_revenue" -> ((s, dir) =>
      graft.relational.Relational.regionRevenue(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // Q9-ish shape: broadcast part/supplier dims → fact scan, no shuffle
    // before the final small-group aggregate
    "h04_brand_profit" -> ((s, dir) =>
      graft.relational.Relational.brandProfit(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.lineitem(s, dir))),
    // Q18 shape: aggregate-then-join — HAVING on the fact pre-aggregate
    // bounds both joins by qualifying orders
    "h05_large_orders" -> ((s, dir) =>
      graft.relational.Relational.largeOrders(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // Q7 shape: nation-pair revenue by direction and ship year; supplier
    // side broadcast, customer side left to AQE
    "h06_volume_shipping" -> ((s, dir) =>
      graft.relational.Relational.volumeShipping(
        Tables.supplier(s, dir), Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // Q14 shape: promo/total conditional-aggregate ratio in one pass
    "h07_promo_share" -> ((s, dir) =>
      graft.relational.Relational.promoRevenueShare(
        Tables.part(s, dir), Tables.lineitem(s, dir))),
    // Q4 shape: EXISTS → left-semi join (probe side never duplicates)
    "h08_late_priority" -> ((s, dir) =>
      graft.relational.Relational.latePriority(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // Q16 shape: NOT IN → broadcast anti-join + two-phase count(DISTINCT)
    "h09_supplier_diversity" -> ((s, dir) =>
      graft.relational.Relational.supplierDiversity(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir))),
    // Q2 shape: correlated min subquery decorrelated to aggregate-then-join
    "h10_min_cost_supplier" -> ((s, dir) =>
      graft.relational.Relational.minCostSupplier(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir))),
    // Q22 shape: broadcast scalar aggregate + NOT EXISTS anti-join,
    // integer-exact above-average test via cross-multiplication
    "h11_idle_rich" -> ((s, dir) =>
      graft.relational.Relational.idleRichCustomers(
        Tables.customer(s, dir), Tables.orders(s, dir))),
    // ---- temporal / event-sequence analytics (events table) ----
    // as-of join: most recent click at-or-before each purchase, via the
    // union-and-carry encoding (ONE shuffle, no range-join blow-up)
    "e01_asof_attribution" -> ((s, dir) =>
      graft.relational.Temporal.purchaseAttribution(events(s, dir))),
    // first-seen cohorts × active-day offsets (retention triangle)
    "e02_retention" -> ((s, dir) =>
      graft.relational.Temporal.retentionCohorts(events(s, dir))),
    // ordered funnel signup → click → purchase: deepest stage per user
    "e03_funnel" -> ((s, dir) =>
      graft.relational.Temporal.funnelStages(events(s, dir))),
    // RANGE-framed trailing-week sums over the calendar-bounded daily agg
    "e04_rolling_activity" -> ((s, dir) =>
      graft.relational.Temporal.rollingActivity(events(s, dir))),
    // Q21 shape: double EXISTS decorrelated into per-order counters
    "h12_lonely_late" -> ((s, dir) =>
      graft.relational.Relational.lonelyLateSupplier(
        Tables.orders(s, dir), Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    // Q13 shape: zero-inclusive order-count histogram, aggregate-then-
    // outer-join (orders collapse before meeting customer)
    "h13_order_histogram" -> ((s, dir) =>
      graft.relational.Relational.customerOrderHistogram(
        Tables.customer(s, dir), Tables.orders(s, dir))),
    // Q10 shape: returned-item revenue per customer, star join with the
    // revenue aggregate collapsed BEFORE the dimension joins, heap top-k
    "h15_returned_items" -> ((s, dir) =>
      graft.relational.Relational.returnedItemReport(
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.nation(s, dir))),
    // Q6 shape: zero-join pushed-filter aggregate (the pushdown showcase)
    "h16_revenue_change" -> ((s, dir) =>
      graft.relational.Relational.revenueChange(Tables.lineitem(s, dir))),
    // Q15 shape: scalar-max subquery decorrelated to a broadcast scalar
    // equality join; ties surface
    "h18_top_supplier" -> ((s, dir) =>
      graft.relational.Relational.topSupplier(
        Tables.supplier(s, dir), Tables.lineitem(s, dir))),
    // Q19 shape: OR-of-ANDs disjunctive revenue with hand-hoisted
    // convex hulls so both scans still prune (Catalyst won't derive them)
    "h19_disjunctive_revenue" -> ((s, dir) =>
      graft.relational.Relational.disjunctiveRevenue(
        Tables.part(s, dir), Tables.lineitem(s, dir))),
    // Q12 shape: per-line lateness × priority conditional-count matrix,
    // both counts from ONE aggregate pass over the hash join
    "h20_lateness_matrix" -> ((s, dir) =>
      graft.relational.Relational.latenessPriorityMatrix(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // Q20 shape (adapted — no partsupp in this schema): correlated nested
    // aggregate decorrelated to stacked aggregates + join-back; exact
    // integer 8·S > T threshold (share > 1/8 — this corpus's max share is ~0.21)
    "h21_dominant_suppliers" -> ((s, dir) =>
      graft.relational.Relational.dominantSuppliers(
        Tables.supplier(s, dir), Tables.part(s, dir), Tables.lineitem(s, dir))),
    // Q11 shape: groupwise share vs a broadcast global scalar, exact
    // DECIMAL(38,0) cross-multiply, scale-free relative threshold
    "h22_important_parts" -> ((s, dir) =>
      graft.relational.Relational.importantParts(Tables.lineitem(s, dir))),
    // CUBE over the pricing-summary dims: detail + both margins + grand
    // total in one Expand pass, grouping_id disambiguation
    "h24_revenue_cube" -> ((s, dir) =>
      graft.relational.Relational.revenueCube(Tables.lineitem(s, dir))),
    // Z-order layout stats + the file-skipping decision: Morton
    // interleave of (user_id, coarse cents) as a pure codegen
    // projection, per-bucket min/max envelopes (≙ per-file column
    // stats), and the exact skip verdict for a literal probe box — the
    // OPTIMIZE ZORDER read for multi-dim pruning at lake scale
    "h25_zorder_pruning" -> ((s, dir) =>
      graft.relational.Relational.zOrderPruning(events(s, dir))),
    // skew-salted equi-join (the manual hot-key escape hatch): salting
    // must be INVISIBLE — the aggregate equals the plain join's
    "h23_salted_join" -> ((s, dir) =>
      graft.relational.Relational.saltedEquiJoin(
          Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "okey"),
          Tables.orders(s, dir).withColumnRenamed("o_orderkey", "okey"),
          "okey", salts = 8, saltSource = col("l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))),
    // Q8 shape: per-year national market share — two-level conditional-
    // aggregate ratio over a 6-table star, dims broadcast, ONE agg pass
    "h17_market_share" -> ((s, dir) =>
      graft.relational.Relational.marketShare(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    // gaps-and-islands sessionization: per-(user, session) analytic rows
    "e05_user_sessions" -> ((s, dir) =>
      graft.relational.Temporal.userSessions(events(s, dir))),
    // hour-of-day seasonality profile: per type, each UTC hour's count,
    // integer-ppm share, and the (count desc, hour asc) peak flag — the
    // traffic CYCLE the e06/e16 baselines breathe with
    "e18_hourly_profile" -> ((s, dir) =>
      graft.relational.Temporal.hourOfDayProfile(events(s, dir))),
    // robust MAD anomaly flags: the resistant twin of e06's z² spikes —
    // trailing lower-median/MAD baseline (breakdown point 1/2, so a prior
    // spike inside the window cannot mask this hour's flag), |C−med| >
    // 5·MAD, integer-exact, flags drops as well as spikes
    "e16_mad_anomalies" -> ((s, dir) =>
      graft.relational.Temporal.madAnomalies(events(s, dir))),
    // CUSUM drift detection: the SUSTAINED-shift third of the anomaly
    // family (e06 flags one loud hour, e16 survives dirty baselines,
    // CUSUM accumulates small excesses until they cross the decision
    // interval) — expressed via the prefix-minimum identity as two stock
    // window aggregates, no recursion
    "e21_cusum_drift" -> ((s, dir) =>
      graft.relational.Temporal.cusumDrift(events(s, dir))),
    // count spike detection: integer-exact trailing z² flags over the
    // hourly per-type counts (the alerting step on counter output)
    "e06_count_spikes" -> ((s, dir) =>
      graft.relational.Temporal.countSpikes(events(s, dir))),
    // STREAMING face of spike detection: hourly per-type counts close in
    // order under the watermark, so the z² flagging half runs per batch
    // over the accumulated closed hours and must match batch e06 rows
    // for every closed hour
    "e12_stream_spikes_parity" -> ((s, dir) => withStatePartitions(s) {
      val counts = Tables.eventsStream(s, dir).withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
      val sink = "e12_spikes_sink"
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      graft.relational.Temporal.spikesFromHourly(s.table(sink))
    }),
    // STREAMING face of the MAD anomaly read: the same closed-hour
    // accumulation as e12 feeding the split-out madFromHourly half —
    // trailing medians only look BACKWARD, so flags on closed hours
    // match batch e16 over the closed subset
    // NOTE (r13 second pass, measured NEGATIVE): RocksDB + changelog for
    // this windowed-agg face read flat-to-worse (solo min-of-3 1.49 →
    // 1.51 s, OLD ≤ NEW in all three interleaved pairs) — the HDFS
    // provider's delta commit is already cheap at this state size and the
    // RocksDB instance init isn't. Default provider stands.
    "e17_stream_mad_parity" -> ((s, dir) => withStatePartitions(s) {
      val counts = Tables.eventsStream(s, dir).withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
      val sink = "e17_mad_sink"
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      graft.relational.Temporal.madFromHourly(s.table(sink))
    }),
    // STREAMING face of CUSUM drift: the e12/e17 closed-hour
    // accumulation feeding the split-out cusumFromHourly half — the
    // prefix sums look backward only and the reference median is a pure
    // function of the accumulated closed-hour table, so flags match
    // batch e21 computed over the closed subset (the final unclosed
    // hour per type never emits, the c23 eviction convention)
    "e22_stream_cusum_parity" -> ((s, dir) => withStatePartitions(s) {
      val counts = Tables.eventsStream(s, dir).withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
      val sink = "e22_cusum_sink"
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      // the CUSUM half self-joins its input (median ⋈ hourly) and a bare
      // MemoryPlan view breaks Spark's self-join attribute dedup;
      // cusumFromHourly's internal checkpoint handles it
      graft.relational.Temporal.cusumFromHourly(s.table(sink))
    }),
    // STREAMING face of the ANALYTIC sessionization surface: e05's
    // per-session rows held as mergeable session-window state, emitted
    // when the watermark passes each session's reach (last event + gap);
    // session_seq comes from the finishing pass over the accumulated
    // closed table (a closed prefix of each user's batch numbering).
    // session_window's merge is INCLUSIVE at the gap reach — e05's
    // gap ≤ g convention exactly (spec-proved on an exact-gap tie), so
    // the oracle is e05's gaps-and-islands verbatim, closed-restricted
    "e23_stream_sessions" -> ((s, dir) => withStatePartitions(s) {
      val sessions = graft.streaming.StreamingCounters.analyticSessionStream(
        Tables.eventsStream(s, dir), "ts", "user_id")
      val sink = "e23_sess_sink"
      val q = sessions.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      graft.relational.Temporal.sessionsFromClosed(s.table(sink))
    }),
    // windowed heavy hitters: per-hour top-k users — rank runs over the
    // per-(window, user) aggregate, never the raw events
    "e07_heavy_hitters" -> ((s, dir) =>
      graft.relational.Temporal.windowHeavyHitters(events(s, dir))),
    // exact inter-event-gap quantiles per type (histogram method — the
    // cumulative window runs over distinct gaps, never the events)
    "e08_gap_quantiles" -> ((s, dir) =>
      graft.relational.Temporal.gapQuantiles(events(s, dir))),
    // hour-over-hour count deltas — the raw derivative read beside e06's
    // spike flags; delta vs the previous OBSERVED hour, first hour NULL
    "e15_count_deltas" -> ((s, dir) =>
      graft.relational.Temporal.countDeltas(events(s, dir))),
    // percentile counter type (ENGINE EXTENSION): exact per-window value
    // quantiles in cents — latency percentiles next to request counts
    "e09_value_quantiles" -> ((s, dir) =>
      graft.relational.Temporal.windowValueQuantiles(events(s, dir))),
    // percentile counter by MERGEABLE SKETCH + measured ε-gate (the a01
    // HLL pattern for quantiles): exact values hash-compared, the O(1/ε)
    // sketch's rank drift breaks the within_eps column instead
    "e13_quantile_sketch_gate" -> ((s, dir) =>
      graft.relational.Temporal.quantileSketchGate(events(s, dir))),
    // STREAMING face of the sketch percentile counter: the e13 GK-family
    // summary held as transformWithState state, emitted when the
    // watermark closes the window, then gated by the SAME exact-side
    // machinery — e13's rows restricted to closed windows, with the
    // ε-verdict measuring the STREAMED sketch (cross-micro-batch merge
    // order and all)
    "e19_stream_quantile_sketch" -> ((s, dir) => withStatePartitions(s) {
      withRocksDb(s) {
        val summaries = graft.streaming.StreamingCounters.quantileSketchStream(
          Tables.eventsStream(s, dir), "ts")
        val sink = "e19_qs_sink"
        val q = summaries.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        // overlap (§2.6, r13): the gate's events-side histogram is
        // independent of the stream — materialize it while the
        // micro-batches drain; identical frame, identical rows
        val (hist, sunk) =
          try graft.operators.Overlap.checkpoint2(
            graft.relational.Temporal.quantileGateHistogram(events(s, dir)),
            { q.processAllAvailable(); s.table(sink) })
          finally q.stop()
        graft.relational.Temporal.quantileGateFromSummaries(
          events(s, dir), sunk, histPre = Some(hist))
      }
    }),
    // heavy-hitter counter by MERGEABLE Misra–Gries SKETCH + measured
    // bound gate (the a01/e13 pattern for frequencies): exact top-k
    // counts hash-compared, the O(capacity) summary's estimate drift
    // breaks the within_bound column instead
    "e14_hitter_sketch_gate" -> ((s, dir) =>
      graft.relational.Temporal.hitterSketchGate(events(s, dir))),
    // count–min sketch counters + point-query gate — the LAST member of
    // the mergeable-summaries matrix (HLL/GK/MG/Bloom/CMS). Fully
    // deterministic on the portable-md5 channel: DuckDB rebuilds the
    // counter table cell-for-cell, so the estimates AND both bound
    // verdicts (never-undercount theorem, ε-slack) are hash-compared,
    // not declared
    "e24_cms_hitter_gate" -> ((s, dir) =>
      // spread loader: the cell build explodes depth×width rows per event
      // (the e26 rationale; the r12-session lean switch was a net loss
      // for the CMS pair's explode-heavy map side)
      graft.relational.Temporal.cmsHitterGate(EntryHelpers.events(s, dir))),
    // CMS through the SERIALIZED two-phase topology (the third
    // engine-extension counter type on the counter.go:483-512 hop):
    // per-shard non-zero cells → JSON intermediate records → parse +
    // version gate → cell-wise cross-shard sum (sketch LINEARITY — the
    // merge is bit-identical to the single-phase build) → the e24 gate.
    // Oracle = e24's SQL verbatim: the shard hop must be invisible.
    "e26_twophase_cms" -> ((s, dir) => {
      // the partial side explodes depth×width CMS cells per row (heavy
      // per-row) — that pass takes the SPREAD loader (measured 0.6 s
      // single-task map under the lean one); the gate side stays lean
      val sharded = EntryHelpers.events(s, dir)
        .withColumn("shard", pmod(col("user_id"), lit(8)))
      graft.relational.Temporal.cmsGateFromCounters(events(s, dir),
        Intermediate.mergeCmsRecords(
          Intermediate.toCmsRecords(
            graft.relational.Temporal.partialCmsState(sharded, "ts", "shard"),
            "cms_2p", "arn:aws:kinesis:ap-northeast-1:111122223333:stream/in"),
          "cms_2p", requiredVersion = Some(">=0.1.0")))
    }),
    // STREAMING face of the CMS counter: the cells as a plain
    // watermarked windowed agg (no custom state — CMS cells ARE what
    // Spark's streaming agg maintains), emitted on window close, gated
    // by the same batch-side machinery on exactly the closed windows
    "e25_stream_cms_counters" -> ((s, dir) => withStatePartitions(s) {
      // native windowed agg → default state store, the e12/e17/e22
      // convention (RocksDB is the transformWithState faces' choice)
      val counters = graft.streaming.StreamingCounters.cmsCounterStream(
        Tables.spreadStream(Tables.eventsStream(s, dir),
          s"$dir/events.parquet", col("event_id")), "ts")
      val sink = "e25_cms_sink"
      val q = counters.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      // overlap (§2.6, r13): the exact top-k side drains beside the stream
      val (exact, sunk) =
        try graft.operators.Overlap.checkpoint2(
          graft.relational.Temporal.windowHeavyHitters(events(s, dir)),
          { q.processAllAvailable(); s.table(sink) })
        finally q.stop()
      graft.relational.Temporal.cmsGateFromCounters(
        events(s, dir), sunk, exactPre = Some(exact))
    }),
    // STREAMING face of the sketch hitter counter: e14's Misra–Gries
    // summary as transformWithState state, emitted on window close, then
    // gated by the same exact-side machinery — with e19 this closes the
    // counter-type × topology matrix (every type now streams)
    "e20_stream_hitter_sketch" -> ((s, dir) => withStatePartitions(s) {
      withRocksDb(s) {
        val summaries = graft.streaming.StreamingCounters.hitterSketchStream(
          Tables.eventsStream(s, dir), "ts")
        val sink = "e20_hh_sink"
        val q = summaries.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        // overlap (§2.6, r13): the exact top-k side drains beside the stream
        val (exact, sunk) =
          try graft.operators.Overlap.checkpoint2(
            graft.relational.Temporal.windowHeavyHitters(events(s, dir)),
            { q.processAllAvailable(); s.table(sink) })
          finally q.stop()
        graft.relational.Temporal.hitterGateFromSummaries(
          events(s, dir), sunk, exactPre = Some(exact))
      }
    }),
    // percentile counter through the SERIALIZED two-phase topology
    // (counter.go:483-512 analog for the engine-extension counter type):
    // per-shard cents histograms → JSON intermediate records → parse +
    // version gate → cross-shard histogram merge → exact quantile pick.
    // Oracle = e09's SQL: shard decomposition must be invisible.
    "e10_twophase_quantiles" -> ((s, dir) => {
      val sharded = events(s, dir).withColumn("shard", pmod(col("user_id"), lit(8)))
      Intermediate.mergeQuantileRecords(
        Intermediate.toQuantileRecords(
          graft.relational.Temporal.partialQuantileState(sharded, "ts", "shard"),
          "value_quantiles_2p", "arn:aws:kinesis:ap-northeast-1:111122223333:stream/in"),
        "value_quantiles_2p", requiredVersion = Some(">=0.1.0"))
    }),
    // heavy-hitter counter through the SERIALIZED two-phase topology (the
    // second engine-extension counter type): per-shard user-count tables →
    // JSON intermediate records → parse + version gate → cross-shard
    // re-sum → per-window rank. Oracle = e07's SQL: the shard hop must be
    // invisible.
    "e11_twophase_hitters" -> ((s, dir) => {
      val sharded = events(s, dir).withColumn("shard", pmod(col("user_id"), lit(8)))
      Intermediate.mergeHitterRecords(
        Intermediate.toHitterRecords(
          graft.relational.Temporal.partialHitterState(sharded, "ts", "shard"),
          "heavy_hitters_2p", "arn:aws:kinesis:ap-northeast-1:111122223333:stream/in"),
        "heavy_hitters_2p", requiredVersion = Some(">=0.1.0"))
    }),
    // Q17 shape: correlated scalar aggregate decorrelated — per-part avg
    // via (sum, count) join-back, integer cross-multiplied threshold
    "h14_small_qty_revenue" -> ((s, dir) =>
      graft.relational.Relational.smallQuantityRevenue(
        Tables.part(s, dir), Tables.lineitem(s, dir))),
    // Integer-exact PageRank over a synthetic host link graph: each doc
    // contributes two out-links between formula hosts (id%97 →
    // (7id+3)%97 and (13id+11)%97 — hosts ≪ docs, the real web-graph
    // shape; in production the edges come from UrlOps.hostOf over page/
    // out-link URL pairs). Three damped rounds at d = 0.85 ppm-exact; the
    // oracle replays the identical truncating-division formula as chained
    // CTEs, so every rank is bit-exact — no float convergence lore.
    "g01_host_pagerank" -> ((s, dir) =>
      GraphOps.pageRank(hostEdgesFixture(Tables.documents(s, dir)),
        iterations = 3)),
    // Integer-exact HITS over the same host graph: two rounds of
    // hub→authority→hub mass passing, each half-round normalized to
    // Σ = 10^12 by ONE DECIMAL(38,0) integral division per node — the
    // hub/directory-page signal PageRank's single score cannot separate.
    // The oracle replays both rounds as chained HUGEINT CTEs.
    "g02_host_hits" -> ((s, dir) =>
      GraphOps.hits(hostEdgesFixture(Tables.documents(s, dir)),
        iterations = 2)),
    // HyperBall neighborhood function over the same host graph: radius-2
    // out-balls as ITERATED HLL sketches (one hll_union_agg per round —
    // the web-scale reachability read), gated by the exact ball size the
    // oracle replays as chained frontier CTEs (the a01 pattern: exact
    // hash-compared, sketch drift breaks within_eps)
    "g04_neighborhood_gate" -> ((s, dir) =>
      GraphOps.neighborhoodGate(hostEdgesFixture(Tables.documents(s, dir)),
        radius = 2)),
    // effective-diameter curve (ANF/HyperBall): NF(r) per radius 0..3
    // with cumulative share of NF(3) — the first at_q radius IS the
    // 90%-effective diameter; exact pair-frame truth + per-radius
    // HyperBall estimate under the measured within_eps gate
    "g13_effective_diameter" -> ((s, dir) =>
      GraphOps.effectiveDiameter(hostEdgesFixture(Tables.documents(s, dir)),
        radius = 3)),
    // radius-bounded stress centrality in the Brandes shape — integer
    // shortest-path counting (no betweenness fractions), forward σ-BFS +
    // backward continuation counts over the shortest-path DAG, plus the
    // Brandes–Pich deterministic-pivot estimate on the md5 channel
    "g14_stress_centrality" -> ((s, dir) =>
      GraphOps.stressCentrality(hostEdgesFixture(Tables.documents(s, dir)),
        radius = 3, sampleMod = 4L)),
    // Degree-oriented triangle counting over the same host graph — the
    // clustering/link-farm density read beside PageRank's centrality:
    // edges orient low→high under the (degree, host) total order
    // (compact-forward / node-iterator++), bounding total wedge work by
    // O(m^1.5) regardless of hub degree — THE skew fix at web scale,
    // where a celebrity host's unoriented wedge list is quadratic in its
    // degree. Output: (host, n_triangles) per corner membership.
    "g05_triangle_counts" -> ((s, dir) =>
      GraphOps.triangleCounts(hostEdgesFixture(Tables.documents(s, dir)))),
    // Watts–Strogatz local clustering per host — g05's corner counts
    // normalized by possible wedges; degree-<2 hosts carry NULL (no
    // possible wedge: absence, not zero)
    "g16_local_clustering" -> ((s, dir) =>
      GraphOps.localClustering(hostEdgesFixture(Tables.documents(s, dir)))),
    // Host-graph weakly-connected components — site clusters, through the
    // REAL UrlOps.hostOf extraction (lowercase + www-strip on raw page/
    // out-link URLs) and the shared CC machinery on portable md5 host
    // ids. The link formula cycles inside groups of 7 residues, so the
    // corpus collapses to 14 islands the oracle's recursive CTE replays.
    "g03_host_components" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val r = col("doc_id") % 97
      val r2 = expr("((doc_id % 97) div 7) * 7 + (((doc_id % 97) % 7) + 1) % 7")
      val edges = docs.select(
        graft.textops.UrlOps.hostOf(concat(lit("https://WWW.h"),
          r.cast("string"), lit(".example.com/page/"), col("doc_id"))).as("src"),
        graft.textops.UrlOps.hostOf(concat(lit("http://h"),
          r2.cast("string"), lit(".example.com/link?x=1"))).as("dst"))
      GraphOps.weakComponents(edges)
    }),
    // k-core membership of the same host graph (Seidman '83) — the
    // link-farm locator: synchronous peeling of nodes with < k
    // surviving neighbors until fixpoint; every node reports
    // (in_core, core_degree). The driver's early exit fires only on a
    // PROVEN fixpoint (monotone peel), so fixed-round oracle replay
    // matches regardless of where convergence lands.
    "g09_kcore" -> ((s, dir) =>
      GraphOps.kCore(hostEdgesFixture(Tables.documents(s, dir)), k = 3)),
    // Degree assortativity of the same host graph — Newman 2002's
    // topology read (web graphs are disassortative; a crawl turning
    // assortative has swallowed an interlinked farm) from four exact
    // integer moments + ONE truncating DECIMAL division to ppm
    "g08_degree_assortativity" -> ((s, dir) =>
      GraphOps.degreeAssortativity(hostEdgesFixture(Tables.documents(s, dir)))),
    // Exact bounded-radius harmonic centrality over the same host graph
    // — the read CommonCrawl publishes for its host ranks: each node
    // first reached within 3 hops along IN-links contributes
    // 10^6 div d, an integer sum both engines replay. The exact
    // Θ(Σ|ball|) pair frame is the fixture-affordable truth; g04's
    // HyperBall iteration is the sketch path at web scale.
    "g07_harmonic_centrality" -> ((s, dir) =>
      GraphOps.harmonicCentrality(hostEdgesFixture(Tables.documents(s, dir)),
        radius = 3)),
    // HyperBall harmonic centrality (Boldi–Vigna) — g07's web-scale
    // path, gated: per-round HLL ball-size DELTAS give the estimate
    // (nodes × sketch state, no pair frame), the exact g07 values ride
    // the row hash-compared, and within_eps measures the sketch against
    // them (the a01/g04 pattern)
    "g10_harmonic_gate" -> ((s, dir) =>
      GraphOps.harmonicGate(hostEdgesFixture(Tables.documents(s, dir)),
        radius = 3)),
    // Synchronous label-propagation communities over the same host graph
    // — the read between g03's weak components (too coarse: the fixture
    // is one big component per residue family) and g05's per-host
    // triangle density (too local): 4 deterministic rounds, each node
    // adopting its neighbors' most frequent previous-round label, ties
    // to the smallest. Fixed rounds + a total tie order make the result
    // a pure function of the graph both engines replay bit-for-bit.
    // Newman modularity of the g06 partition — the measured-quality
    // score for the LPA communities (per community: internal edges,
    // degree sum, q_ppm contribution; positive = denser than chance)
    "g15_modularity" -> ((s, dir) => {
      val e = hostEdgesFixture(Tables.documents(s, dir))
      GraphOps.modularity(e, GraphOps.labelPropagation(e, rounds = 4))
    }),
    "g06_label_communities" -> ((s, dir) =>
      GraphOps.labelPropagation(hostEdgesFixture(Tables.documents(s, dir)),
        rounds = 4)),
    // TrustRank over the same host graph: teleport mass restricted to
    // the 8 seed hosts h0,h13,...,h91 — the seeded-quality-prior
    // complement of g01's popularity rank; identical per-edge rounding
    "g12_trustrank" -> ((s, dir) => {
      val edges = hostEdgesFixture(Tables.documents(s, dir))
      val hosts = edges.select(col("src").as("host"))
        .unionAll(edges.select(col("dst").as("host"))).distinct()
      GraphOps.trustRank(edges,
        hosts.where(substring(col("host"), 2, 10).cast("int") % 13 === 0),
        iterations = 3)
    }),
    // Link prediction over the same host graph (Liben-Nowell &
    // Kleinberg): non-adjacent pairs with ≥ 2 common neighbors, scored
    // by the three classic integer-exact signals — common count,
    // neighborhood Jaccard ppm, preferential attachment. The wedge join
    // is hosts-bounded (the g05 cost shape); hub graphs get the
    // maxWedgeDegree cap
    "g11_link_prediction" -> ((s, dir) =>
      GraphOps.linkPrediction(hostEdgesFixture(Tables.documents(s, dir)))),
  )

  /** The g05 compact-forward triangle oracle chain (edges → und → deg →
    * oriented → wedges → closed triangles → corner memberships), shared
    * by g05 and g16's per-host normalization. */
  private def triCtes: String =
    s"""edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM edges WHERE src != dst),
          |deg AS (SELECT host, count(*) AS d FROM (
          |    SELECT a AS host FROM und UNION ALL SELECT b FROM und) x GROUP BY 1),
          |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
          |               THEN a ELSE b END AS u,
          |             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
          |               THEN b ELSE a END AS v,
          |             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
          |               THEN db.d ELSE da.d END AS dv
          |      FROM und JOIN deg da ON da.host = a JOIN deg db ON db.host = b),
          |w AS (SELECT e1.u, e1.v AS v1, e2.v AS v2
          |      FROM o e1 JOIN o e2 ON e1.u = e2.u
          |      WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
          |tri AS (SELECT w.u, w.v1, w.v2
          |        FROM w JOIN o ON o.u = w.v1 AND o.v = w.v2),
          |corners AS (SELECT u AS host FROM tri
          |  UNION ALL SELECT v1 FROM tri UNION ALL SELECT v2 FROM tri)""".stripMargin

  /** The g06 LPA oracle chain (edges → nodes → sym → four synchronous
    * rounds l1..l4), shared by g06 and g15's modularity score so the
    * two partitions cannot desynchronize. Per round: neighbor-label
    * vote counts and a (count desc, label asc) row_number argmax;
    * isolated nodes keep their label via LEFT JOIN + coalesce. */
  private def lpaCtes: String = {
    def lpaRound(prev: String, out: String): String =
      s"""v$out AS (SELECT s.u AS host, l.community AS lab, count(*) AS c
        |  FROM sym s JOIN l$prev l ON s.v = l.host GROUP BY 1, 2),
        |w$out AS (SELECT host, lab FROM (
        |  SELECT host, lab, row_number() OVER (
        |    PARTITION BY host ORDER BY c DESC, lab ASC) AS rn FROM v$out)
        |  WHERE rn = 1),
        |l$out AS (SELECT l.host, coalesce(w.lab, l.community) AS community
        |  FROM l$prev l LEFT JOIN w$out w ON l.host = w.host)""".stripMargin
    s"""edges AS (
      |  ${hostEdgesCte.replace("\n", "\n  ")}),
      |nodes AS (SELECT DISTINCT host FROM (
      |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) n),
      |sym AS (SELECT DISTINCT u, v FROM (
      |    SELECT src AS u, dst AS v FROM edges
      |    UNION ALL SELECT dst, src FROM edges) s WHERE u != v),
      |l0 AS (SELECT host, host AS community FROM nodes),
      |${lpaRound("0", "1")},
      |${lpaRound("1", "2")},
      |${lpaRound("2", "3")},
      |${lpaRound("3", "4")}""".stripMargin
  }

  /** e24/e25 shared oracle: e14's exact top-3 hitters + a cell-for-cell
    * rebuild of the deterministic CMS counter table (depth 3, width 64,
    * the "cms<j>:<key>" md5 channel), point-query min, and the two bound
    * verdicts — all computed, nothing declared. `closedOnly` restricts to
    * watermark-closed windows (strict <, the c29/e20 convention). */
  private def cmsGateSql(closedOnly: Boolean): String = {
    val closed = if (closedOnly)
      "\n  AND epoch_ms(r.h) + 3600000 < (SELECT epoch_ms(max(ts)) FROM events)"
    else ""
    s"""WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h, user_id,
      |  count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2),
      |t AS (SELECT h, sum(n_events)::BIGINT AS n FROM c GROUP BY 1),
      |r AS (SELECT *, row_number() OVER (PARTITION BY h
      |  ORDER BY n_events DESC, user_id) AS rank FROM c),
      |js AS (SELECT unnest([0, 1, 2]) AS j),
      |cms AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h, j,
      |    ${h60("'cms' || j || ':' || user_id")} % 64 AS bucket,
      |    count(*)::BIGINT AS cnt
      |  FROM events CROSS JOIN js GROUP BY 1, 2, 3),
      |est AS (SELECT r.h, r.user_id, min(cms.cnt) AS cms_est
      |  FROM r CROSS JOIN js
      |  JOIN cms ON cms.h = r.h AND cms.j = js.j
      |    AND cms.bucket = ${h60("'cms' || js.j || ':' || r.user_id")} % 64
      |  WHERE r.rank <= 3 GROUP BY 1, 2)
      |SELECT epoch_ms(r.h) AS window_start, r.user_id, r.n_events,
      |  rank::BIGINT AS rank, t.n, e.cms_est,
      |  (e.cms_est >= r.n_events
      |   AND e.cms_est <= r.n_events + (4 * t.n) // 64)::BIGINT AS within_bound
      |FROM r JOIN t ON r.h = t.h
      |JOIN est e ON e.h = r.h AND e.user_id = r.user_id
      |WHERE r.rank <= 3$closed""".stripMargin
  }

  def oracle: Map[String, String] = Map(
      "h01_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          | sum(CAST(floor(l_quantity) AS BIGINT))::BIGINT AS sum_qty,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT))::BIGINT AS sum_base_cents,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS sum_disc_cpct,
          | count(*)::BIGINT AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-07-01'
          |GROUP BY 1, 2""".stripMargin,
      "h02_top_orders" ->
        """SELECT o_orderkey AS orderkey, epoch_ms(o_orderdate) AS order_date_ms,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS revenue_cpct
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |  AND l_shipdate > TIMESTAMP '1998-01-01'
          |GROUP BY 1, 2
          |ORDER BY revenue_cpct DESC, orderkey LIMIT 10""".stripMargin,
      "h05_large_orders" ->
        """SELECT c_name, c_custkey AS custkey, o_orderkey AS orderkey,
          | epoch_ms(o_orderdate) AS order_date_ms, total_qty
          |FROM (SELECT l_orderkey,
          |        sum(CAST(floor(l_quantity) AS BIGINT))::BIGINT AS total_qty
          |      FROM lineitem GROUP BY 1 HAVING total_qty > 250) big
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey""".stripMargin,
      "h06_volume_shipping" ->
        """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
          | CAST(year(l_shipdate) AS BIGINT) AS ship_year,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS revenue_cpct,
          | count(*)::BIGINT AS n_lines
          |FROM lineitem
          |JOIN supplier ON s_suppkey = l_suppkey
          |JOIN nation sn ON sn.n_nationkey = s_nationkey
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |JOIN nation cn ON cn.n_nationkey = c_nationkey
          |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_8')
          |   OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_3')
          |GROUP BY 1, 2, 3""".stripMargin,
      "h07_promo_share" ->
        """SELECT
          | sum(CASE WHEN p_type = 'PROMO'
          |      THEN CAST(floor(l_extendedprice*100) AS BIGINT)
          |           * (100 - CAST(floor(l_discount*100) AS BIGINT))
          |      ELSE 0 END)::BIGINT AS promo_cpct,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS total_cpct,
          | (sum(CASE WHEN p_type = 'PROMO'
          |      THEN CAST(floor(l_extendedprice*100) AS BIGINT)
          |           * (100 - CAST(floor(l_discount*100) AS BIGINT))
          |      ELSE 0 END) * 1000000
          |  // sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT))))::BIGINT AS promo_share_ppm
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,
      "h08_late_priority" ->
        """SELECT o_orderpriority, count(*)::BIGINT AS n_orders
          |FROM orders o
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-07-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o.o_orderkey
          |                AND l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
          |GROUP BY 1""".stripMargin,
      "h04_brand_profit" ->
        """SELECT n_name AS supp_nation, p_brand,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS revenue_cpct,
          | count(*)::BIGINT AS n_lines
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE p_type = 'PROMO'
          |GROUP BY 1, 2""".stripMargin,
      "h09_supplier_diversity" ->
        """SELECT p_brand, p_size::BIGINT AS p_size,
          | count(DISTINCT l_suppkey)::BIGINT AS n_suppliers
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_type <> 'PROMO'
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY 1, 2""".stripMargin,
      "h10_min_cost_supplier" ->
        """WITH priced AS (SELECT l_partkey AS partkey, l_suppkey AS suppkey,
          |       CAST(floor(l_extendedprice*100) AS BIGINT) AS price_cents
          |     FROM lineitem JOIN part ON l_partkey = p_partkey
          |     WHERE p_type = 'PROMO'),
          |mn AS (SELECT partkey, min(price_cents) AS min_cents FROM priced GROUP BY 1)
          |SELECT DISTINCT partkey, suppkey, s_name, min_cents
          |FROM priced JOIN mn USING (partkey)
          |JOIN supplier ON suppkey = s_suppkey
          |WHERE price_cents = min_cents""".stripMargin,
      "h11_idle_rich" ->
        """WITH c AS (SELECT c_custkey,
          |       CAST(floor(c_acctbal*100) AS BIGINT) AS bal FROM customer),
          |st AS (SELECT count(*)::BIGINT AS n_pos, sum(bal)::BIGINT AS sum_pos
          |       FROM c WHERE bal > 0)
          |SELECT count(*)::BIGINT AS n_customers, sum(bal)::BIGINT AS total_cents
          |FROM c, st
          |WHERE bal * n_pos > sum_pos
          |  AND c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
      "e01_asof_attribution" ->
        """SELECT p.user_id, p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ms,
          | c.event_id AS click_id, epoch_ms(c.ts) AS click_ms,
          | epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
      "e02_retention" ->
        """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          |coh AS (SELECT user_id, min(day) AS cohort FROM days GROUP BY 1)
          |SELECT epoch_ms(cohort::TIMESTAMP) AS cohort_ms,
          | date_diff('day', cohort, day)::BIGINT AS day_offset,
          | count(*)::BIGINT AS n_users
          |FROM days JOIN coh USING (user_id) GROUP BY 1, 2""".stripMargin,
      "e03_funnel" ->
        """WITH w1 AS (SELECT user_id, ts, event_type,
          |  min(CASE WHEN event_type = 'signup' THEN ts END)
          |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sign_so_far
          |  FROM events),
          |w2 AS (SELECT *,
          |  min(CASE WHEN event_type = 'click' AND sign_so_far < ts
          |            AND ts <= sign_so_far + INTERVAL '6 hours' THEN ts END)
          |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS click_so_far
          |  FROM w1),
          |u AS (SELECT user_id,
          |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
          |  max(CASE WHEN event_type = 'click' AND sign_so_far < ts
          |           AND ts <= sign_so_far + INTERVAL '6 hours' THEN 1 ELSE 0 END) AS c,
          |  max(CASE WHEN event_type = 'purchase' AND click_so_far < ts
          |           AND ts <= click_so_far + INTERVAL '6 hours' THEN 1 ELSE 0 END) AS p
          |  FROM w2 GROUP BY 1)
          |SELECT (CASE WHEN p = 1 THEN 3 WHEN c = 1 THEN 2
          |             WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS funnel_stage,
          | count(*)::BIGINT AS n_users
          |FROM u GROUP BY 1""".stripMargin,
      "h15_returned_items" ->
        """WITH pc AS (SELECT o_custkey,
          |  sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |      * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS revenue_cpct
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  WHERE l_returnflag = 'R'
          |    AND o_orderdate >= TIMESTAMP '1997-01-01'
          |    AND o_orderdate < TIMESTAMP '1997-07-01'
          |  GROUP BY 1)
          |SELECT c_custkey, c_name, n_name,
          | CAST(floor(c_acctbal*100) AS BIGINT) AS acctbal_cents, revenue_cpct
          |FROM pc JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |ORDER BY revenue_cpct DESC, c_custkey LIMIT 20""".stripMargin,
      "h18_top_supplier" ->
        """WITH ps AS (SELECT l_suppkey,
          |  sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |      * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS total_cpct
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01'
          |  GROUP BY 1)
          |SELECT s_suppkey, s_name, total_cpct
          |FROM ps JOIN supplier ON l_suppkey = s_suppkey
          |WHERE total_cpct = (SELECT max(total_cpct) FROM ps)""".stripMargin,
      "h16_revenue_change" ->
        """SELECT sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * CAST(floor(l_discount*100) AS BIGINT))::BIGINT AS revenue_cpct,
          | count(*)::BIGINT AS n_lines
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND l_discount >= 0.05 AND l_discount <= 0.07
          |  AND l_quantity < 24""".stripMargin,
      "h19_disjunctive_revenue" ->
        """SELECT sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS revenue_cpct,
          | count(*)::BIGINT AS n_lines
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
          |       AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
          |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
      "h21_dominant_suppliers" ->
        """WITH sp AS (SELECT l_suppkey, l_partkey,
          |    sum(floor(l_quantity))::BIGINT AS s_qty
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  WHERE p_type = 'PROMO' GROUP BY 1, 2),
          |t AS (SELECT l_partkey, sum(s_qty)::BIGINT AS t_qty FROM sp GROUP BY 1),
          |dom AS (SELECT l_suppkey, count(*)::BIGINT AS n_parts
          |  FROM sp JOIN t USING (l_partkey) WHERE 8*s_qty > t_qty GROUP BY 1)
          |SELECT s_suppkey, s_name, n_parts
          |FROM supplier JOIN dom ON s_suppkey = l_suppkey""".stripMargin,
      // h22: the per-part aggregate joins a 1-row (total, n) scalar;
      // HUGEINT is DuckDB's DECIMAL(38,0) stand-in for the cross-multiply
      "h24_revenue_cube" ->
        """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n_lines,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT))::BIGINT AS rev_cents,
          | GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS grp
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
      // h25: the identical interleave as a generate_series bit fold
      "h25_zorder_pruning" ->
        """WITH src AS (SELECT (user_id & 1023) AS x,
          |    ((floor(value * 100)::BIGINT >> 6) & 1023) AS y
          |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
          |zz AS (SELECT x, y,
          |    sum((((x >> i) & 1) << (2*i)) | (((y >> i) & 1) << (2*i+1)))::BIGINT AS z
          |  FROM (SELECT row_number() OVER () AS rid, x, y FROM src) r
          |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS i)
          |  GROUP BY rid, x, y),
          |b AS (SELECT z >> 8 AS bucket, count(*)::BIGINT AS n_rows,
          |    min(x)::BIGINT AS min_x, max(x)::BIGINT AS max_x,
          |    min(y)::BIGINT AS min_y, max(y)::BIGINT AS max_y
          |  FROM zz GROUP BY 1)
          |SELECT bucket, n_rows, min_x, max_x, min_y, max_y,
          |  (CASE WHEN min_x > 47 OR max_x < 40 OR min_y > 163 OR max_y < 100
          |   THEN 1 ELSE 0 END)::BIGINT AS skip_probe
          |FROM b""".stripMargin,
      "h23_salted_join" ->
        """SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT))::BIGINT AS rev_cents
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1""".stripMargin,
      "h22_important_parts" ->
        """WITH per AS (SELECT l_partkey,
          |    sum(CAST(floor(l_extendedprice*100) AS BIGINT))::BIGINT AS part_cents
          |  FROM lineitem GROUP BY 1),
          |tot AS (SELECT sum(part_cents)::HUGEINT AS total,
          |               count(*)::HUGEINT AS n FROM per)
          |SELECT l_partkey AS partkey, part_cents FROM per, tot
          |WHERE part_cents::HUGEINT * n * 10 > 12 * total""".stripMargin,
      "h20_lateness_matrix" ->
        """SELECT l_returnflag,
          | sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
          |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
          | sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
          |      THEN 0 ELSE 1 END)::BIGINT AS low_line_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          |GROUP BY 1""".stripMargin,
      "h17_market_share" ->
        """WITH mc AS (SELECT c_custkey FROM customer
          |  JOIN nation ON c_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'ASIA'),
          |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
          |  JOIN nation ON s_nationkey = n_nationkey),
          |vol AS (SELECT year(o_orderdate)::BIGINT AS o_year, supp_nation,
          |  CAST(floor(l_extendedprice*100) AS BIGINT)
          |    * (100 - CAST(floor(l_discount*100) AS BIGINT)) AS v
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN mc ON o_custkey = c_custkey
          |  JOIN sn ON l_suppkey = s_suppkey)
          |SELECT o_year,
          | sum(CASE WHEN supp_nation = 'NATION_7' THEN v ELSE 0 END)::BIGINT AS nation_cpct,
          | sum(v)::BIGINT AS total_cpct,
          | (sum(CASE WHEN supp_nation = 'NATION_7' THEN v ELSE 0 END) * 1000000
          |   // sum(v))::BIGINT AS share_ppm
          |FROM vol GROUP BY 1""".stripMargin,
      "h13_order_histogram" ->
        """WITH pc AS (SELECT o_custkey, count(*)::BIGINT AS n FROM orders
          |  WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
          |SELECT coalesce(n, 0)::BIGINT AS c_count, count(*)::BIGINT AS custdist
          |FROM customer LEFT JOIN pc ON c_custkey = o_custkey
          |GROUP BY 1""".stripMargin,
      "e05_user_sessions" ->
        """WITH o AS (SELECT user_id, ts,
          |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |        OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
          |             + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
          |  FROM events),
          |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS UNBOUNDED PRECEDING) AS session_seq FROM o)
          |SELECT user_id, session_seq::BIGINT AS session_seq,
          | epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
          | count(*)::BIGINT AS n_events,
          | epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
          |FROM s GROUP BY user_id, session_seq""".stripMargin,
      // e15: lag over the per-(type, hour) aggregate — prev/delta NULL on
      // each type's first observed hour, gap_hours exposes calendar holes
      "e15_count_deltas" ->
        """WITH hourly AS (SELECT event_type,
          |  epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS hour_ms,
          |  count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2)
          |SELECT event_type, hour_ms, n_events,
          |  lag(n_events) OVER tw AS prev_n,
          |  (n_events - lag(n_events) OVER tw)::BIGINT AS delta,
          |  ((hour_ms - lag(hour_ms) OVER tw) // 3600000)::BIGINT AS gap_hours
          |FROM hourly WINDOW tw AS (PARTITION BY event_type ORDER BY hour_ms)""".stripMargin,
      // e18: hour() under the pinned UTC session TZ; share and peak over
      // the types×24-bounded profile
      "e18_hourly_profile" ->
        """WITH h AS (SELECT event_type, hour(ts)::BIGINT AS hour_of_day,
          |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2)
          |SELECT event_type, hour_of_day, n AS n_events,
          |  (n * 1000000 // sum(n) OVER (PARTITION BY event_type))::BIGINT AS share_ppm,
          |  (CASE WHEN row_number() OVER (PARTITION BY event_type
          |     ORDER BY n DESC, hour_of_day ASC) = 1
          |   THEN 1 ELSE 0 END)::BIGINT AS is_peak
          |FROM h""".stripMargin,
      // e16: the identical trailing-array lower medians — list() over the
      // same RANGE frame, sorted[(n-1)//2], MAD from the |v-med| transform
      "e16_mad_anomalies" ->
        """WITH hourly AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
          |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
          |h2 AS (SELECT *, epoch_ms(hour) // 3600000 AS hn FROM hourly),
          |w AS (SELECT event_type, hour, n,
          |  list(n) OVER (PARTITION BY event_type ORDER BY hn
          |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS tr
          |  FROM h2),
          |m AS (SELECT *, coalesce(len(tr), 0) AS c,
          |  CASE WHEN coalesce(len(tr), 0) > 0
          |    THEN list_sort(tr)[((len(tr) - 1) // 2)::INT + 1] END AS med
          |  FROM w),
          |m2 AS (SELECT *,
          |  CASE WHEN c > 0
          |    THEN list_sort(list_transform(tr, v -> abs(v - med)))[((c - 1) // 2)::INT + 1]
          |    END AS mad
          |  FROM m)
          |SELECT epoch_ms(hour) AS hour_ms, event_type, n AS n_events,
          | c::BIGINT AS trail_cnt, med::BIGINT AS med, mad::BIGINT AS mad,
          | (CASE WHEN c >= 12 AND abs(n - med) > 5 * mad
          |  THEN 1 ELSE 0 END)::BIGINT AS is_anomaly
          |FROM m2""".stripMargin,
      // e22: e21 restricted to watermark-CLOSED hours (the e12/e17
      // convention) — and restricted BEFORE the median/prefix stages,
      // because the streamed face computes its reference level from the
      // closed-hour table it actually accumulated
      "e22_stream_cusum_parity" ->
        """WITH hourly0 AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
          |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
          |hourly AS (SELECT * FROM hourly0
          |  WHERE epoch_ms(hour + INTERVAL '1 hour') <=
          |        (SELECT epoch_ms(time_bucket(INTERVAL '1 hour', max(ts))) FROM events)),
          |med AS (SELECT event_type,
          |    (list_sort(list(n)))[((count(*) - 1) // 2)::INT + 1]::BIGINT AS med
          |  FROM hourly GROUP BY 1),
          |p AS (SELECT h.event_type, hour, n, med,
          |    sum(n - med - 1) OVER (PARTITION BY h.event_type ORDER BY hour) AS pf
          |  FROM hourly h JOIN med USING (event_type)),
          |s AS (SELECT event_type, hour, n, med,
          |    pf - least(0, min(pf) OVER (PARTITION BY event_type ORDER BY hour)) AS cusum
          |  FROM p)
          |SELECT event_type, epoch_ms(hour) AS hour_ms, n AS n_events, med,
          |  cusum::BIGINT AS cusum,
          |  (CASE WHEN cusum > 4 * greatest(med, 1) THEN 1 ELSE 0 END)::BIGINT
          |    AS is_alarm
          |FROM s""".stripMargin,
      // e23: e05's gaps-and-islands verbatim (session_window's merge is
      // inclusive at the gap reach, ≡ e05's gap ≤ g — spec-proved),
      // restricted to watermark-CLOSED sessions (end + gap <= max ts,
      // the c23 eviction convention); session_seq renumbers over the
      // closed subset, which is a prefix of each user's batch numbering
      "e23_stream_sessions" ->
        """WITH o AS (SELECT user_id, ts,
          |  CASE WHEN lag(ts) OVER w IS NULL
          |        OR ts > lag(ts) OVER w + INTERVAL '30 minutes'
          |       THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id
          |      ORDER BY ts ROWS UNBOUNDED PRECEDING) AS seq FROM o),
          |g AS (SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
          |      count(*)::BIGINT AS n_events FROM s GROUP BY user_id, seq),
          |c AS (SELECT * FROM g WHERE end_ts + INTERVAL '30 minutes' <=
          |      (SELECT max(ts) FROM events))
          |SELECT user_id,
          | row_number() OVER (PARTITION BY user_id ORDER BY start_ts)::BIGINT
          |   AS session_seq,
          | epoch_ms(start_ts) AS start_ms, epoch_ms(end_ts) AS end_ms,
          | n_events, epoch_ms(end_ts) - epoch_ms(start_ts) AS duration_ms
          |FROM c""".stripMargin,
      // e21: the same prefix-minimum identity — cumulative sum of
      // (n − med − 1) minus its own running minimum clipped at 0
      "e21_cusum_drift" ->
        """WITH hourly AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
          |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
          |med AS (SELECT event_type,
          |    (list_sort(list(n)))[((count(*) - 1) // 2)::INT + 1]::BIGINT AS med
          |  FROM hourly GROUP BY 1),
          |p AS (SELECT h.event_type, hour, n, med,
          |    sum(n - med - 1) OVER (PARTITION BY h.event_type ORDER BY hour) AS pf
          |  FROM hourly h JOIN med USING (event_type)),
          |s AS (SELECT event_type, hour, n, med,
          |    pf - least(0, min(pf) OVER (PARTITION BY event_type ORDER BY hour)) AS cusum
          |  FROM p)
          |SELECT event_type, epoch_ms(hour) AS hour_ms, n AS n_events, med,
          |  cusum::BIGINT AS cusum,
          |  (CASE WHEN cusum > 4 * greatest(med, 1) THEN 1 ELSE 0 END)::BIGINT
          |    AS is_alarm
          |FROM s""".stripMargin,
      "e06_count_spikes" ->
        """WITH hourly AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
          |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
          |h2 AS (SELECT *, epoch_ms(hour) // 3600000 AS hn FROM hourly),
          |w AS (SELECT event_type, hour, n,
          |  count(*) OVER tw AS c,
          |  coalesce(sum(n) OVER tw, 0)::BIGINT AS s,
          |  coalesce(sum(n::HUGEINT * n) OVER tw, 0::HUGEINT) AS q
          |  FROM h2 WINDOW tw AS (PARTITION BY event_type ORDER BY hn
          |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
          |SELECT epoch_ms(hour) AS hour_ms, event_type, n AS n_events,
          | c::BIGINT AS trail_cnt, s AS trail_sum,
          | (CASE WHEN c >= 12 AND n*c - s > 0
          |   AND ((n*c - s)::HUGEINT * (n*c - s)) > 9 * (c::HUGEINT * q - s::HUGEINT * s)
          |  THEN 1 ELSE 0 END)::BIGINT AS is_spike
          |FROM w""".stripMargin,
      // e12: e06 restricted to hours the watermark closed (all but the
      // max-ts hour); trailing stats only look BACKWARD, so flags on
      // closed hours are identical over the closed subset
      "e12_stream_spikes_parity" ->
        """WITH hourly AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
          |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
          |h2 AS (SELECT *, epoch_ms(hour) // 3600000 AS hn FROM hourly),
          |w AS (SELECT event_type, hour, n,
          |  count(*) OVER tw AS c,
          |  coalesce(sum(n) OVER tw, 0)::BIGINT AS s,
          |  coalesce(sum(n::HUGEINT * n) OVER tw, 0::HUGEINT) AS q
          |  FROM h2 WINDOW tw AS (PARTITION BY event_type ORDER BY hn
          |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
          |SELECT epoch_ms(hour) AS hour_ms, event_type, n AS n_events,
          | c::BIGINT AS trail_cnt, s AS trail_sum,
          | (CASE WHEN c >= 12 AND n*c - s > 0
          |   AND ((n*c - s)::HUGEINT * (n*c - s)) > 9 * (c::HUGEINT * q - s::HUGEINT * s)
          |  THEN 1 ELSE 0 END)::BIGINT AS is_spike
          |FROM w
          |WHERE epoch_ms(hour + INTERVAL '1 hour') <=
          |      (SELECT epoch_ms(time_bucket(INTERVAL '1 hour', max(ts))) FROM events)"""
          .stripMargin,
      // e17: e16's lower-median CTEs restricted to watermark-closed hours
      // (all but the max-ts hour); trailing arrays only look backward
      "e17_stream_mad_parity" ->
        """WITH hourly AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
          |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
          |h2 AS (SELECT *, epoch_ms(hour) // 3600000 AS hn FROM hourly),
          |w AS (SELECT event_type, hour, n,
          |  list(n) OVER (PARTITION BY event_type ORDER BY hn
          |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS tr
          |  FROM h2),
          |m AS (SELECT *, coalesce(len(tr), 0) AS c,
          |  CASE WHEN coalesce(len(tr), 0) > 0
          |    THEN list_sort(tr)[((len(tr) - 1) // 2)::INT + 1] END AS med
          |  FROM w),
          |m2 AS (SELECT *,
          |  CASE WHEN c > 0
          |    THEN list_sort(list_transform(tr, v -> abs(v - med)))[((c - 1) // 2)::INT + 1]
          |    END AS mad
          |  FROM m)
          |SELECT epoch_ms(hour) AS hour_ms, event_type, n AS n_events,
          | c::BIGINT AS trail_cnt, med::BIGINT AS med, mad::BIGINT AS mad,
          | (CASE WHEN c >= 12 AND abs(n - med) > 5 * mad
          |  THEN 1 ELSE 0 END)::BIGINT AS is_anomaly
          |FROM m2
          |WHERE epoch_ms(hour + INTERVAL '1 hour') <=
          |      (SELECT epoch_ms(time_bucket(INTERVAL '1 hour', max(ts))) FROM events)"""
          .stripMargin,
      "e08_gap_quantiles" ->
        """WITH g AS (SELECT event_type,
          |  epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY event_type, user_id
          |    ORDER BY ts)) AS gap_ms
          |  FROM events),
          |h AS (SELECT event_type, gap_ms, count(*)::BIGINT AS cnt FROM g
          |      WHERE gap_ms IS NOT NULL GROUP BY 1, 2),
          |c AS (SELECT event_type, gap_ms, cnt,
          |  sum(cnt) OVER (PARTITION BY event_type ORDER BY gap_ms) AS cum,
          |  sum(cnt) OVER (PARTITION BY event_type) AS n FROM h)
          |SELECT event_type, p_ppm, gap_ms
          |FROM c CROSS JOIN (SELECT unnest([500000, 900000, 990000]::BIGINT[]) AS p_ppm)
          |WHERE (((n-1) * p_ppm) // 1000000 + 1)::BIGINT > cum - cnt
          |  AND (((n-1) * p_ppm) // 1000000 + 1)::BIGINT <= cum""".stripMargin,
      "e09_value_quantiles" ->
        """WITH h AS (SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
          |  CAST(floor(value * 100) AS BIGINT) AS value_cents, count(*)::BIGINT AS cnt
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |c AS (SELECT window_start, value_cents, cnt,
          |  sum(cnt) OVER (PARTITION BY window_start ORDER BY value_cents) AS cum,
          |  sum(cnt) OVER (PARTITION BY window_start) AS n FROM h)
          |SELECT window_start, p_ppm, value_cents
          |FROM c CROSS JOIN (SELECT unnest([500000, 900000, 990000]::BIGINT[]) AS p_ppm)
          |WHERE (((n-1) * p_ppm) // 1000000 + 1)::BIGINT > cum - cnt
          |  AND (((n-1) * p_ppm) // 1000000 + 1)::BIGINT <= cum""".stripMargin,
      // e13: exact quantiles + n (e09's SQL) + literal-true verdicts —
      // the sketch gate is measured Spark-side (a01 pattern)
      "e13_quantile_sketch_gate" ->
        """WITH h AS (SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
          |  CAST(floor(value * 100) AS BIGINT) AS value_cents, count(*)::BIGINT AS cnt
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |c AS (SELECT window_start, value_cents, cnt,
          |  sum(cnt) OVER (PARTITION BY window_start ORDER BY value_cents) AS cum,
          |  sum(cnt) OVER (PARTITION BY window_start) AS n FROM h)
          |SELECT window_start, p_ppm, value_cents, n::BIGINT AS n,
          |  1::BIGINT AS within_eps
          |FROM c CROSS JOIN (SELECT unnest([500000, 900000, 990000]::BIGINT[]) AS p_ppm)
          |WHERE (((n-1) * p_ppm) // 1000000 + 1)::BIGINT > cum - cnt
          |  AND (((n-1) * p_ppm) // 1000000 + 1)::BIGINT <= cum""".stripMargin,
      // e19: e13's SQL restricted to watermark-closed windows (strict <:
      // the fixture's max ts is never hour-aligned, the c29 convention);
      // the streamed sketch's drift is measured Spark-side into within_eps
      "e19_stream_quantile_sketch" ->
        """WITH h AS (SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
          |  CAST(floor(value * 100) AS BIGINT) AS value_cents, count(*)::BIGINT AS cnt
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |c AS (SELECT window_start, value_cents, cnt,
          |  sum(cnt) OVER (PARTITION BY window_start ORDER BY value_cents) AS cum,
          |  sum(cnt) OVER (PARTITION BY window_start) AS n FROM h)
          |SELECT window_start, p_ppm, value_cents, n::BIGINT AS n,
          |  1::BIGINT AS within_eps
          |FROM c CROSS JOIN (SELECT unnest([500000, 900000, 990000]::BIGINT[]) AS p_ppm)
          |WHERE (((n-1) * p_ppm) // 1000000 + 1)::BIGINT > cum - cnt
          |  AND (((n-1) * p_ppm) // 1000000 + 1)::BIGINT <= cum
          |  AND window_start + 3600000 < (SELECT epoch_ms(max(ts)) FROM events)"""
          .stripMargin,
      // e14: e07's exact top-3 SQL + the window total + literal-true
      // verdicts — the Misra–Gries bound is measured Spark-side (a01/e13
      // pattern)
      "e14_hitter_sketch_gate" ->
        """WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h, user_id,
          |  count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2),
          |t AS (SELECT h, sum(n_events)::BIGINT AS n FROM c GROUP BY 1),
          |r AS (SELECT *, row_number() OVER (PARTITION BY h
          |  ORDER BY n_events DESC, user_id) AS rank FROM c)
          |SELECT epoch_ms(r.h) AS window_start, user_id, n_events,
          |  rank::BIGINT AS rank, t.n, 1::BIGINT AS within_bound
          |FROM r JOIN t ON r.h = t.h WHERE rank <= 3""".stripMargin,
      // e24/e25: e14's exact top-3 SQL + a cell-for-cell DuckDB rebuild
      // of the deterministic CMS counter table — estimate and BOTH bound
      // verdicts computed by the oracle, never declared (the only sketch
      // family where that is possible: md5 hashes, no register
      // nondeterminism). e25 = e24 restricted to watermark-closed
      // windows (strict <, the c29/e20 convention).
      "e24_cms_hitter_gate" -> cmsGateSql(closedOnly = false),
      "e25_stream_cms_counters" -> cmsGateSql(closedOnly = true),
      // e26: the two-phase hop must be invisible — same SQL as e24
      "e26_twophase_cms" -> cmsGateSql(closedOnly = false),
      // e20: e14's exact SQL restricted to watermark-closed windows
      // (strict <, the c29 convention); the streamed sketch's bound
      // violation would flip within_bound Spark-side
      "e20_stream_hitter_sketch" ->
        """WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h, user_id,
          |  count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2),
          |t AS (SELECT h, sum(n_events)::BIGINT AS n FROM c GROUP BY 1),
          |r AS (SELECT *, row_number() OVER (PARTITION BY h
          |  ORDER BY n_events DESC, user_id) AS rank FROM c)
          |SELECT epoch_ms(r.h) AS window_start, user_id, n_events,
          |  rank::BIGINT AS rank, t.n, 1::BIGINT AS within_bound
          |FROM r JOIN t ON r.h = t.h WHERE rank <= 3
          |  AND epoch_ms(r.h) + 3600000 < (SELECT epoch_ms(max(ts)) FROM events)"""
          .stripMargin,
      // e10: the two-phase hop must be invisible — same SQL as e09
      "e10_twophase_quantiles" ->
        """WITH h AS (SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
          |  CAST(floor(value * 100) AS BIGINT) AS value_cents, count(*)::BIGINT AS cnt
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |c AS (SELECT window_start, value_cents, cnt,
          |  sum(cnt) OVER (PARTITION BY window_start ORDER BY value_cents) AS cum,
          |  sum(cnt) OVER (PARTITION BY window_start) AS n FROM h)
          |SELECT window_start, p_ppm, value_cents
          |FROM c CROSS JOIN (SELECT unnest([500000, 900000, 990000]::BIGINT[]) AS p_ppm)
          |WHERE (((n-1) * p_ppm) // 1000000 + 1)::BIGINT > cum - cnt
          |  AND (((n-1) * p_ppm) // 1000000 + 1)::BIGINT <= cum""".stripMargin,
      "e07_heavy_hitters" ->
        """WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h, user_id,
          |  count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2),
          |r AS (SELECT *, row_number() OVER (PARTITION BY h
          |  ORDER BY n_events DESC, user_id) AS rank FROM c)
          |SELECT epoch_ms(h) AS window_start, user_id, n_events, rank::BIGINT AS rank
          |FROM r WHERE rank <= 3""".stripMargin,
      // e11 = e07 through the serialized shard hop; same oracle, the
      // decomposition must be invisible
      "e11_twophase_hitters" ->
        """WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h, user_id,
          |  count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2),
          |r AS (SELECT *, row_number() OVER (PARTITION BY h
          |  ORDER BY n_events DESC, user_id) AS rank FROM c)
          |SELECT epoch_ms(h) AS window_start, user_id, n_events, rank::BIGINT AS rank
          |FROM r WHERE rank <= 3""".stripMargin,
      "h14_small_qty_revenue" ->
        """WITH li AS (SELECT l_partkey AS pk, floor(l_quantity)::BIGINT AS qty,
          |   CAST(floor(l_extendedprice*100) AS BIGINT) AS price_cents
          | FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_type = 'PROMO'),
          |st AS (SELECT pk, sum(qty)::BIGINT AS s, count(*)::BIGINT AS c FROM li GROUP BY 1)
          |SELECT sum(price_cents)::BIGINT AS sum_cents, count(*)::BIGINT AS n_lines
          |FROM li JOIN st USING (pk) WHERE qty * c * 5 < s""".stripMargin,
      "e04_rolling_activity" ->
        """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_events,
          |  count(DISTINCT user_id)::BIGINT AS n_users FROM events GROUP BY 1),
          |d2 AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS dn FROM daily)
          |SELECT epoch_ms(day::TIMESTAMP) AS day_ms, n_events, n_users,
          | sum(n_events) OVER (ORDER BY dn
          |   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS roll7_events,
          | sum(n_users) OVER (ORDER BY dn
          |   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS roll7_user_days
          |FROM d2""".stripMargin,
      "h12_lonely_late" ->
        """WITH pairs AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
          |  max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
          |      THEN 1 ELSE 0 END) AS late
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
          |st AS (SELECT ok, count(*) AS n_supp, sum(late) AS n_late
          |       FROM pairs GROUP BY 1)
          |SELECT s_name, count(*)::BIGINT AS n_orders
          |FROM pairs JOIN st USING (ok) JOIN supplier ON sk = s_suppkey
          |WHERE late = 1 AND n_supp > 1 AND n_late = 1
          |GROUP BY 1""".stripMargin,
      "h03_region_revenue" ->
        """SELECT n_name,
          | sum(CAST(floor(l_extendedprice*100) AS BIGINT)
          |     * (100 - CAST(floor(l_discount*100) AS BIGINT)))::BIGINT AS revenue_cpct
          |FROM region JOIN nation ON n_regionkey = r_regionkey
          |JOIN customer ON c_nationkey = n_nationkey
          |JOIN orders ON o_custkey = c_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY 1""".stripMargin,
      // g01: the identical truncating-division PageRank formula replayed
      // as chained CTEs — r0 = 10^12 // N, base = (r0*150000)//10^6, each
      // edge contributes (rank*850000)//(10^6*outdeg), three rounds
      "g01_host_pagerank" ->
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) v),
          |cst AS (SELECT (1000000000000 // count(*))::BIGINT AS r0,
          |               ((1000000000000 // count(*)) * 150000 // 1000000)::BIGINT AS b
          |        FROM nodes),
          |od AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
          |r0 AS (SELECT host, (SELECT r0 FROM cst) AS pr FROM nodes),
          |c1 AS (SELECT e.dst AS host,
          |         sum((r.pr * 850000) // (1000000 * od.outdeg)) AS s
          |       FROM edges e JOIN r0 r ON e.src = r.host JOIN od ON e.src = od.src
          |       GROUP BY 1),
          |r1 AS (SELECT nodes.host, ((SELECT b FROM cst) + coalesce(c1.s, 0))::BIGINT AS pr
          |       FROM nodes LEFT JOIN c1 ON nodes.host = c1.host),
          |c2 AS (SELECT e.dst AS host,
          |         sum((r.pr * 850000) // (1000000 * od.outdeg)) AS s
          |       FROM edges e JOIN r1 r ON e.src = r.host JOIN od ON e.src = od.src
          |       GROUP BY 1),
          |r2 AS (SELECT nodes.host, ((SELECT b FROM cst) + coalesce(c2.s, 0))::BIGINT AS pr
          |       FROM nodes LEFT JOIN c2 ON nodes.host = c2.host),
          |c3 AS (SELECT e.dst AS host,
          |         sum((r.pr * 850000) // (1000000 * od.outdeg)) AS s
          |       FROM edges e JOIN r2 r ON e.src = r.host JOIN od ON e.src = od.src
          |       GROUP BY 1),
          |r3 AS (SELECT nodes.host, ((SELECT b FROM cst) + coalesce(c3.s, 0))::BIGINT AS pr
          |       FROM nodes LEFT JOIN c3 ON nodes.host = c3.host)
          |SELECT host, pr AS pagerank FROM r3""".stripMargin,
      // g02: two HITS rounds replayed as chained HUGEINT CTEs — raw sums
      // along each edge direction, each half-round normalized to Σ=10^12
      // by one truncating // per node
      "g02_host_hits" ->
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) v),
          |h0 AS (SELECT host, 1000000000000::HUGEINT AS s FROM nodes),
          |a1r AS (SELECT nodes.host, coalesce(t.s, 0)::HUGEINT AS raw FROM nodes
          |  LEFT JOIN (SELECT e.dst AS host, sum(h0.s) AS s
          |             FROM edges e JOIN h0 ON e.src = h0.host GROUP BY 1) t
          |  ON nodes.host = t.host),
          |a1 AS (SELECT host, (raw * 1000000000000) // (SELECT sum(raw) FROM a1r) AS s
          |       FROM a1r),
          |h1r AS (SELECT nodes.host, coalesce(t.s, 0)::HUGEINT AS raw FROM nodes
          |  LEFT JOIN (SELECT e.src AS host, sum(a1.s) AS s
          |             FROM edges e JOIN a1 ON e.dst = a1.host GROUP BY 1) t
          |  ON nodes.host = t.host),
          |h1 AS (SELECT host, (raw * 1000000000000) // (SELECT sum(raw) FROM h1r) AS s
          |       FROM h1r),
          |a2r AS (SELECT nodes.host, coalesce(t.s, 0)::HUGEINT AS raw FROM nodes
          |  LEFT JOIN (SELECT e.dst AS host, sum(h1.s) AS s
          |             FROM edges e JOIN h1 ON e.src = h1.host GROUP BY 1) t
          |  ON nodes.host = t.host),
          |a2 AS (SELECT host, (raw * 1000000000000) // (SELECT sum(raw) FROM a2r) AS s
          |       FROM a2r),
          |h2r AS (SELECT nodes.host, coalesce(t.s, 0)::HUGEINT AS raw FROM nodes
          |  LEFT JOIN (SELECT e.src AS host, sum(a2.s) AS s
          |             FROM edges e JOIN a2 ON e.dst = a2.host GROUP BY 1) t
          |  ON nodes.host = t.host),
          |h2 AS (SELECT host, (raw * 1000000000000) // (SELECT sum(raw) FROM h2r) AS s
          |       FROM h2r)
          |SELECT a2.host, a2.s::BIGINT AS authority, h2.s::BIGINT AS hub
          |FROM a2 JOIN h2 ON a2.host = h2.host""".stripMargin,
      // g04: exact radius-2 out-balls as chained frontier CTEs + the
      // literal-true sketch verdicts (a01 gate pattern)
      "g04_neighborhood_gate" ->
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) v),
          |r0 AS (SELECT host, host AS r FROM nodes),
          |r1 AS (SELECT DISTINCT host, r FROM (
          |  SELECT host, r FROM r0
          |  UNION ALL
          |  SELECT r0.host, e.dst FROM r0 JOIN edges e ON r0.r = e.src) a),
          |r2 AS (SELECT DISTINCT host, r FROM (
          |  SELECT host, r FROM r1
          |  UNION ALL
          |  SELECT r1.host, e.dst FROM r1 JOIN edges e ON r1.r = e.src) b)
          |SELECT host, count(*)::BIGINT AS ball_size, 1::BIGINT AS within_eps
          |FROM r2 GROUP BY 1""".stripMargin,
      // g13: the g04 frontier chain extended one round, each radius's
      // exact NF counted and shared against NF(3); HLL is exact at this
      // cardinality so the sketch verdict is the literal-true g04 device
      "g13_effective_diameter" ->
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) v),
          |r0 AS (SELECT host, host AS r FROM nodes),
          |r1 AS MATERIALIZED (SELECT DISTINCT host, r FROM (
          |  SELECT host, r FROM r0
          |  UNION ALL
          |  SELECT r0.host, e.dst FROM r0 JOIN edges e ON r0.r = e.src) a),
          |r2 AS MATERIALIZED (SELECT DISTINCT host, r FROM (
          |  SELECT host, r FROM r1
          |  UNION ALL
          |  SELECT r1.host, e.dst FROM r1 JOIN edges e ON r1.r = e.src) b),
          |r3 AS MATERIALIZED (SELECT DISTINCT host, r FROM (
          |  SELECT host, r FROM r2
          |  UNION ALL
          |  SELECT r2.host, e.dst FROM r2 JOIN edges e ON r2.r = e.src) c),
          |nf AS (SELECT 0 AS radius, (SELECT count(*) FROM r0) AS nf_exact
          |  UNION ALL SELECT 1, (SELECT count(*) FROM r1)
          |  UNION ALL SELECT 2, (SELECT count(*) FROM r2)
          |  UNION ALL SELECT 3, (SELECT count(*) FROM r3)),
          |tot AS (SELECT nf_exact AS t FROM nf WHERE radius = 3)
          |SELECT radius::BIGINT AS radius, nf_exact::BIGINT AS nf_exact,
          |  (nf_exact * 1000000 // t)::BIGINT AS share_ppm,
          |  (nf_exact * 1000000 // t >= 900000)::BIGINT AS at_q,
          |  1::BIGINT AS within_eps
          |FROM nf, tot""".stripMargin,
      // g14: the identical Brandes decomposition as chained CTEs — three
      // forward σ-merge rounds (min-d first reach, predecessor-sum σ),
      // the DAG successor frame, three backward φ rounds, then the
      // σ·φ contraction; pivots drawn by the shared portable-md5 slice
      "g14_stress_centrality" -> {
        def fwd(prev: String, out: String, d: Int): String =
          s"""f$out AS MATERIALIZED (SELECT s, v, min(d) AS d,
            |  coalesce(max(sig) FILTER (WHERE d < $d),
            |           sum(sig) FILTER (WHERE d = $d)) AS sig
            |  FROM (SELECT s, v, d, sig FROM f$prev
            |        UNION ALL
            |        SELECT f$prev.s, e.dst, $d, f$prev.sig
            |        FROM f$prev JOIN e ON f$prev.v = e.src
            |        WHERE f$prev.d = ${d - 1}) u
            |  GROUP BY 1, 2)""".stripMargin
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |e AS (SELECT DISTINCT src, dst FROM edges WHERE src != dst),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) n),
          |f0 AS (SELECT host AS s, host AS v, 0 AS d, 1::BIGINT AS sig FROM nodes),
          |${fwd("0", "1", 1)},
          |${fwd("1", "2", 2)},
          |${fwd("2", "3", 3)},
          |succ AS MATERIALIZED (SELECT a.s, a.v, a.d AS dv, b.v AS w
          |  FROM f3 a JOIN e ON a.v = e.src
          |  JOIN f3 b ON b.s = a.s AND b.v = e.dst AND b.d = a.d + 1),
          |p2 AS (SELECT s, v, sum(1)::BIGINT AS phi FROM succ
          |  WHERE dv = 2 GROUP BY 1, 2),
          |p1 AS (SELECT succ.s, succ.v,
          |    sum(1 + coalesce(p2.phi, 0))::BIGINT AS phi
          |  FROM succ LEFT JOIN p2 ON p2.s = succ.s AND p2.v = succ.w
          |  WHERE succ.dv = 1 GROUP BY 1, 2),
          |p0 AS (SELECT succ.s, succ.v,
          |    sum(1 + coalesce(p1.phi, 0))::BIGINT AS phi
          |  FROM succ LEFT JOIN p1 ON p1.s = succ.s AND p1.v = succ.w
          |  WHERE succ.dv = 0 GROUP BY 1, 2),
          |phi AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1
          |  UNION ALL SELECT * FROM p2),
          |contrib AS (SELECT f3.s, f3.v, f3.sig * phi.phi AS c
          |  FROM f3 JOIN phi ON phi.s = f3.s AND phi.v = f3.v
          |  WHERE f3.d >= 1),
          |cnts AS (SELECT count(*)::BIGINT AS n_all,
          |    sum(CASE WHEN ${h60("host")} % 4 = 0 THEN 1 ELSE 0 END)::BIGINT
          |      AS n_samp FROM nodes),
          |ex AS (SELECT v, sum(c)::BIGINT AS stress FROM contrib GROUP BY 1),
          |sa AS (SELECT v, sum(c)::BIGINT AS ssum FROM contrib
          |  WHERE ${h60("s")} % 4 = 0 GROUP BY 1)
          |SELECT nodes.host, coalesce(ex.stress, 0)::BIGINT AS stress,
          |  coalesce((sa.ssum * cnts.n_all) // cnts.n_samp, 0)::BIGINT
          |    AS stress_est
          |FROM nodes CROSS JOIN cnts
          |LEFT JOIN ex ON ex.v = nodes.host
          |LEFT JOIN sa ON sa.v = nodes.host""".stripMargin
      },
      // g05: the same compact-forward construction — orient low→high by
      // (degree, host), ordered wedge pairs, close on the oriented edge,
      // then count corner memberships; integer-exact throughout
      "g05_triangle_counts" ->
        s"""WITH $triCtes
          |SELECT host, count(*)::BIGINT AS n_triangles
          |FROM corners GROUP BY 1""".stripMargin,
      // g16: the g05 chain verbatim (one definition — the triangle
      // construction cannot desynchronize), normalized per host by the
      // possible wedge count; degree-<2 hosts carry NULL
      "g16_local_clustering" ->
        s"""WITH $triCtes,
          |tc AS (SELECT host, count(*)::BIGINT AS n_triangles
          |  FROM corners GROUP BY 1)
          |SELECT deg.host, deg.d::BIGINT AS degree,
          |  coalesce(tc.n_triangles, 0)::BIGINT AS n_triangles,
          |  CASE WHEN deg.d >= 2 THEN
          |    (2 * coalesce(tc.n_triangles, 0) * 1000000)
          |      // (deg.d * (deg.d - 1)) END::BIGINT AS lcc_ppm
          |FROM deg LEFT JOIN tc ON tc.host = deg.host""".stripMargin,
      // g09: six synchronous peel rounds as chained CTEs (fixpoint on
      // this fixture lands earlier; extra rounds are no-ops), then the
      // final survivor-subgraph degrees
      "g09_kcore" -> {
        // every aN is MATERIALIZED: each round references its predecessor
        // four times (two join sides × two union branches), and DuckDB
        // inlines non-materialized CTEs per reference — 4^6 copies of the
        // base scan otherwise (this hung the first run; same reason the
        // top-level edge CTEs are materialized)
        def peel(prev: String, out: String): String =
          s"""d$out AS (SELECT host, count(*) AS d FROM (
            |    SELECT u.a AS host FROM und u
            |      JOIN a$prev x ON u.a = x.host JOIN a$prev y ON u.b = y.host
            |    UNION ALL
            |    SELECT u.b FROM und u
            |      JOIN a$prev x ON u.a = x.host JOIN a$prev y ON u.b = y.host) z
            |  GROUP BY 1),
            |a$out AS MATERIALIZED (SELECT host FROM d$out WHERE d >= 3)""".stripMargin
        s"""WITH edges AS MATERIALIZED (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM edges WHERE src != dst),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) n),
          |a0 AS (SELECT host FROM nodes),
          |${peel("0", "1")},
          |${peel("1", "2")},
          |${peel("2", "3")},
          |${peel("3", "4")},
          |${peel("4", "5")},
          |${peel("5", "6")},
          |fd AS (SELECT host, count(*) AS d FROM (
          |    SELECT u.a AS host FROM und u
          |      JOIN a6 x ON u.a = x.host JOIN a6 y ON u.b = y.host
          |    UNION ALL
          |    SELECT u.b FROM und u
          |      JOIN a6 x ON u.a = x.host JOIN a6 y ON u.b = y.host) z
          |  GROUP BY 1)
          |SELECT n.host,
          |  (CASE WHEN fd.d IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS in_core,
          |  coalesce(fd.d, 0)::BIGINT AS core_degree
          |FROM nodes n LEFT JOIN fd ON n.host = fd.host""".stripMargin
      },
      // g08: the same canonical edges + broadcast degrees; Newman's
      // fraction-cleared formula in HUGEINT, // truncating toward zero
      // like Spark's div (the s20-verified pairing)
      "g08_degree_assortativity" ->
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM edges WHERE src != dst),
          |deg AS (SELECT host, count(*)::BIGINT AS d FROM (
          |    SELECT a AS host FROM und UNION ALL SELECT b FROM und) x GROUP BY 1),
          |e AS (SELECT da.d AS j, db.d AS k
          |      FROM und JOIN deg da ON da.host = a JOIN deg db ON db.host = b),
          |s AS (SELECT count(*)::HUGEINT AS m, sum(j::HUGEINT * k) AS sjk,
          |        sum(j::HUGEINT + k) AS s1,
          |        sum(j::HUGEINT * j + k::HUGEINT * k) AS s2 FROM e)
          |SELECT m::BIGINT AS m_edges, sjk::BIGINT AS sum_jk,
          |  s1::BIGINT AS sum_j_plus_k, s2::BIGINT AS sum_j2_plus_k2,
          |  (CASE WHEN 2 * m * s2 - s1 * s1 != 0
          |    THEN ((4 * m * sjk - s1 * s1) * 1000000) // (2 * m * s2 - s1 * s1)
          |    END)::BIGINT AS assortativity_ppm
          |FROM s""".stripMargin,
      // g12: the g01 chain with the teleport term gated by the seed flag
      "g12_trustrank" ->
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) v),
          |f AS (SELECT host,
          |        CASE WHEN substr(host, 2)::INT % 13 = 0 THEN 1 ELSE 0 END AS sd
          |      FROM nodes),
          |cst AS (SELECT (1000000000000 // sum(sd))::BIGINT AS r0,
          |          ((1000000000000 // sum(sd)) * 150000 // 1000000)::BIGINT AS b
          |        FROM f),
          |od AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
          |r0 AS (SELECT host, sd * (SELECT r0 FROM cst) AS pr FROM f),
          |c1 AS (SELECT e.dst AS host,
          |         sum((r.pr * 850000) // (1000000 * od.outdeg)) AS s
          |       FROM edges e JOIN r0 r ON e.src = r.host JOIN od ON e.src = od.src
          |       GROUP BY 1),
          |r1 AS (SELECT f.host, (f.sd * (SELECT b FROM cst) + coalesce(c1.s, 0))::BIGINT AS pr
          |       FROM f LEFT JOIN c1 ON f.host = c1.host),
          |c2 AS (SELECT e.dst AS host,
          |         sum((r.pr * 850000) // (1000000 * od.outdeg)) AS s
          |       FROM edges e JOIN r1 r ON e.src = r.host JOIN od ON e.src = od.src
          |       GROUP BY 1),
          |r2 AS (SELECT f.host, (f.sd * (SELECT b FROM cst) + coalesce(c2.s, 0))::BIGINT AS pr
          |       FROM f LEFT JOIN c2 ON f.host = c2.host),
          |c3 AS (SELECT e.dst AS host,
          |         sum((r.pr * 850000) // (1000000 * od.outdeg)) AS s
          |       FROM edges e JOIN r2 r ON e.src = r.host JOIN od ON e.src = od.src
          |       GROUP BY 1),
          |r3 AS (SELECT f.host, (f.sd * (SELECT b FROM cst) + coalesce(c3.s, 0))::BIGINT AS pr
          |       FROM f LEFT JOIN c3 ON f.host = c3.host)
          |SELECT host, pr AS trustrank FROM r3""".stripMargin,
      // g11: wedge join through the shared neighbor, non-edges only,
      // the three classic integer signals (common / Jaccard ppm /
      // preferential attachment)
      "g11_link_prediction" ->
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM edges WHERE src != dst),
          |adj AS (SELECT a AS host, b AS nbr FROM und
          |        UNION ALL SELECT b, a FROM und),
          |deg AS (SELECT host, count(*)::BIGINT AS d FROM adj GROUP BY 1),
          |wed AS (SELECT x.host AS a, y.host AS b, count(*)::BIGINT AS common_cnt
          |        FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.host < y.host
          |        GROUP BY 1, 2 HAVING count(*) >= 2),
          |non AS (SELECT w.* FROM wed w ANTI JOIN und u
          |        ON w.a = u.a AND w.b = u.b)
          |SELECT n.a, n.b, n.common_cnt, da.d AS deg_a, db.d AS deg_b,
          |  (da.d + db.d - n.common_cnt) AS union_cnt,
          |  (n.common_cnt * 1000000 // (da.d + db.d - n.common_cnt))::BIGINT
          |    AS jaccard_ppm,
          |  (da.d * db.d) AS pref_attach
          |FROM non n JOIN deg da ON n.a = da.host JOIN deg db ON n.b = db.host""".stripMargin,
      // g07: three first-reach BFS rounds over the reversed edges as
      // chained min(d)-merge CTEs, then sum(10^6 // d) per host
      "g07_harmonic_centrality" -> {
        def bfsRound(prev: String, out: String, d: Int): String =
          s"""r$out AS (SELECT host, r, min(d) AS d FROM (
            |    SELECT host, r, d FROM r$prev
            |    UNION ALL
            |    SELECT r$prev.host, rev.t, $d FROM r$prev
            |    JOIN rev ON r$prev.r = rev.s WHERE r$prev.d = ${d - 1}) u
            |  GROUP BY 1, 2)""".stripMargin
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |rev AS (SELECT DISTINCT dst AS s, src AS t FROM edges WHERE src != dst),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) n),
          |r0 AS (SELECT host, host AS r, 0 AS d FROM nodes),
          |${bfsRound("0", "1", 1)},
          |${bfsRound("1", "2", 2)},
          |${bfsRound("2", "3", 3)}
          |SELECT host, count(*)::BIGINT AS n_reached,
          |  sum(1000000 // d)::BIGINT AS harmonic_ppm
          |FROM r3 WHERE d > 0 GROUP BY 1""".stripMargin
      },
      // g10: g07's exact replay + the literal-true verdict — the sketch
      // side (HyperBall deltas) is measured Spark-side into within_eps
      "g10_harmonic_gate" -> {
        def bfsRound(prev: String, out: String, d: Int): String =
          s"""r$out AS (SELECT host, r, min(d) AS d FROM (
            |    SELECT host, r, d FROM r$prev
            |    UNION ALL
            |    SELECT r$prev.host, rev.t, $d FROM r$prev
            |    JOIN rev ON r$prev.r = rev.s WHERE r$prev.d = ${d - 1}) u
            |  GROUP BY 1, 2)""".stripMargin
        s"""WITH edges AS (
          |  ${hostEdgesCte.replace("\n", "\n  ")}),
          |rev AS (SELECT DISTINCT dst AS s, src AS t FROM edges WHERE src != dst),
          |nodes AS (SELECT DISTINCT host FROM (
          |    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges) n),
          |r0 AS (SELECT host, host AS r, 0 AS d FROM nodes),
          |${bfsRound("0", "1", 1)},
          |${bfsRound("1", "2", 2)},
          |${bfsRound("2", "3", 3)}
          |SELECT host, count(*)::BIGINT AS n_reached,
          |  sum(1000000 // d)::BIGINT AS harmonic_ppm,
          |  1::BIGINT AS within_eps
          |FROM r3 WHERE d > 0 GROUP BY 1""".stripMargin
      },
      // g06: four synchronous LPA rounds replayed as chained CTEs — per
      // round, neighbor-label vote counts and a (count desc, label asc)
      // row_number argmax; isolated nodes keep their label via the
      // LEFT JOIN + coalesce (mirroring the Spark side exactly)
      "g06_label_communities" ->
        s"""WITH $lpaCtes
          |SELECT host, community FROM l4""".stripMargin,
      // g15: the g06 chain verbatim (one definition — the partitions
      // cannot desynchronize), then Newman's per-community contribution:
      // internal undirected edges, degree sums, and the two truncating
      // divisions in the same fixed order as the Spark side (HUGEINT for
      // the D_c² channel, the Spark DECIMAL(38,0) twin)
      "g15_modularity" ->
        s"""WITH $lpaCtes,
          |und AS (SELECT u, v FROM sym WHERE u < v),
          |mm AS (SELECT count(*)::BIGINT AS m FROM und),
          |deg AS (SELECT u AS host, count(*)::BIGINT AS d FROM sym GROUP BY 1),
          |intra AS (SELECT lu.community, count(*)::BIGINT AS m_internal
          |  FROM und JOIN l4 lu ON und.u = lu.host
          |  JOIN l4 lv ON und.v = lv.host
          |  WHERE lu.community = lv.community GROUP BY 1),
          |comm AS (SELECT l4.community, count(*)::BIGINT AS n_hosts,
          |    sum(coalesce(deg.d, 0))::BIGINT AS degree_sum
          |  FROM l4 LEFT JOIN deg ON l4.host = deg.host GROUP BY 1)
          |SELECT comm.community, comm.n_hosts,
          |  coalesce(intra.m_internal, 0)::BIGINT AS m_internal,
          |  comm.degree_sum,
          |  ((1000000 * coalesce(intra.m_internal, 0)) // mm.m
          |   - (1000000::HUGEINT * comm.degree_sum * comm.degree_sum)
          |     // (4::HUGEINT * mm.m * mm.m))::BIGINT AS q_ppm
          |FROM comm CROSS JOIN mm
          |LEFT JOIN intra ON intra.community = comm.community""".stripMargin,
      // g03: the same host/link formulas (www/scheme decorations resolve
      // to the bare lowercase host), md5-hashed ids, recursive-CTE CC
      "g03_host_components" ->
        """WITH RECURSIVE rr AS (SELECT DISTINCT doc_id % 97 AS r FROM documents),
          |ed AS (SELECT 'h' || r || '.example.com' AS sh,
          |         'h' || ((r // 7) * 7 + ((r % 7) + 1) % 7) || '.example.com' AS dh
          |       FROM rr),
          |names AS (SELECT DISTINCT h FROM
          |  (SELECT sh AS h FROM ed UNION SELECT dh FROM ed)),
          |ids AS (SELECT h, ('0x' || substr(md5(h), 1, 15))::BIGINT AS id FROM names),
          |p AS (SELECT DISTINCT x.id AS a, y.id AS b
          |      FROM ed JOIN ids x ON ed.sh = x.h JOIN ids y ON ed.dh = y.h),
          |nodes AS (SELECT a AS n FROM p UNION SELECT b FROM p),
          |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b AS u, a AS v FROM p),
          |reach(n, m) AS (
          |  SELECT n, n FROM nodes
          |  UNION
          |  SELECT r.n, e.v FROM reach r JOIN e ON r.m = e.u),
          |comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n)
          |SELECT ids.h AS host, comp.component
          |FROM ids JOIN comp ON ids.id = comp.n""".stripMargin,
  )
}
