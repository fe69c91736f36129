package graft

import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.config.{CounterDef, CounterType}
import graft.dedup.Dedup
import graft.operators.Counters
import graft.similarity.Ann
import graft.sources.Deaggregate
import graft.streaming.StreamingCounters
import graft.textops.TextAnalysis

/** Physical-plan audits: the properties that make these queries survive a
  * 100× scale-up, asserted so regressions show up as test failures —
  * column pruning into the scan, two-phase (partial/final) aggregation,
  * broadcast joins for small sides, and whole-stage codegen on hot paths.
  */
class PlanAuditSpec extends SparkTestBase {

  /** Executed-plan text with the local spread exchange RENAMED: since the
    * r12 optimization the conditional `Tables.spread` repartition hashes a
    * deterministic synthetic key (`pmod(xxhash64(id), …)` — cheaper than
    * round-robin's defensive sort, SPARK-23207) and so prints as
    * `Exchange hashpartitioning(pmod(xxhash64(…`. The audits here assert
    * on KEYED data-motion shuffles (`Exchange hashpartitioning(<real key>`)
    * and must keep excluding the fixture-only spread, exactly as they
    * excluded its round-robin form — so its signature is masked to
    * `Exchange spreadpartitioning(` before any assertion reads the text.
    */
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replace("Exchange hashpartitioning(pmod(xxhash64(",
        "Exchange spreadpartitioning(pmod(xxhash64(")

  private lazy val docs = Tables.documents(spark, sf0001)
  private lazy val events = Tables.events(spark, sf0001)
  private lazy val embeddings = Tables.embeddings(spark, sf0001)

  test("column pruning: token counting reads only (doc_id, text)") {
    val p = plan(TextAnalysis.tokenCounts(docs))
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(p.contains(readSchema), s"scan not pruned:\n$p")
    assert(!p.contains("lang"), "unused columns must not be read")
  }

  test("counter aggregation is two-phase: partial + final HashAggregate") {
    val c = CounterDef("x", CounterType.Count, Some("*"), windowDuration = "1 hour")
    val p = plan(Counters.run(events, "ts", c))
    // map-side combine (partial_count) before the exchange, merge after —
    // the reference's IntermediateRecord hop, natively
    assert(p.contains("HashAggregate") && p.contains("Exchange"),
      s"expected partial/final aggregate around a shuffle:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"not two-phase:\n$p")
  }

  test("ACD runs as ObjectHashAggregate sketches, not flat HLL++ buffers") {
    val c = CounterDef("u", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 hour")
    val p = plan(Counters.run(events, "ts", c))
    assert(p.contains("ObjectHashAggregate"), s"expected DataSketches path:\n$p")
  }

  test("embedding near-dup broadcasts the build side") {
    val p = plan(Dedup.cosineNearDupPairs(embeddings))
    assert(p.contains("Broadcast"), s"expected a broadcast join:\n$p")
  }

  test("MinHash banded join is an equi-join on (band, key), not a cross join") {
    val p = plan(Dedup.minhashLshPairs(docs))
    assert(!p.contains("CartesianProduct"), s"cross join leaked into LSH:\n$p")
  }

  test("counter pipeline stays inside whole-stage codegen") {
    // AQE wraps stages lazily and its initial plan string omits codegen
    // nodes — disable it for this audit only (restored in finally).
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val c = CounterDef("x", CounterType.Count,
        targetExpr = Some("""if(string_contains(event_type, "click"), 1, nil)"""),
        windowDuration = "1 hour")
      val p = plan(Counters.run(events, "ts", c))
      // '*(n)' prefixes mark WholeStageCodegen membership in plan strings:
      // both aggregates, the qualifying filter, and the scan must all be
      // inside codegen spans (span numbering shifts with layout changes
      // like the local repartition, so don't pin it)
      assert("""\*\(\d+\) HashAggregate""".r.findAllIn(p).size >= 2,
        s"aggregates not codegen'd:\n$p")
      assert("""\*\(\d+\) Filter""".r.findAllIn(p).nonEmpty,
        s"filter not codegen'd:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("contamination broadcasts the benchmark grams, never shuffles the corpus side") {
    val p = plan(Dedup.contamination(docs, col("doc_id") % 25 === 0, k = 3))
    assert(p.contains("Broadcast"), s"benchmark side must broadcast:\n$p")
  }

  test("tfidf per-doc top-k windows partition by doc_id (no global sort)") {
    val p = plan(TextAnalysis.tfidfTopK(docs))
    assert(p.contains("hashpartitioning(doc_id"),
      s"window must partition by doc_id:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no global sort may appear in a per-doc top-k:\n$p")
  }

  test("LSH near-dup candidates join on bucket equality, not a cross join") {
    val p = plan(Dedup.lshNearDupPairs(embeddings, tau = 0.35, nPlanes = 4))
    assert(!p.contains("CartesianProduct"), s"cross join leaked into LSH near-dup:\n$p")
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan(graft.relational.Relational.pricingSummary(Tables.lineitem(spark, sf0001)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"date filter not pushed to scan:\n$p")
  }

  test("region revenue broadcasts the dimension side; top orders heap-selects") {
    val p = plan(graft.relational.Relational.regionRevenue(
      Tables.region(spark, sf0001), Tables.nation(spark, sf0001),
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001)))
    assert(p.contains("Broadcast"), s"region/nation dims must broadcast:\n$p")
    val p2 = plan(graft.relational.Relational.topOrdersByRevenue(
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001)))
    assert(p2.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps, not a global sort:\n$p2")
  }

  test("intermediate-record version gate runs without a ScalaUDF") {
    val c = CounterDef("rt", CounterType.Count, Some("*"), windowDuration = "1 hour")
    val sharded = events.withColumn("shard", pmod(col("user_id"), lit(8)))
    val merged = graft.operators.Intermediate.mergeRecords(
      graft.operators.Intermediate.toRecords(
        Counters.partialState(sharded, "ts", "shard", c),
        c, "arn:aws:kinesis:ap-northeast-1:111122223333:stream/in"),
      c, requiredVersion = Some(">=0.1.0"))
    val p = plan(merged)
    assert(!p.contains("ScalaUDF"),
      s"semver gate fell out of codegen into a Scala UDF:\n$p")
  }

  test("NFC normalization is a typed mapPartitions, not a ScalaUDF") {
    // the one documented Column-level exemption: java.text.Normalizer has
    // no codegen'd equivalent, so the transform is the codec-style
    // partition-local typed batch — MapPartitions in the plan, no
    // ScalaUDF, no shuffle, and the scan still prunes to (doc_id, text)
    val p = plan(TextAnalysis.nfcNormalize(docs))
    assert(!p.contains("ScalaUDF"),
      s"NFC normalization fell back to a Scala UDF:\n$p")
    assert(p.contains("MapPartitions"),
      s"expected the typed partition-local transform:\n$p")
    // the load-time spread() RoundRobin is Tables' conditional underfill
    // fix, not this operator's — assert no KEYED shuffle
    assert(!p.contains("Exchange hashpartitioning"),
      s"normalization must not shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned under the typed transform:\n$p")
  }

  test("KPL deagg explode is a Catalyst generator, not a ScalaUDF") {
    val packed = events.limit(10).select(col("user_id"),
      col("user_id").cast("string").cast("binary").as("data"))
    val p = plan(Deaggregate.explodeRecords(packed))
    assert(!p.contains("ScalaUDF"),
      s"packed-record parse fell back to a Scala UDF:\n$p")
    assert(p.contains("Generate kpl_records("), s"expected the KPL generator:\n$p")
  }

  test("packed shard-log ingest parses each record once and reads only (shard_id, data)") {
    val dir = Files.createTempDirectory("plan-audit-shards")
    try {
      val envelope = Deaggregate.aggregate(Seq(1, 2).map(u => Deaggregate.SubRecord(s"k$u",
        s"""{"ts":"2021-12-01T11:19:0${u}Z","user_id":$u,"action":"click"}""".getBytes("UTF-8"))))
      val line = s"""{"partitionKey":"agg","sequenceNumber":"1",""" +
        s""""approximateArrivalTimestamp":0,"data":"${Base64.getEncoder.encodeToString(envelope)}"}"""
      Files.write(dir.resolve("shard-000.jsonl"), java.util.List.of(line))
      val schema = StructType(Seq(StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("action", StringType)))
      val raw = spark.read.format("graft-shards").load(dir.toString)
      val ok = StreamingCounters.parsedOk(StreamingCounters.parsePackedRecords(raw, schema, "data"))
        .select("ts", "user_id", "action", "shard_id")
      val p = plan(ok)
      // a `_corrupt` filter pushed through a `__rec.*` projection evaluates
      // the parse twice, and the row-count accumulator cannot see it
      assert("json_records\\(".r.findAllIn(p).size == 1, s"expected one JSON parse:\n$p")
      assert(!p.contains("from_json(") && !p.contains("inline("),
        s"the parse must be the json_records generator alone:\n$p")
      assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
        s"the explode must not round-trip rows through objects:\n$p")
      assert(p.contains("ReadSchema: struct<shard_id:string,data:binary>"),
        s"scan not pruned to the columns the counters read:\n$p")
      assert(ok.count() == 2)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.delete(dir)
    }
  }

  test("multi-table LSH: one corpus scan, bucket equi-join, no cross join") {
    val p = plan(Dedup.lshNearDupPairsMulti(embeddings, tau = 0.35, nPlanes = 4, tables = 3))
    assert(!p.contains("CartesianProduct"),
      s"cross join leaked into multi-table LSH:\n$p")
    // all tables' buckets come from generators over scans, not one scan
    // per table — the candidate side reads the corpus once per join input
    assert(p.contains("Generate"), s"expected generator for table fan-out:\n$p")
  }

  test("large orders aggregates lineitem BEFORE joining orders/customer") {
    val p = plan(graft.relational.Relational.largeOrders(
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001)))
    // the HAVING filter must sit on the aggregate, upstream of the joins:
    // plan order (bottom-up string) puts the qty filter after HashAggregate
    assert(p.contains("HashAggregate"), s"expected fact pre-aggregate:\n$p")
    assert("""Filter.*total_qty""".r.findAllIn(p).nonEmpty
      || p.contains("(total_qty"), s"HAVING filter missing from plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross join leaked:\n$p")
  }

  test("volume shipping broadcasts the supplier lookup side") {
    val p = plan(graft.relational.Relational.volumeShipping(
      Tables.supplier(spark, sf0001), Tables.customer(spark, sf0001),
      Tables.nation(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001)))
    assert(p.contains("Broadcast"), s"supplier side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross join leaked:\n$p")
  }

  test("length quantiles window-sorts the HISTOGRAM, not the corpus") {
    val p = plan(TextAnalysis.lengthQuantiles(docs))
    // the aggregation (histogram build) must sit UPSTREAM of the window
    // sort: Window appears above HashAggregate in the plan string
    val winAt = p.indexOf("Window")
    val aggAt = p.indexOf("HashAggregate")
    assert(winAt >= 0 && aggAt >= 0 && winAt < aggAt,
      s"window must run over the aggregated histogram:\n$p")
    assert(p.contains("hashpartitioning(lang"),
      s"window must partition by lang:\n$p")
  }

  test("late priority compiles the EXISTS to a left-semi join") {
    val p = plan(graft.relational.Relational.latePriority(
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001)))
    assert(p.contains("LeftSemi"), s"EXISTS must be a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross join leaked:\n$p")
  }

  test("fanOut plans exactly ONE aggregation pass for N same-window counters") {
    val cs = Seq(
      CounterDef("a", CounterType.Count, Some("*"), windowDuration = "1 hour"),
      CounterDef("b", CounterType.Count, Some("user_id"), windowDuration = "1 hour"),
      CounterDef("c", CounterType.ApproxCountDistinct, Some("user_id"), windowDuration = "1 hour"))
    val p = plan(Counters.fanOut(events, "ts", cs))
    // one partial + one final aggregate over a single scan; unpivot is a
    // Generate, not N unioned aggregations
    assert("Scan parquet".r.findAllIn(p).size == 1, s"fanOut re-scanned the source:\n$p")
    assert(p.contains("Generate"), s"expected generator unpivot:\n$p")
  }

  test("as-of join is window-based: one key shuffle, zero join operators") {
    val p = plan(graft.relational.Temporal.purchaseAttribution(events))
    assert(!p.contains("Join"),
      s"as-of must use union-and-carry, not a join:\n$p")
    // exactly the user_id exchange (Tables.events adds one round-robin
    // repartition; that is not a keyed shuffle)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one keyed shuffle:\n$p")
  }

  test("supplier diversity anti-joins the denylist as a broadcast") {
    val p = plan(graft.relational.Relational.supplierDiversity(
      Tables.part(spark, sf0001), Tables.supplier(spark, sf0001),
      Tables.lineitem(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"denylist must be a broadcast anti-join:\n$p")
  }

  test("order histogram aggregates orders BEFORE the outer join") {
    val p = plan(graft.relational.Relational.customerOrderHistogram(
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001)))
    // an aggregate must sit between the join and the orders scan — the
    // outer join's right side is per-customer counts, never raw orders
    assert("(?s)Join.*HashAggregate.*orders".r.findFirstIn(p).isDefined,
      s"orders must pre-aggregate below the join:\n$p")
    assert(!p.contains("Cartesian"), s"no cartesian:\n$p")
  }

  test("sessionization shuffles once on user_id; the session agg reuses it") {
    val p = plan(graft.relational.Temporal.userSessions(events))
    // hashpartitioning(user_id) serves the lag window, the running sum AND
    // the (user_id, session_seq) groupBy (subset-clustering) — one shuffle
    // an (user_id, session_seq) exchange would also match this pattern —
    // the single-match assertion covers exchange-reuse too
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one keyed shuffle:\n$p")
  }

  test("spike detection windows over the per-hour aggregate, not the events") {
    val p = plan(graft.relational.Temporal.countSpikes(events))
    // corpus-sized work is the map-side-combinable groupBy; the z² window
    // runs over calendar-bounded hourly rows
    assert("(?s)Window.*HashAggregate.*partial_count".r.findFirstIn(p).isDefined,
      s"window must sit above the hourly aggregate:\n$p")
  }

  test("MAD anomalies window over the per-hour aggregate; trailing arrays per row") {
    val p = plan(graft.relational.Temporal.madAnomalies(events))
    // e06's contract for the robust twin: the collect_list window runs
    // over calendar-bounded hourly rows, never raw events
    assert("(?s)Window.*HashAggregate.*partial_count".r.findFirstIn(p).isDefined,
      s"window must sit above the hourly aggregate:\n$p")
    assert(!p.contains("ScalaUDF"), s"median/MAD must stay expression-level:\n$p")
  }

  test("segment repetition is one narrow no-shuffle projection") {
    val p = plan(TextAnalysis.segmentRepetition(docs))
    assert(!p.contains("Exchange hashpartitioning"),
      s"segment metrics must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"per-row array folds only:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned to (doc_id, text):\n$p")
  }

  test("vocab growth: digest-only token shuffle; checkpoint fan-out combines map-side") {
    val p = plan(TextAnalysis.vocabGrowth(docs))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("partial_min".r.findFirstIn(p).isDefined &&
      "partial_sum".r.findFirstIn(p).isDefined,
      s"first-doc min and checkpoint sums must combine map-side:\n$p")
    assert(!"Exchange hashpartitioning\\(tok".r.findFirstIn(p).isDefined,
      s"raw tokens must never cross a shuffle (md5 digests only):\n$p")
  }

  test("IVF cell balance: literal-centroid assignment, one combined count, no join") {
    val p = plan(Ann.ivfCellBalance(embeddings))
    assert(!p.contains("Join"), s"assignment must be shuffle-free literals:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined,
      s"cell counts must combine map-side:\n$p")
  }

  test("chunk dedup shuffles digests, never text; first-occurrence min is map-side") {
    val p = plan(Dedup.chunkDedupStats(docs))
    assert("Exchange hashpartitioning\\(chunk_md5".r.findFirstIn(p).isDefined,
      s"winner aggregate must shuffle on the md5 digest:\n$p")
    assert("partial_min".r.findFirstIn(p).isDefined,
      s"first-occurrence winner must combine map-side:\n$p")
    assert(!"Exchange hashpartitioning\\(chunk#".r.findFirstIn(p).isDefined &&
      !"Exchange hashpartitioning\\(text".r.findFirstIn(p).isDefined,
      s"raw chunk text must never cross a shuffle:\n$p")
  }

  test("bm25: one-row stats broadcast, heap top-k, pruned scan, no cartesian") {
    val p = plan(TextAnalysis.bm25TopK(docs, Seq("dup", "scan", "key")))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"corpus stats must come back as a broadcast, not a shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product allowed:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap, not a global sort:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$p")
  }

  test("bm25 batch: broadcast term/df/corpus tables, windowed top-k by query") {
    val p = plan(TextAnalysis.bm25Batch(docs,
      Seq(1L -> "dup scan", 2L -> "key value")))
    // term table, df table, and 1-row corpus stats all ride broadcasts —
    // the only keyed shuffles are the (doc, term) tf aggregate and the
    // per-query window
    assert(p.contains("BroadcastHashJoin"), s"term joins must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus stats must come back as a broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product allowed:\n$p")
    // r13 second pass: the tokenize pass runs ONCE — the (doc_id, dl,
    // matched-terms) projection is lazily localCheckpointed and BOTH the
    // corpus-stats aggregate and the hits explode read the materialized
    // rows, so the executed plan has RDD-scan leaves and NO parquet
    // re-scan of text (the pass-dedup evidence; pruning to (doc_id, text)
    // happens inside the one materialization job)
    assert(p.contains("Scan ExistingRDD"),
      s"both consumers must read the checkpointed projection:\n$p")
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text:string"),
      s"text must not be re-scanned past the checkpoint:\n$p")
    // tf combines map-side before the (doc, term) shuffle
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"tf must combine map-side:\n$p")
  }

  test("budget sample: one stratum-partitioned window, text never read") {
    val p = plan(TextAnalysis.budgetSample(docs))
    assert(!p.contains("windowspecdefinition()"),
      s"rank window must partition by stratum:\n$p")
    assert(!p.contains("Join"), s"membership needs no join:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"),
      s"scan must prune text away:\n$p")
  }

  test("url dedup: one map-side-combined groupBy on the canonical url") {
    val p = plan(SparkEntry.queries("d25_url_dedup")(spark, sf0001))
    assert(!p.contains("ScalaUDF"), s"canonicalizer must stay codegen'd:\n$p")
    assert("partial_count".r.findAllIn(p).size >= 1 &&
      "partial_min".r.findAllIn(p).size >= 1,
      s"count/min winners must combine map-side:\n$p")
    assert("Exchange hashpartitioning\\(url".r.findFirstIn(p).isDefined,
      s"the single shuffle keys on the canonical url:\n$p")
    assert(!p.contains("Join"), s"url dedup needs no join:\n$p")
  }

  test("boilerplate scrub: digest-only frequency shuffle, broadcast anti-join") {
    val p = plan(TextAnalysis.boilerplateScrub(docs))
    assert("Exchange hashpartitioning\\(chunk_md5".r.findFirstIn(p).isDefined,
      s"boilerplate count must shuffle on the md5 digest:\n$p")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"the (tiny) boilerplate set must broadcast into the anti-join:\n$p")
    assert(!"Exchange hashpartitioning\\(chunk#".r.findFirstIn(p).isDefined,
      s"chunk text crosses a shuffle only for doc_id reassembly, never for counting:\n$p")
  }

  test("heavy hitters ranks the per-window aggregate, not the events") {
    val p = plan(graft.relational.Temporal.windowHeavyHitters(events))
    assert("(?s)Window.*HashAggregate.*partial_count".r.findFirstIn(p).isDefined,
      s"rank must sit above the (window, user) aggregate:\n$p")
  }

  test("small-quantity revenue broadcasts part keys and prunes the fact scan") {
    val p = plan(graft.relational.Relational.smallQuantityRevenue(
      Tables.part(spark, sf0001), Tables.lineitem(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin"), s"part keys must broadcast:\n$p")
    assert(!p.contains("Cartesian"), s"no cartesian:\n$p")
  }

  test("Q6 pushes all three filters into the parquet scan; no join") {
    val p = plan(graft.relational.Relational.revenueChange(
      Tables.lineitem(spark, sf0001)))
    assert(!p.contains("Join"), s"Q6 is one pass, no joins:\n$p")
    // toString truncates the PushedFilters list, so assert its stable
    // prefix (shipdate+discount first — the quantity filter is visible
    // via Explain's formatted output, which does not truncate)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"),
      s"filters must reach PushedFilters:\n$p")
  }

  test("market share broadcasts every dimension; one keyed shuffle + one agg pass") {
    val p = plan(graft.relational.Relational.marketShare(
      Tables.region(spark, sf0001), Tables.nation(spark, sf0001),
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001), Tables.supplier(spark, sf0001)))
    // the ONLY shuffled join allowed is orders ⋈ lineitem; all three
    // dimension chains (region/nation→customer, nation→supplier) broadcast
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1,
      s"dimension chains must broadcast (≤1 shuffled join):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join found:\n$p")
    // numerator and denominator come out of ONE aggregate: a single
    // HashAggregate node lists both partial_sums on its own line
    assert("HashAggregate[^\\n]*partial_sum[^\\n]*partial_sum".r.findFirstIn(p).isDefined,
      s"both sums must share one aggregate pass:\n$p")
  }

  test("returned-item report aggregates revenue before the dimension joins") {
    val p = plan(graft.relational.Relational.returnedItemReport(
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001), Tables.nation(spark, sf0001)))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must heap-select:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)")
      || p.contains("EqualTo(l_returnflag,R)"),
      s"return-flag filter must push into the scan:\n$p")
    // the revenue aggregate groups by the PRE-JOIN key (o_custkey): had
    // aggregation been deferred past the dimension joins, the grouping
    // keys would be the dim columns (c_custkey, c_name, n_name, ...)
    assert("HashAggregate\\(keys=\\[o_custkey".r.findFirstIn(p).isDefined,
      s"revenue must collapse per customer before the dims:\n$p")
    assert(!"HashAggregate\\(keys=\\[[^\\]]*c_name".r.findFirstIn(p).isDefined,
      s"no aggregate keyed on dimension columns:\n$p")
  }

  test("quality gate is one narrow scan: no shuffle, pruned read") {
    val p = plan(TextAnalysis.qualityGate(docs))
    // Tables.documents adds a round-robin repartition (single-file scan
    // parallelization) — what the gate itself must never add is a KEYED
    // shuffle or an aggregate/join
    assert(!p.contains("Exchange hashpartitioning"), s"gate must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"gate is a pure projection:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"gate must read only (doc_id, text):\n$p")
  }

  test("shard packing: NO unpartitioned global window anywhere in the plan") {
    // an unpartitioned Window collapses to ONE task holding the whole
    // corpus — shardPacking must use the two-level cumsum instead
    val p = plan(TextAnalysis.shardPacking(docs))
    assert(!p.contains("Window"), s"global window crept back into shardPacking:\n$p")
  }

  test("Q19 disjunction: hoisted quantity hull pushes to the fact scan; part broadcasts") {
    val p = plan(graft.relational.Relational.disjunctiveRevenue(
      Tables.part(spark, sf0001), Tables.lineitem(spark, sf0001)))
    // the manually-derived hull reaches the parquet scan — Catalyst won't
    // infer it from the OR, which stays as a post-join residual
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)")
      && p.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"quantity hull must reach PushedFilters:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"filtered part must broadcast:\n$p")
    assert(!p.contains("Cartesian"), s"no cartesian:\n$p")
  }

  test("Q12 lateness matrix: hash join with lateness residual, one agg pass") {
    val p = plan(graft.relational.Relational.latenessPriorityMatrix(
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001)))
    // the lateness comparison must ride the orderkey equi-join as a
    // residual condition — never degrade to a cartesian/range join
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateness predicate must stay a join residual:\n$p")
    // both conditional counts come from ONE aggregate pass
    assert("HashAggregate[^\\n]*partial_sum[^\\n]*partial_sum".r.findFirstIn(p).isDefined,
      s"both counts must share one aggregate pass:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate window must push into the scan:\n$p")
  }

  test("k-means cell assignment is a pure projection: corpus never shuffles or joins") {
    // every Lloyd round calls assignCells — a crossJoin+groupBy spelling
    // would move the whole corpus (vectors included) through an exchange
    // per round; the centroid set is driver-local literals instead
    val cents = Ann.centroidsFromStats(Ann.kmeansCentroids(embeddings))
    val p = plan(Ann.assignCells(Ann.normalize(embeddings, "vec_id"), cents))
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment must not key-shuffle the corpus:\n$p")
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"assignment is a projection, not an agg:\n$p")
  }

  test("IVF-PQ search scores codes via a broadcast cell equi-join, vectors never join") {
    val p = plan(Ann.ivfPqTopK(Tables.embeddings(spark, sf0001),
      col("vec_id") % 50 === 0))
    // the candidate-scoring join must be a broadcast hash join on cell —
    // the corpus side streams; only the probe/table side broadcasts
    assert(p.contains("BroadcastHashJoin"), s"cell join must broadcast probes:\n$p")
    // no unbounded cartesian: the only nested-loop is queries × centroids
    // (both broadcast-tiny, the probe build)
    assert(!p.contains("CartesianProduct"), s"cartesian leaked into search:\n$p")
  }

  test("PQ encode reduces candidates map-side: aggregate, not a window rank") {
    val p = plan(Ann.pqCodes(Tables.embeddings(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin"),
      s"codebook must broadcast:\n$p")
    // struct-ordered min_by buffers are not hash-aggregable, so the plan is
    // a SortAggregate pair — what matters for scale is the map-side partial
    // (one row per (vector, subspace) crosses the exchange)
    assert(p.contains("partial_min_by"),
      s"min_by must combine map-side before the shuffle:\n$p")
    assert(!p.contains("Window"), s"no window rank in the encode path:\n$p")
  }

  test("Q20 dominant suppliers: broadcast part filter, stacked aggs, no cartesian") {
    val p = plan(graft.relational.Relational.dominantSuppliers(
      Tables.supplier(spark, sf0001), Tables.part(spark, sf0001),
      Tables.lineitem(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin"), s"part filter must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected stacked partial/final aggregates:\n$p")
  }

  test("Q11 important parts: 1-row scalar broadcasts; per-part agg is map-side") {
    val p = plan(graft.relational.Relational.importantParts(
      Tables.lineitem(spark, sf0001)))
    // the (total, n) scalar joins back as a broadcast nested loop over ONE
    // row — never a shuffled join of the per-part aggregate
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"global scalar must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"per-part cents must combine map-side:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"no sort exchange:\n$p")
  }

  test("SQ8 encode is a shuffle-free projection: no join, no corpus exchange") {
    // train collects dims-many rows; the ENCODE plan (what runs over the
    // corpus) must be generate-over-projection with literal min/max arrays
    val p = plan(Ann.sq8Codes(embeddings))
    assert(!p.contains("Join"), s"encode must not join a stats table:\n$p")
    // the only exchange allowed is the one inside the driver-collected
    // train agg, which does not appear in the encode output plan
    assert(!p.contains("Exchange hashpartitioning"),
      s"encode must not shuffle the corpus:\n$p")
  }

  test("SemDeDup: cluster-bounded pair join, no cartesian, no corpus window") {
    val p = plan(Ann.semDedupSurvivors(embeddings))
    // candidates must come from an equi-join on cell — an inequality-only
    // join would plan a cartesian/BNLJ and cost n² at any scale
    assert(!p.contains("CartesianProduct"), s"cartesian leaked into SemDeDup:\n$p")
    assert(!p.contains("Window"), s"no window rank in the prune path:\n$p")
  }

  test("temperature sample: rate table broadcasts; corpus aggregates map-side") {
    val p = plan(TextAnalysis.temperatureSample(docs))
    // the per-lang rate table joins the corpus as a broadcast — a shuffled
    // join would move the whole corpus for a |langs|-row lookup
    assert(p.contains("BroadcastHashJoin"), s"rate lookup must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the sample path:\n$p")
    // both corpus passes are partial/final counts (map-side combine)
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"corpus counts must combine map-side:\n$p")
  }

  test("BPE pairs: two stacked map-side aggregates and a heap top-k, no sort") {
    val p = plan(TextAnalysis.bpePairStats(docs))
    // the top-k must be TakeOrderedAndProject (a bounded heap), never a
    // global Sort of the pair table
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be a heap:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"pair counts must combine map-side:\n$p")
  }

  test("DSIR score: bucket table broadcasts; doc counts combine map-side") {
    val p = plan(TextAnalysis.dsirScore(docs))
    // λ is a buckets-row table — it must ride a broadcast back onto the
    // per-doc counts, never shuffle the exploded bigram stream twice
    assert(p.contains("BroadcastHashJoin"), s"lambda lookup must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"only the 1-row totals may nested-loop:\n$p")
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"bucket counts must combine map-side:\n$p")
  }

  test("quantile counter: histogram collapses rows map-side; windows partitioned") {
    val c = CounterDef("p90", CounterType.ValueQuantile, Some("value"),
      windowDuration = "1 hour", quantilePpm = 900000L)
    val p = plan(graft.operators.Counters.run(events, "ts", c))
    // the corpus collapses to a (window, value) histogram BEFORE any
    // window function — the pick must never sort raw rows
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"histogram must combine map-side:\n$p")
    // both pick windows are partitioned by the time window — an
    // unpartitioned frame would serialize the corpus on one reducer
    assert(!p.contains("windowspecdefinition()"),
      s"unpartitioned window in the quantile pick:\n$p")
  }

  test("hitter counter: rank runs over the member aggregate, never raw rows") {
    val c = CounterDef("top", CounterType.HeavyHitters, Some("user_id"),
      windowDuration = "1 hour", topK = 3)
    val p = plan(graft.operators.Counters.run(events, "ts", c))
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"member counts must combine map-side:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"unpartitioned rank window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in hitter counter:\n$p")
  }

  test("salted join: salt rides the join keys; dim replicates via one generator") {
    import graft.relational.Relational
    val li = Tables.lineitem(spark, sf0001).withColumnRenamed("l_orderkey", "okey")
    val ord = Tables.orders(spark, sf0001).withColumnRenamed("o_orderkey", "okey")
    val p = plan(Relational.saltedEquiJoin(li, ord, "okey", 8, col("l_linenumber")))
    // (key, salt) must BOTH be join keys — a salt that falls out of the
    // condition silently degrades to the unsalted hot-key join
    assert(p.contains("__salt"), s"salt column must reach the join:\n$p")
    assert(p.contains("Generate") || p.contains("explode"),
      s"dim replication must be one generator:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in salted join:\n$p")
  }

  test("minhash calibration: exact pass candidate-bounded via semi-join, sizes broadcast") {
    val p = plan(Dedup.minhashCalibration(docs))
    assert(!p.contains("CartesianProduct"), s"cartesian in calibration:\n$p")
    // the shingle index must shrink to candidate docs BEFORE the exact join
    assert(p.contains("LeftSemi"), s"exact pass must be candidate-bounded:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"candidate-bounded sizes must broadcast:\n$p")
  }

  test("OOV rate: vocab rides a broadcast; per-doc counts combine map-side") {
    val p = plan(TextAnalysis.oovRate(docs))
    assert(p.contains("BroadcastHashJoin"), s"vocab lookup must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream must not shuffle for the vocab:\n$p")
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"per-doc counts must combine map-side:\n$p")
  }

  test("Gopher rules verdict is one narrow scan: no shuffle, pruned read") {
    val p = plan(TextAnalysis.gopherRules(docs))
    // same contract as the quality gate: the fixture's round-robin spread
    // is allowed; the verdict itself adds no keyed shuffle/join/aggregate
    assert(!p.contains("Exchange hashpartitioning"), s"rules must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"rules are a pure projection:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned to (doc_id, text):\n$p")
  }

  test("LM perplexity: digest-only count joins, no text past the explode") {
    val p = plan(TextAnalysis.lmPerplexity(docs))
    // the bigram/prefix tables are corpus-bounded: they join by 60-bit
    // digest (sort-merge or shuffled-hash is fine), never by raw gram text
    assert(!p.contains("CartesianProduct"), s"cartesian in LM scoring:\n$p")
    assert("partial_count".r.findAllIn(p).size >= 2,
      s"count tables must combine map-side:\n$p")
    // V is one row — it must ride a broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"vocab scalar must broadcast:\n$p")
  }

  test("IVF-PQ refine: candidates broadcast into the corpus; no cartesian") {
    val p = plan(Ann.ivfPqRerankTopK(embeddings, col("vec_id") % 50 === 0))
    // the refine stage fetches raw vectors by streaming the corpus through
    // a broadcast candidate filter — a shuffled join here would move every
    // raw vector for a (queries × shortlist)-row lookup
    assert(p.contains("BroadcastHashJoin"), s"refine must broadcast candidates:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked into refine:\n$p")
  }

  test("substring runs: digest-only join, diagonal-partitioned windows only") {
    val p = plan(Dedup.substringRuns(docs))
    assert(!p.contains("CartesianProduct"), s"cross join leaked into runs:\n$p")
    // every Window must be partitioned (occ-cap by gh, islands by pair/diag)
    // — an unpartitioned window would serialize the corpus on one reducer
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      s"unpartitioned window in runs plan:\n$p")
    // text must not reach the join: only doc_id/pos/gh survive the scan side
    assert(!"SortMergeJoin.*shingle".r.findFirstIn(p).isDefined &&
      !"BroadcastHashJoin.*text".r.findFirstIn(p).isDefined,
      s"raw text leaked past the digest projection:\n$p")
  }

  test("span scrub: gram shuffles carry digests, never shingle text") {
    val p = plan(Dedup.spanScrub(docs))
    assert(!p.contains("CartesianProduct"), s"cross join leaked into scrub:\n$p")
    // the hot-gram frequency groupBy and the left-semi join must key on
    // the 60-bit md5 digest — a raw k-word shingle key would put text on
    // both shuffles (the d24 scale-shape claim)
    assert(!p.contains("hashpartitioning(shingle"),
      s"raw shingles crossed a shuffle:\n$p")
    assert(!"(SortMergeJoin|BroadcastHashJoin).*shingle".r.findFirstIn(p).isDefined,
      s"raw shingles reached a join:\n$p")
    // gram frequencies combine map-side before the digest shuffle
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"gram counts must combine map-side:\n$p")
  }

  test("unicode scrub is one narrow no-shuffle projection") {
    val p = plan(TextAnalysis.unicodeScrub(docs))
    // Tables.documents adds a round-robin repartition (single-file scan
    // parallelization); the scrub itself must add no keyed shuffle,
    // join, or aggregate — it is a pure projection
    assert(!p.contains("Exchange hashpartitioning"), s"scrub must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"scrub is a pure projection:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned:\n$p")
  }

  test("ccnet buckets: every window partitions by lang; cutoffs broadcast back") {
    val p = plan(TextAnalysis.ccnetBuckets(docs))
    assert(!p.contains("windowspecdefinition()"),
      s"unpartitioned window in the tercile cutoffs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cutoff table must broadcast:\n$p")
  }

  test("NB classifier: dense weight table broadcasts; raw text never joins") {
    val p = plan(TextAnalysis.nbClassifier(docs))
    // the label×bucket weights ride a broadcast into the token stream
    assert(p.contains("BroadcastHashJoin"), s"weights must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
    // per-(doc, label) partial sums combine map-side before the shuffle
    assert("partial_sum".r.findAllIn(p).size >= 1,
      s"score sums must combine map-side:\n$p")
    // text reaches only the tokenizing scan — never a join operand
    assert(!"SortMergeJoin.*text".r.findFirstIn(p).isDefined &&
      !"BroadcastHashJoin.*text\\b".r.findFirstIn(p).isDefined,
      s"raw text leaked into a join:\n$p")
  }

  test("URL profile: parse_url kernels, no ScalaUDF, map-side-combined rollup") {
    val p = plan(SparkEntry.queries("t41_url_profile")(spark, sf0001))
    assert(!p.contains("ScalaUDF"), s"URL ops must stay codegen'd:\n$p")
    assert("partial_count".r.findAllIn(p).size >= 1,
      s"domain rollup must combine map-side:\n$p")
    // only the construction inputs are read — text never scans
    assert(!p.contains("text"), s"text must not be read:\n$p")
  }

  test("BPE encode: the merge table folds to literals — one shuffle-free scan") {
    // training runs first (driver control loop, its own bounded jobs);
    // the ENCODE plan under audit is the returned frame: literal
    // replaces inside codegen'd HOF aggregates over one documents scan
    val p = plan(TextAnalysis.bpeEncode(docs, merges = 2))
    assert(!p.contains("ScalaUDF"), s"encode must stay codegen'd:\n$p")
    // Tables.spread's conditional RoundRobin fixture-spread is fine; a
    // KEYED exchange would mean the per-doc encode started shuffling
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-doc encode must not shuffle on a key:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"encode scan must prune to (doc_id, text):\n$p")
  }

  import spark.implicits._

  test("pageRank iteration: ranks broadcast into the edge scan; contributions combine map-side") {
    val edges = Seq(("a", "b"), ("c", "b"), ("b", "a"), ("b", "c")).toDF("src", "dst")
    // audit the LAST iteration's plan as built (pre-checkpoint): the
    // hosts-bounded rank frame must broadcast into the edge join and the
    // per-dst contribution sum must have a partial (map-side) phase so
    // the dst shuffle carries combined rows, never raw edges
    val nodes = edges.select(col("src").as("host"))
      .unionAll(edges.select(col("dst").as("host"))).distinct()
    val ranks = nodes.withColumn("pagerank", lit(250000000000L))
    val eplus = edges.join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    val contribs = eplus
      .join(org.apache.spark.sql.functions.broadcast(ranks),
        eplus("src") === ranks("host"))
      .select(eplus("dst").as("host"),
        expr("(pagerank * 850000L) div (1000000L * outdeg)").as("c"))
      .groupBy("host").agg(sum("c").as("c"))
    val p = plan(contribs)
    assert(p.contains("BroadcastHashJoin"), s"ranks must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"contributions must combine map-side:\n$p")
    assert(!p.contains("ScalaUDF"), s"pure Column arithmetic only:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("kCore: survivors broadcast into the edge scan by default; degrees combine map-side") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst")
    // audit the RETURNED frame (final survivorDegrees join + left join back
    // onto nodes): the default path must broadcast the hosts-bounded
    // survivor set into the checkpointed edge scan, and the per-host degree
    // count must have a partial (map-side) phase so the host shuffle
    // carries combined rows, never exploded endpoints
    val p = plan(graft.graph.GraphOps.kCore(edges, k = 2, maxRounds = 1))
    assert(p.contains("BroadcastHashJoin"), s"survivors must broadcast:\n$p")
    assert(p.contains("partial_count"), s"degrees must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("ScalaUDF"), s"pure Column arithmetic only:\n$p")
  }

  test("hitter sketch gate: summaries ride ObjectHashAggregate; no corpus window") {
    val p = plan(graft.relational.Temporal.hitterSketchGate(events))
    // the Misra-Gries typed Aggregator must aggregate (partial merge),
    // not collect rows — ObjectHashAggregate is the typed-agg engine
    assert(p.contains("ObjectHashAggregate"), s"sketch must ride a typed agg:\n$p")
    // the only row_number window is the exact top-k side, partitioned by
    // window — never an unpartitioned global sort
    assert(!p.contains("rangepartitioning"), s"no global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("bloom membership: filter broadcasts as ONE row; probe test stays codegen'd") {
    val f = docs.select(concat(lit("u"), col("doc_id")).as("key"))
    val p = plan(Dedup.bloomMembership(f, f))
    assert(p.contains("ObjectHashAggregate"), s"filter build must be a typed agg:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row filter must broadcast into the probe scan:\n$p")
    assert(!p.contains("ScalaUDF"), s"probe test must stay codegen'd md5 arithmetic:\n$p")
  }

  test("editVerifiedPairs: no cartesian, no UDF; the length prune precedes the DP") {
    val p = plan(Dedup.editVerifiedPairs(docs))
    assert(!p.contains("CartesianProduct"), s"no cartesian in the LSH verify:\n$p")
    assert(!p.contains("ScalaUDF"), s"levenshtein must be the codegen'd built-in:\n$p")
    // the banded form carries the driver-scalar K as a literal third arg
    assert(p.toLowerCase.contains("levenshtein"), s"where did the verify go:\n$p")
  }

  test("linkPrediction: degree table broadcasts; wedge counts combine map-side") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("src", "dst")
    val p = plan(graft.graph.GraphOps.linkPrediction(edges, minCommon = 1L))
    assert(p.contains("BroadcastHashJoin"), s"degrees must broadcast:\n$p")
    assert(p.contains("partial_count"), s"wedge counts must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("ScalaUDF"), p)
  }

  test("rangeSearch: queries broadcast into ONE corpus scan; no rank window at all") {
    val p = plan(Ann.rangeSearch(embeddings, col("vec_id") % 50 === 0))
    assert(p.contains("Broadcast"), s"queries must broadcast:\n$p")
    assert(!p.contains("Window"), s"range search needs no per-query sort:\n$p")
    assert(!p.contains("ScalaUDF"), s"vec_dot must stay codegen'd:\n$p")
  }

  test("cusumDrift: ONE keyed shuffle feeds both window passes; median broadcasts back") {
    val p = plan(graft.relational.Temporal.cusumDrift(events))
    // prefix-sum and running-min share (event_type, hour asc): Spark must
    // plan them over a single hash exchange above the CHECKPOINTED hourly
    // aggregate (which materializes once for its two consumers), plus the
    // median's own types-bounded collect — ≤ 2 keyed exchanges total
    val keyedExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyedExchanges <= 2,
      s"window stages must reuse one partitioning, saw $keyedExchanges:\n$p")
    assert("Window".r.findAllIn(p).size == 2, s"exactly two window passes:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the per-type median must broadcast:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("zOrderPruning: pure-projection interleave, map-side-combined bucket stats") {
    val p = plan(graft.relational.Relational.zOrderPruning(events))
    assert(!p.contains("ScalaUDF"), s"the Morton interleave must be codegen'd shifts:\n$p")
    assert(p.contains("partial_count"), s"bucket stats must combine map-side:\n$p")
    assert(!p.contains("Join"), s"a layout projection must not join anything:\n$p")
  }

  test("corpus overlap: ONE map-side-combined slice aggregate; pairwise side broadcast") {
    val p = plan(Dedup.corpusOverlap(docs))
    // 64 per-slice mins combine map-side (the union-signature aggregate)
    assert("partial_min".r.findAllIn(p).size >= 1,
      s"slice signature must combine map-side:\n$p")
    // the slices² pairwise pass must be the explicit broadcast, and the
    // only join in the plan — nothing data-sized ever joins
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"pairwise estimate must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"data-sized join leaked:\n$p")
  }

  test("stressCentrality: keyed equi-joins only (no cartesian), no UDF, one scalar broadcast") {
    val e = EntryHelpers.hostEdgesFixture(docs)
    val p = plan(graft.graph.GraphOps.stressCentrality(e, radius = 2))
    assert(!p.contains("CartesianProduct"),
      s"pair frames must never cartesian:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF leaked into the BFS:\n$p")
    // the (n_all, n_samp) scalar row is the only nested-loop broadcast
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"pivot-count scalars must broadcast:\n$p")
  }

  test("CMS counters: cell build combines map-side; gate joins stay equi (no cartesian)") {
    val p = plan(graft.relational.Temporal.cmsHitterGate(events))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"cell counts must combine partial+final:\n$p")
    assert(!p.contains("CartesianProduct"), s"probe join must be equi:\n$p")
    assert(!p.contains("ScalaUDF"), s"md5 bucketing must stay native:\n$p")
  }

  test("two-phase CMS record hop: JSON envelope rides native expressions, no UDF") {
    val sharded = events.withColumn("shard", pmod(col("user_id"), lit(4)))
    val p = plan(graft.operators.Intermediate.mergeCmsRecords(
      graft.operators.Intermediate.toCmsRecords(
        graft.relational.Temporal.partialCmsState(sharded, "ts", "shard"),
        "cms_audit", "arn:aws:kinesis:us-east-1:000000000000:stream/agg"),
      "cms_audit"))
    assert(!p.contains("ScalaUDF"),
      s"to_json/from_json/version gate must stay native:\n$p")
    assert(!p.contains("CartesianProduct"), s"merge must stay keyed:\n$p")
  }

  test("modularity: labels broadcast into the edge frame; internal-edge count combines map-side") {
    val e = EntryHelpers.hostEdgesFixture(docs)
    val labels = e.select(col("src").as("host")).distinct()
      .withColumn("community", col("host"))
    val p = plan(graft.graph.GraphOps.modularity(e, labels))
    assert(p.contains("BroadcastHashJoin"),
      s"hosts-bounded labels must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no pair frame here:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"degree/internal counts must combine partial+final:\n$p")
  }

  test("knPerplexity: digest counts combine map-side above the checkpointed transitions; no UDF") {
    // the transition frame is a lazy localCheckpoint (five consumers), so
    // the parquet scan hides behind its RDD placeholder — the auditable
    // surface is everything above it: the four digest aggregates and the
    // scoring joins must all be combined hash aggregates and equi-joins
    val p = plan(TextAnalysis.knPerplexity(docs))
    assert("partial_count".r.findAllIn(p).size >= 2,
      s"bigram/type counts must combine map-side:\n$p")
    assert(!p.contains("ScalaUDF"), s"hashing must stay native:\n$p")
    assert(!p.contains("CartesianProduct"), s"scoring joins must stay equi:\n$p")
  }

  test("vadSegments: island windows partition by doc, never a global sort") {
    val wins = graft.multimodal.Multimodal.audioEnergy(
      docs.select(col("doc_id"), col("text").cast("binary").as("media"))
        .withColumn("media_type", lit("audio")),
      windowSamples = 16).toDF()
    val p = plan(graft.multimodal.Multimodal.vadSegments(wins))
    assert(p.contains("hashpartitioning(doc_id"),
      s"windows must partition by doc:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"a global sort leaked into the island windows:\n$p")
  }

  test("sketchOverlap: pairwise side broadcasts; the exact intersection stays an equi-join") {
    // the distinct digest frame and per-slice sketch rows are lazy
    // checkpoints (each feeds two consumers), so the sketch aggregate
    // hides behind RDD placeholders; the auditable surface is the join
    // structure above them
    val p = plan(Dedup.sketchOverlap(docs))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the slices² pairwise pass must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the exact intersection must stay an equi-join:\n$p")
  }

  test("seqPoissonSample: rank window partitions by stratum over a skinny projection") {
    val p = plan(TextAnalysis.seqPoissonSample(docs))
    assert(p.contains("hashpartitioning(stratum"),
      s"top-k must partition by stratum:\n$p")
    assert(!p.contains("rangepartitioning"), s"no global sort:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,text:string>") ||
      p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      s"scan must prune to (doc_id, source, text):\n$p")
  }
}
