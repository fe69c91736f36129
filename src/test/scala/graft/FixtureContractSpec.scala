package graft

import org.apache.spark.sql.types._

/** Contract between the driver-generated fixtures and the engine-facing
  * loaders in [[Tables]].
  *
  * Motivation (round-5 incident): the driver regenerated `/root/testdata`
  * with `ts: timestamp[us]` where the old fixtures were TIMESTAMP(NANOS);
  * `Tables.events` only converted the nanos-long path, the NTZ column flowed
  * through unconverted, and 39 oracle queries failed — while `sbt test`
  * stayed green because nothing asserted the post-load schema. This spec
  * turns any future fixture-format drift into ONE named test failure.
  */
class FixtureContractSpec extends SparkTestBase {

  test("session carries graft.Session's confs (UTC: NTZ→LTZ casts need it)") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.conf.get("spark.sql.dataFrameQueryContext.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == "local[4]")
    assert(Session.StatePartitions == 8)
  }

  test("events loads with ts as TimestampType regardless of fixture physical type") {
    val df = Tables.events(spark, sf0001)
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    val cols = df.schema.fieldNames.toSet
    assert(Set("event_id", "ts", "user_id", "event_type", "value", "props").subsetOf(cols),
      s"events missing expected columns; got ${cols.mkString(",")}")
    // the watermark/window path must actually work on the loaded frame
    import org.apache.spark.sql.functions._
    val n = df.select(unix_millis(col("ts"))).limit(1).count()
    assert(n == 1)
  }

  test("eventsStream schema has ts as TimestampType (watermark eligibility)") {
    val df = Tables.eventsStream(spark, sf0001)
    assert(df.schema("ts").dataType == TimestampType,
      s"eventsStream.ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    // EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE would throw right here
    df.withWatermark("ts", "1 minute")
  }

  test("every table loads with its expected engine-facing columns") {
    val expected: Map[String, Set[String]] = Map(
      "region"     -> Set("r_regionkey", "r_name"),
      "nation"     -> Set("n_nationkey", "n_name", "n_regionkey"),
      "customer"   -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier"   -> Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part"       -> Set("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders"     -> Set("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                          "o_orderdate", "o_orderpriority"),
      "lineitem"   -> Set("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"),
      "events"     -> Set("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents"  -> Set("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Set("vec_id", "embedding", "label")
    )
    val problems = expected.flatMap { case (name, cols) =>
      val actual = Tables.load(spark, sf0001, name).schema.fieldNames.toSet
      val missing = cols -- actual
      if (missing.isEmpty) None
      else Some(s"$name missing ${missing.mkString(",")} (has ${actual.mkString(",")})")
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("embeddings.embedding is an array of floating-point values") {
    Tables.embeddings(spark, sf0001).schema("embedding").dataType match {
      case ArrayType(FloatType | DoubleType, _) => ()
      case other => fail(s"embedding must be array<float|double>, got $other")
    }
  }

  // estSplits is the underfill probe behind Tables.spread/spreadStream
  // (r13: moved to the Hadoop FS API so it is honest off-box — VERDICT
  // r12 item 7). Contract: a DIRECTORY table sums its files; the split
  // estimate follows spark.sql.files.maxPartitionBytes; an unstattable
  // path reads as already-split (Long.MaxValue — spread must never
  // re-shuffle a source it cannot size).
  test("estSplits stats directory tables through the Hadoop FS API") {
    val dir = java.nio.file.Files.createTempDirectory("graft_estsplits").toFile
    try {
      // two 1 MiB part files — a directory table, like a real parquet dir
      val payload = new Array[Byte](1024 * 1024)
      Seq("part-0", "part-1").foreach { n =>
        java.nio.file.Files.write(new java.io.File(dir, n).toPath, payload)
      }
      val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
        assert(Tables.estSplits(spark, dir.getAbsolutePath) === 2L,
          "2 MiB directory at 1 MiB splits must estimate 2")
        spark.conf.set("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
        assert(Tables.estSplits(spark, dir.getAbsolutePath) === 1L,
          "2 MiB directory at 4 MiB splits must estimate 1")
      } finally prev.fold(spark.conf.unset("spark.sql.files.maxPartitionBytes"))(
        spark.conf.set("spark.sql.files.maxPartitionBytes", _))
      assert(Tables.estSplits(spark, s"${dir.getAbsolutePath}/nope") === Long.MaxValue,
        "an unstattable path must read as already split")
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
  }
}
