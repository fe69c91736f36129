package graft

/** Plan-inspection helper: `runMain graft.Explain q1 q2 …` prints each named
  * query's formatted physical plan, so shuffle/join/codegen choices are
  * reviewable without editing code. It plans in the same [[Session]] as
  * [[Verify]] (incl. the UTC timezone, which affects time-expression
  * folding); defaults to sf0.01 — set `SPARK_GRAFT_SF_DIR` to match the
  * run you are diagnosing, since AQE decisions are input-size dependent.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session()
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"==== $name ====")
          fn(spark, sfDir).explain("formatted")
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
