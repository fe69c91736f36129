package graftbench

import java.io.File

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * [--trace-out <file>]`. Prints, as its last line, one JSON object with
  * the verdict and every metric the run measured.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, traceOut: String)

  val Workloads = Seq("backfill", "stream_steady")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.getOrElse("trace-out", new File(need("work"), "trace.json").getPath))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = new graftbench.Workloads(args)
    val r = args.workload match {
      case "backfill" => w.backfill()
      case "stream_steady" => w.steady()
    }
    val metrics = r.metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
      s""""$k":{"value":${num(v)},"unit":"$unit"}"""
    }.mkString(",")
    val correct = r.valid && r.verdict.errors == 0
    // scalastyle:off println
    println(s"""{"correct":$correct,"attempted":${r.verdict.expected},"failed":${r.verdict.errors},""" +
      s""""metrics":{$metrics}}""")
    // scalastyle:on println
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out, so end here
    sys.exit(0)
  }
}
