package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Optimization diagnostic: runs named queries (args) in a [[Session]]
  * and prints a per-query breakdown of where wall-clock goes —
  * job/stage wall time, task counts, shuffle bytes, and the GAPS between jobs
  * (driver-side planning/analysis/collect time that no stage accounts for).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *          sbt "runMain graft.Profile q1 q2"
  * Not part of the driver contract (Bench/Verify are); purely a lens.
  */
object Profile {
  private class Lens extends SparkListener {
    case class StageRec(id: Int, name: String, tasks: Int, wallMs: Long,
                        taskMs: Long, shufRead: Long, shufWrite: Long,
                        input: Long)
    val stages = mutable.ArrayBuffer[StageRec]()
    val jobs = mutable.ArrayBuffer[(Int, Long, Long)]() // id, start, end
    private val taskMs = mutable.Map[Int, Long]().withDefaultValue(0L)
    private val jobStart = mutable.Map[Int, Long]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskMetrics != null)
        taskMs(t.stageId) += t.taskMetrics.executorRunTime
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      val wall = (for {a <- i.submissionTime; b <- i.completionTime} yield b - a).getOrElse(0L)
      val m = i.taskMetrics
      stages += StageRec(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
        wall, taskMs(i.stageId),
        if (m != null) m.shuffleReadMetrics.totalBytesRead else 0L,
        if (m != null) m.shuffleWriteMetrics.bytesWritten else 0L,
        if (m != null) m.inputMetrics.bytesRead else 0L)
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobStart(j.jobId) = j.time
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs += ((j.jobId, jobStart.getOrElse(j.jobId, j.time), j.time))
    }
    def reset(): Unit = synchronized { stages.clear(); jobs.clear(); taskMs.clear(); jobStart.clear() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    val lens = new Lens
    spark.sparkContext.addSparkListener(lens)
    val repeats = sys.env.get("SPARK_GRAFT_PROFILE_REPEATS").map(_.toInt).getOrElse(2)
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query: $name")
        case Some(fn) =>
          // one warm run (codegen/JIT), then profiled runs
          Bench.timeNoop(spark, fn, sfDir)
          var best = Double.MaxValue
          (1 to repeats).foreach { r =>
            lens.reset()
            val dt = Bench.timeNoop(spark, fn, sfDir)
            Thread.sleep(300) // let the listener bus drain
            if (dt < best) best = dt
            println(f"==== $name run$r: wall ${dt}%.3fs ====")
            val js = lens.jobs.sortBy(_._2).toSeq
            val jobWall = js.map(j => j._3 - j._2).sum
            // gaps between consecutive jobs = driver-side time
            var gaps = 0L
            js.sliding(2).foreach {
              case Seq(a, b) => if (b._2 > a._3) gaps += b._2 - a._3
              case _ => ()
            }
            println(f"  jobs=${js.size} jobWall=${jobWall / 1e3}%.3fs interJobGaps=${gaps / 1e3}%.3fs (driver/planning)")
            val top = lens.stages.sortBy(-_.wallMs).take(14)
            top.foreach { s =>
              println(f"  stage ${s.id}%4d wall=${s.wallMs / 1e3}%7.3fs taskSum=${s.taskMs / 1e3}%7.3fs tasks=${s.tasks}%3d " +
                f"in=${s.input / 1024}%8dK sr=${s.shufRead / 1024}%6dK sw=${s.shufWrite / 1024}%6dK  ${s.name.take(60)}")
            }
          }
          println(f"==== $name best wall ${best}%.3fs ====")
      }
    }
    spark.stop()
  }
}
