package graft

import org.apache.spark.sql.SparkSession

/** The one definition of a graft Spark session: every main and the test
  * base build theirs here, so a shared conf is a one-line change.
  */
object Session {

  /** Stateful-stream state sizing: `spark.sql.shuffle.partitions` is ALSO
    * the stateful-operator state-store count, and a real deployment sizes
    * it per stream volume, not per batch parallelism — every micro-batch
    * commits every store, so 32 stores for a trickle stream is pure
    * overhead (measured ~1.5× on the parity queries). The streaming parity
    * queries run their stream under this many partitions and restore the
    * session's batch setting after (`EntryHelpers.withStatePartitions`).
    */
  val StatePartitions = 8

  /** Executor threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cores]` session with graft's confs and the log level at WARN. */
  def apply(cores: Int = cpus): SparkSession = {
    val localDirs = sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark")
    // Streaming TEMP checkpoints land in java.io.tmpdir (not
    // spark.local.dir); point it at the same tmpfs so per-micro-batch
    // state commits don't pay the shared host disk's fsync latency.
    // SPARK_LOCAL_DIRS may be a comma list (valid for spark.local.dir) —
    // tmpdir needs ONE path, so take the first; keep the JVM default if
    // the dir can't be created (a broken tmpdir fails every temp file).
    val tmp = new java.io.File(localDirs.split(',').head.trim + "/tmp")
    if (tmp.isDirectory || tmp.mkdirs())
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    else System.err.println(s"[graft] WARNING: cannot create $tmp; keeping default tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // pinned in code, not just sbt javaOptions: a jar launched outside
      // sbt must not silently shift every window boundary to the host TZ
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // DataFrame query-context capture (Spark 4 error-message call sites)
      // walks the FULL thread stack on every Column API call — pure
      // driver-side plan-construction overhead at any scale. jstack
      // sampling showed ~1/3 of the jq recursive-def compile inside
      // Thread.getStackTrace (deep parser stacks make each capture
      // O(depth)). Diagnostic-only: error messages lose the user call
      // site; results and plans are unchanged.
      .config("spark.sql.dataFrameQueryContext.enabled", "false")
      // tmpfs for shuffle/spill: the host disk is shared and its latency
      // variance dominates small-shuffle queries (local SSD stand-in)
      .config("spark.local.dir", localDirs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
