package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Canonicalize non-scalar result cells: the driver's pandas compare
    * sorts rows via Categorical/factorize, which dies on dict/list cells
    * (round 7's only red row, c54). Structs/arrays/maps are JSON-stringified
    * here — compact, key-order-preserving, matching DuckDB's to_json() byte
    * for byte — so any oracle for a struct-valued query must wrap the same
    * column in to_json(...) on the DuckDB side. ignoreNullFields=false keeps
    * Spark emitting "k":null where DuckDB does. */
  private[graft] def canonicalize(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, to_json}
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType =>
          to_json(col(f.name), Map("ignoreNullFields" -> "false").asJava).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // Per-query audit trail, appended AS WE GO: a mid-run kill (driver
    // budget death) still leaves the full enumeration of what passed and
    // what threw — round 5's correctness came back `{}` with no trace.
    val statusPath = Paths.get(s"$outDir/status.jsonl")
    def status(name: String, ok: Boolean, msg: String): Unit = {
      val line = s"""{"query":${Bench.jstr(name)},"status":"${if (ok) "ok" else "failed"}"""" +
        (if (msg.nonEmpty) s""","error":${Bench.jstr(msg.take(300))}}""" else "}")
      try Files.writeString(statusPath, line + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }
    // optional SPARK_GRAFT_ONLY filter for targeted local iteration;
    // unset, every query is dumped
    Bench.selected("verify").foreach { case (name, fn) =>
      try {
        canonicalize(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        status(name, ok = true, "")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name, ok = false, String.valueOf(e.getMessage))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
