package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared pieces of the measurement and verification mains: JSON string
  * escaping, the SPARK_GRAFT_ONLY filter, and the single session factory.
  */
class HarnessSpec extends AnyFunSuite {

  test("jstr round-trips quotes, backslashes and control characters through Jackson") {
    val om = new ObjectMapper()
    Seq("plain", "q\"uote", "back\\slash", "multi\nline\r\n", "tab\there",
        "ctl\u0001\u001f", "[ANALYSIS] \"x\"\n\tat \\path é ").foreach { s =>
      assert(om.readValue(Bench.jstr(s), classOf[String]) == s, s)
    }
    val errors = Map("q@sf0.1" -> "boom:\n\t\"col\" \\ missing\u0001")
    val doc = errors.map { case (k, v) => s"${Bench.jstr(k)}:${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    assert(om.readTree(doc).get("q@sf0.1").asText == errors("q@sf0.1"))
  }

  test("SPARK_GRAFT_ONLY selects the named queries and warns about unknown names") {
    assert(Bench.selected("spec", None).keySet == SparkEntry.queries.keySet)
    val err = new ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new PrintStream(err, true, UTF_8))
    val picked = try Bench.selected("spec", Some(" c01_window_count, no_such_q ,"))
      finally System.setErr(prev)
    assert(picked.keySet == Set("c01_window_count"))
    assert(err.toString(UTF_8).contains("[spec] WARNING: SPARK_GRAFT_ONLY names unknown queries: no_such_q"))
  }

  test("Session.scala is the only source that builds a SparkSession") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val roots = Seq("src/main/scala", "src/test/scala").map(new File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the repository root: $r"))
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val builders = roots.flatMap(files)
      .filter(f => builder.findFirstIn(new String(Files.readAllBytes(f.toPath), UTF_8)).nonEmpty)
      .map(_.getPath)
    assert(builders == Seq("src/main/scala/graft/Session.scala"))
  }
}
