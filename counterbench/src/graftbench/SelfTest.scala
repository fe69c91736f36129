package graftbench

import java.io.File
import java.nio.file.Files

/** Self-tests of the benchmark's own parts: the generator is a pure
  * function of its seed, its KPL envelopes decode with the engine's
  * deaggregator, and the checker flags each kind of wrong window record.
  * `python3 counterbench/run.py --selftest` runs them.
  */
object SelfTest {
  private var checks = 0
  private def expect(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) throw new AssertionError(s"selftest failed: $what")
  }

  private def generate(seed: Long, dir: File): Gen = {
    val g = new Gen(seed, dir, new Truth(60000L, Workloads.Shards))
    g.writeStatic(20000, Workloads.T0, 10 * 60000L, 500L)
    g
  }

  private def bytes(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles().sortBy(_.getName).toSeq.map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  def main(argv: Array[String]): Unit = {
    val tmp = Files.createTempDirectory(new File(".").toPath, "selftest").toFile

    // seeded generator
    val a = generate(7, new File(tmp, "a"))
    generate(7, new File(tmp, "b"))
    generate(8, new File(tmp, "c"))
    expect(bytes(new File(tmp, "a")) == bytes(new File(tmp, "b")), "same seed gives byte-identical logs")
    expect(bytes(new File(tmp, "a")) != bytes(new File(tmp, "c")), "another seed gives other logs")
    expect(a.truth.userRecords == 20000, "the static log holds the requested user records")
    expect(a.truth.corrupt > 0 && a.truth.corrupt < 100, s"about 0.1% corrupt: ${a.truth.corrupt}")
    val kplShare = (a.truth.userRecords - a.truth.wireRecords).toDouble / 9 / a.truth.wireRecords
    expect(math.abs(kplShare - Gen.KplShare) < 0.03, s"about 30% of wire records are envelopes: $kplShare")

    // the independent KPL encoder against the engine's decoder
    val recs = Seq("k1" -> "a".getBytes, "k2" -> "bb".getBytes, "k1" -> Array.fill(300)(7.toByte))
    val back = graft.sources.Deaggregate.deaggregate(Kpl.encode(recs))
    expect(back.map(r => (r.partitionKey, r.data.toSeq)) == recs.map { case (k, d) => (k, d.toSeq) },
      "engine deaggregates the benchmark's KPL envelopes")

    // the checker
    val expected = Check.expectedBatch(a.truth)
    val perfect = expected.map(e => OutRec(e.counter, e.window, e.shard, e.value, 0L))
    expect(Check.compare(expected, perfect).errors == 0, "a perfect answer passes")
    val dropped = Check.compare(expected, perfect.tail)
    expect(dropped.missing == 1 && dropped.errors == 1, s"a dropped window is flagged: $dropped")
    val dup = Check.compare(expected, perfect :+ perfect.head)
    expect(dup.duplicate == 1 && dup.errors == 1, s"a duplicated window is flagged: $dup")
    val i = perfect.indexWhere(_.counter == Check.Total)
    val offByOne = perfect.updated(i, perfect(i).copy(value = perfect(i).value + 1))
    expect(Check.compare(expected, offByOne).wrong == 1, "an off-by-one count is flagged")
    val stray = Check.compare(expected, perfect :+ perfect(i).copy(window = perfect(i).window + 1))
    expect(stray.wrong == 1, "a window nobody expected is flagged")
    val j = perfect.indexWhere(r => r.counter == Check.Users && r.value >= 100)
    def acd(f: Double) = perfect.updated(j, perfect(j).copy(value = math.round(perfect(j).value * f)))
    expect(Check.compare(expected, acd(1.06)).wrong == 1, "an ACD value 6% high is flagged")
    expect(Check.compare(expected, acd(0.94)).wrong == 1, "an ACD value 6% low is flagged")
    expect(Check.compare(expected, acd(1.04)).errors == 0, "an ACD value 4% high passes")
    val stream = Check.expectedStream(a.truth, a.truth.maxEventMs - 2000L)
    expect(stream.size == 3 * (a.truth.windows.size - 1), "streaming expects every closed window")

    Seq("a", "b", "c").foreach(d => new File(tmp, d).listFiles().foreach(_.delete()))
    Seq("a", "b", "c").foreach(d => new File(tmp, d).delete())
    tmp.delete()
    // scalastyle:off println
    println(s"selftest ok: $checks checks")
    // scalastyle:on println
  }
}
