package perfbench

import org.apache.spark.sql.functions.col
import graft.api._
import graft.operators.IntervalJoin

/** The benchmark's own tests: seeded generation is deterministic, and the
  * plain-Scala reference agrees with brute force and with the library.
  *
  * {{{
  * python3 perfbench/run.py --self-test
  * }}}
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def inputDigest(spec: SpanSpec, seed: Long): Digest = {
    val s = spec.arrays(seed)
    s.id.indices.map(i => Digest.of(s.id(i), s.k(i), s.start(i), s.stop(i))).foldLeft(Digest.zero)(_ + _)
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.sliding(2).collectFirst { case Array("--work-dir", d) => d }
      .getOrElse(".bench_build/perfbench")
    val spec = SpanSpec(stream = 1, rows = 5000, domain = 1000000L, maxLen = 2000L, keys = 7)

    test("the same seed gives the same input digest") {
      assertEq(inputDigest(spec, 42L), inputDigest(spec, 42L), "seed 42 twice")
    }
    test("a different seed or table gives a different input digest") {
      assert(inputDigest(spec, 42L) != inputDigest(spec, 43L), "seeds 42 and 43 collide")
      assert(inputDigest(spec, 42L) != inputDigest(spec.copy(stream = 2), 42L), "streams 1 and 2 collide")
    }
    test("the reference sweep finds exactly the brute-force overlapping pairs") {
      // a small domain forces shared starts, shared stops and touching ends
      val tiny = SpanSpec(stream = 3, rows = 400, domain = 300L, maxLen = 40L)
      val l = tiny.arrays(1L)
      val r = tiny.copy(stream = 4).arrays(1L)
      val swept = Set.newBuilder[(Int, Int)]
      Reference.sweep(l.start, l.stop, r.start, r.stop)((a, b) => swept += ((a, b)))
      val brute = for (a <- l.id.indices; b <- r.id.indices
        if l.start(a) < r.stop(b) && r.start(b) < l.stop(a)) yield (a, b)
      assertEq(swept.result(), brute.toSet, "pairs")
    }

    val spark = Main.session(2, workDir)
    try {
      test("intervalJoin agrees with the reference sweep on a generated case") {
        val dir = s"$workDir/selftest"
        val small = SpanSpec(stream = 5, rows = 3000, domain = 200000L, maxLen = 500L)
        val (l, la, _) = Tables.spans(spark, small, 7L, s"$dir/left", keyed = false)
        val (r, ra, _) = Tables.spans(spark, small.copy(stream = 6), 7L, s"$dir/right", keyed = false)
        val want = Reference.joinDigest(la, ra)
        assert(want.rows > 0, "the case has no pairs")
        for (strategy <- Seq(IntervalJoin.Strategy.Auto, IntervalJoin.Strategy.Sweep,
            IntervalJoin.Strategy.Binned, IntervalJoin.Strategy.Range)) {
          val j = intervalJoin(l, r, "span", JoinOptions(
            renamecols = IntervalJoin.suffixes("_l", "_r"), strategy = strategy))
          val got = Digest.ofFrame(j.select(col("id_l"), col("id_r"), col("span.start"), col("span.stop")))
          assertEq(got, want, s"$strategy digest")
        }
        Main.deleteTree(new java.io.File(dir))
      }
    } finally spark.stop()

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
