package perfbench

/** Seeded input generation. Every value is a pure function of
  * (seed, table stream, row index), so Spark tasks and the plain-Scala
  * reference produce the same rows without shipping data, and the same
  * seed always yields the same tables. */
object Gen {

  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The `draw`-th pseudo-random value of row `i` in table `stream`. */
  def rand(seed: Long, stream: Long, i: Long, draw: Int): Long =
    mix(mix(mix(seed) ^ (stream * 0x632BE59BD9B4E019L)) + i * 4L + draw)

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, i: Long, draw: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(rand(seed, stream, i, draw), n)
}

/** A table of `rows` half-open spans `(id, k, start, stop)`: starts uniform
  * over `[0, domain)`, lengths uniform over `[1, maxLen]`, keys uniform over
  * `[0, keys)`. `stream` tells tables of one seed apart. */
final case class SpanSpec(stream: Long, rows: Int, domain: Long, maxLen: Long, keys: Int = 1) {
  def row(seed: Long, i: Long): (Long, Long, Long, Long) = {
    val s = Gen.below(seed, stream, i, 0, domain)
    val len = 1L + Gen.below(seed, stream, i, 1, maxLen)
    val k = if (keys <= 1) 0L else Gen.below(seed, stream, i, 2, keys.toLong)
    (i, k, s, s + len)
  }

  /** In-memory copy of the table, column-wise. */
  def arrays(seed: Long): Spans = {
    val ids = new Array[Long](rows); val ks = new Array[Long](rows)
    val ss = new Array[Long](rows); val es = new Array[Long](rows)
    var i = 0
    while (i < rows) {
      val (id, k, s, e) = row(seed, i)
      ids(i) = id; ks(i) = k; ss(i) = s; es(i) = e
      i += 1
    }
    Spans(ids, ks, ss, es)
  }
}

final case class Spans(id: Array[Long], k: Array[Long], start: Array[Long], stop: Array[Long]) {
  def length: Int = id.length
  /** The first `n` rows (ids `0 until n`). */
  def take(n: Int): Spans = Spans(id.take(n), k.take(n), start.take(n), stop.take(n))
}

/** Order-insensitive digest of a multiset of rows of longs: the row count
  * and the wrapping sum of a per-row mix. Equal multisets give equal
  * digests; a changed, lost or duplicated row changes it (with 2^-64
  * collision odds per change). */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  override def toString: String = f"rows=$rows sum=$sum%016x"
}

object Digest {
  val zero: Digest = Digest(0L, 0L)

  def of(values: Long*): Digest = {
    var h = 0x2545F4914F6CDD1DL
    values.foreach(v => h = Gen.mix(h ^ v))
    Digest(1L, h)
  }

  /** Digest of every row of `df`, whose columns must all be non-null longs. */
  def ofFrame(df: org.apache.spark.sql.DataFrame): Digest = {
    val n = df.schema.length
    df.queryExecution.toRdd.mapPartitions { it =>
      var d = zero
      val buf = new Array[Long](n)
      it.foreach { r =>
        var c = 0
        while (c < n) { buf(c) = r.getLong(c); c += 1 }
        d = d + of(buf.toIndexedSeq: _*)
      }
      Iterator.single(d)
    }.fold(zero)(_ + _)
  }
}
