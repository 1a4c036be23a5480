package perfbench

/** Plain-Scala sort-and-sweep references the benchmark checks query results
  * against. They use nothing from the library under test. */
object Reference {

  /** Calls `emit(i, j)` once for every pair of non-empty half-open intervals
    * `[ls(i), le(i))` and `[rs(j), re(j))` that overlap. Both sides are
    * sorted by start and merged; each arriving interval evicts the other
    * side's active intervals that stopped at or before its start and pairs
    * with the rest. */
  def sweep(ls: Array[Long], le: Array[Long], rs: Array[Long], re: Array[Long])(
      emit: (Int, Int) => Unit): Unit = {
    def order(s: Array[Long], e: Array[Long]): Array[Int] =
      s.indices.filter(i => s(i) < e(i)).sortBy(s(_)).toArray
    val lo = order(ls, le)
    val ro = order(rs, re)
    val lAct = new Active
    val rAct = new Active
    var i = 0
    var j = 0
    while (i < lo.length || j < ro.length) {
      // at equal starts the left row goes first; the right row then finds it active
      if (j >= ro.length || (i < lo.length && ls(lo(i)) <= rs(ro(j)))) {
        val a = lo(i)
        rAct.evict(re, ls(a))
        rAct.foreach(b => emit(a, b))
        lAct.add(a)
        i += 1
      } else {
        val b = ro(j)
        lAct.evict(le, rs(b))
        lAct.foreach(a => emit(a, b))
        rAct.add(b)
        j += 1
      }
    }
  }

  /** Unordered active set of row indices. */
  private final class Active {
    private var xs = new Array[Int](16)
    private var n = 0
    def add(x: Int): Unit = {
      if (n == xs.length) xs = java.util.Arrays.copyOf(xs, n * 2)
      xs(n) = x; n += 1
    }
    /** Drops every member whose stop is at or before `at`. */
    def evict(stop: Array[Long], at: Long): Unit = {
      var k = 0
      while (k < n) {
        if (stop(xs(k)) <= at) { n -= 1; xs(k) = xs(n) } else k += 1
      }
    }
    def foreach(f: Int => Unit): Unit = { var k = 0; while (k < n) { f(xs(k)); k += 1 } }
  }

  /** Digest of the inner interval join of `l` and `r`:
    * rows `(l.id, r.id, intersection start, intersection stop)`. */
  def joinDigest(l: Spans, r: Spans): Digest = {
    var d = Digest.zero
    sweep(l.start, l.stop, r.start, r.stop) { (a, b) =>
      d = d + Digest.of(l.id(a), r.id(b),
        math.max(l.start(a), r.start(b)), math.min(l.stop(a), r.stop(b)))
    }
    d
  }

  /** Digest of the per-window aggregate of spans joined to windows:
    * rows `(window label, pair count, summed intersection length)` for
    * every window that overlaps at least one span. */
  def windowAggDigest(spans: Spans, wins: Spans): Digest = {
    val n = new Array[Long](wins.length)
    val covered = new Array[Long](wins.length)
    sweep(spans.start, spans.stop, wins.start, wins.stop) { (a, w) =>
      n(w) += 1
      covered(w) += math.min(spans.stop(a), wins.stop(w)) - math.max(spans.start(a), wins.start(w))
    }
    wins.id.indices.filter(n(_) > 0)
      .map(w => Digest.of(wins.id(w), n(w), covered(w)))
      .foldLeft(Digest.zero)(_ + _)
  }

  /** Number of merged runs per key when overlapping or touching intervals
    * coalesce (`[a,b)` and `[b,c)` merge), summed over keys. */
  def mergedRuns(s: Spans): Long = {
    val idx = s.id.indices.sortBy(i => (s.k(i), s.start(i)))
    var runs = 0L
    var key = Long.MinValue
    var runStop = Long.MinValue
    var first = true
    idx.foreach { i =>
      if (first || s.k(i) != key || s.start(i) > runStop) {
        runs += 1; key = s.k(i); runStop = s.stop(i); first = false
      } else runStop = math.max(runStop, s.stop(i))
    }
    runs
  }
}
