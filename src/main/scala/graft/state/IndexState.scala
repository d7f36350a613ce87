package graft.state

/** Sorted-run search — the JVM-side mirror of the reference's galloping
  * search. `gallop` reimplements the semantics of `advance`
  * (/root/reference/src/lib.rs:101-127): count the prefix of a sorted array
  * satisfying a monotone predicate in O(log n) via exponential probe +
  * binary shrink. The fast engine's run intersections and range slices
  * call it.
  */
object IndexState {

  /** Index of the first element of sorted `xs(from..)` with value ≥ `bound`
    * (i.e. `from` + count of leading elements < bound). */
  def gallop(xs: Array[Long], bound: Long, from: Int = 0): Int = {
    val n = xs.length
    if (from >= n || xs(from) >= bound) return from
    // exponential probe: invariant xs(lo) < bound
    var lo = from
    var step = 1
    while (lo + step < n && xs(lo + step) < bound) { lo += step; step <<= 1 }
    // binary shrink in (lo, min(lo+step, n))
    var hi = math.min(lo + step, n - 1)
    if (xs(hi) < bound) return hi + 1
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < bound) lo = mid else hi = mid
    }
    lo + 1
  }
}
