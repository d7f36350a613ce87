package perfbench

/** Brute-force motif counts computed on the driver with plain arrays, sharing
  * no code with the engine. Motifs follow `graft.plan.Planner`: a binding
  * (x0..xk) matches when every motif edge (xi, xj) is present; its weight
  * is the product of those edge weights. */
object Oracle {

  /** Dense graph over node ids [base, base + n): bit rows for membership, and a weight
    * matrix (consolidated Z-set, zero weights dropped). */
  final class Dense(val n: Int, base: Long, src: Array[Long], dst: Array[Long], w: Array[Long]) {
    val words: Int = (n + 63) / 64
    val wt = new Array[Long](n * n)
    locally {
      var i = 0
      while (i < src.length) { wt((src(i) - base).toInt * n + (dst(i) - base).toInt) += w(i); i += 1 }
    }
    val out = new Array[Long](n * words)
    val in = new Array[Long](n * words)
    locally {
      var a = 0
      while (a < n) {
        var b = 0
        while (b < n) {
          if (wt(a * n + b) != 0L) {
            out(a * words + (b >> 6)) |= 1L << (b & 63)
            in(b * words + (a >> 6)) |= 1L << (a & 63)
          }
          b += 1
        }
        a += 1
      }
    }
    /** Whether any consolidated weight differs from 1. */
    val weighted: Boolean = wt.exists(x => x != 0L && x != 1L)

    private def foreachEdge(f: (Int, Int) => Unit): Unit = {
      var a = 0
      while (a < n) {
        var k = 0
        while (k < words) {
          var bits = out(a * words + k)
          while (bits != 0L) {
            val b = k * 64 + java.lang.Long.numberOfTrailingZeros(bits)
            f(a, b)
            bits &= bits - 1
          }
          k += 1
        }
        a += 1
      }
    }

    private def popAnd(x: Array[Long], xo: Int, y: Array[Long], yo: Int): Long = {
      var c = 0L; var k = 0
      while (k < words) { c += java.lang.Long.bitCount(x(xo + k) & y(yo + k)); k += 1 }
      c
    }

    /** Triangle (x0,x1),(x0,x2),(x1,x2): (bindings, Σ weight). */
    def triangle: (Long, Long) = {
      var count = 0L; var total = 0L
      foreachEdge { (a, b) =>
        count += popAnd(out, a * words, out, b * words)
        if (weighted) {
          var c = 0; var s = 0L
          val ra = a * n; val rb = b * n
          while (c < n) { s += wt(ra + c) * wt(rb + c); c += 1 }
          total += wt(ra + b) * s
        }
      }
      (count, if (weighted) total else count)
    }

    /** 3-cycle (x0,x1),(x1,x2),(x2,x0): bindings (each cycle once per rotation). */
    def cycle3: Long = {
      var count = 0L
      foreachEdge((a, b) => count += popAnd(out, b * words, in, a * words))
      count
    }

    /** 4-clique over all i<j edges (xi,xj): bindings, and those with
      * x0 < x1 < x2 < x3. */
    def clique4: (Long, Long) = {
      var all = 0L; var ordered = 0L
      val tmp = new Array[Long](words)
      foreachEdge { (a, b) =>
        var k = 0
        while (k < words) { tmp(k) = out(a * words + k) & out(b * words + k); k += 1 }
        k = 0
        while (k < words) {
          var bits = tmp(k)
          while (bits != 0L) {
            val c = k * 64 + java.lang.Long.numberOfTrailingZeros(bits)
            var j = 0
            while (j < words) {
              val m = tmp(j) & out(c * words + j)
              all += java.lang.Long.bitCount(m)
              if (a < b && b < c) {
                // d > c: keep only bits above c
                val lo = c + 1
                val mask = if (j * 64 + 63 < lo) 0L else if (j * 64 >= lo) -1L else -1L << (lo - j * 64)
                ordered += java.lang.Long.bitCount(m & mask)
              }
              j += 1
            }
            bits &= bits - 1
          }
          k += 1
        }
      }
      (all, ordered)
    }
  }

  /** Per batch of a stream over node ids [base, base + n): (bindings of the
    * triangle motif whose weight the batch changed, Σ of those weight
    * changes) — the consolidated match-delta a streaming engine emits.
    * Candidates are the bindings with a changed edge in any of the three
    * motif positions whose other two edges exist before or after. */
  def triangleDeltas(n: Int, base: Long, preload: Fixtures.Edges,
                     batches: Seq[Array[(Long, Long, Long)]]): Seq[(Long, Long)] = {
    val w = new Array[Long](n * n)
    preload.src.indices.foreach(i => w((preload.src(i) - base).toInt * n + (preload.dst(i) - base).toInt) += preload.w(i))
    batches.map { batch =>
      val delta = new java.util.HashMap[Int, Long]()
      batch.foreach { case (s, d, x) =>
        val k = (s - base).toInt * n + (d - base).toInt
        delta.put(k, delta.getOrDefault(k, 0L) + x)
      }
      delta.values().removeIf(_ == 0L)
      def after(k: Int): Long = w(k) + delta.getOrDefault(k, 0L)
      def live(k: Int): Boolean = w(k) != 0L || delta.containsKey(k)
      var codes = new Array[Long](1 << 20); var m = 0
      def add(a: Int, b: Int, c: Int): Unit = {
        if (m == codes.length) codes = java.util.Arrays.copyOf(codes, m * 2)
        codes(m) = (a.toLong * n + b) * n + c; m += 1
      }
      delta.keySet().forEach { k =>
        val x = k / n; val y = k % n
        var v = 0
        while (v < n) {
          if (live(x * n + v) && live(y * n + v)) add(x, y, v) // (x0,x1) = (x,y)
          if (live(x * n + v) && live(v * n + y)) add(x, v, y) // (x0,x2) = (x,y)
          if (live(v * n + x) && live(v * n + y)) add(v, x, y) // (x1,x2) = (x,y)
          v += 1
        }
      }
      java.util.Arrays.sort(codes, 0, m)
      var rows = 0L; var net = 0L; var i = 0
      while (i < m) {
        val code = codes(i)
        if (i == 0 || codes(i - 1) != code) {
          val a = (code / n / n).toInt; val b = (code / n % n).toInt; val c = (code % n).toInt
          val d = after(a * n + b) * after(a * n + c) * after(b * n + c) - w(a * n + b) * w(a * n + c) * w(b * n + c)
          if (d != 0L) { rows += 1; net += d }
        }
        i += 1
      }
      delta.forEach((k, x) => w(k) += x)
      (rows, net)
    }
  }

  /** Triangle count over a sparse graph of distinct weight-1 edges with
    * arbitrary node ids: Σ over edges (a,b) of |out(a) ∩ out(b)|. */
  def sparseTriangles(src: Array[Long], dst: Array[Long]): Long = {
    val adj = new java.util.HashMap[Long, Array[Long]]()
    src.indices.groupBy(src(_)).foreach { case (s, is) => adj.put(s, is.map(dst(_)).toArray.sorted) }
    val empty = Array.empty[Long]
    var count = 0L
    val it = adj.entrySet().iterator()
    val mark = new java.util.HashSet[Long]()
    while (it.hasNext) {
      val e = it.next()
      mark.clear()
      e.getValue.foreach(v => mark.add(v))
      e.getValue.foreach { b =>
        val nb = adj.getOrDefault(b, empty)
        var i = 0
        while (i < nb.length) { if (mark.contains(nb(i))) count += 1; i += 1 }
      }
    }
    count
  }
}
