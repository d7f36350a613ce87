package graft.fast

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}

/** Bounded-memory consolidation of packed match-delta records
  * `[x0..x{n-1}, w]`.
  *
  * The reduce side of [[DeltaEngine.consolidateProps]] sums the weights of
  * the match changes that two derivatives can emit: on a broadcast batch,
  * the multi-delta remainder (bindings with a second atom in the batch); on
  * the bulk absorb, every match change. The sum runs in a primitive
  * open-addressing table in [[LocalIndex]]'s idiom (power-of-two slots,
  * linear probing, load ≤ 1/2): each slot holds its key longs and weight
  * inline in one `long[]` (`n + 1` longs per slot) under a used flag, so a
  * record costs one probe and no allocation. A boxed map here (an
  * `ArraySeq` key, a `java.lang.Long` and a `java.util.HashMap` node per
  * binding, a get then a put) drew 61% of the result stage's JFR samples
  * on `stream_churn_b20000`; with the table and packed output that stage's
  * executor CPU per batch went 1,092 → 364 ms (traced seed-42 pair, 4
  * cores). A weight that nets to zero stays in its slot and is dropped on
  * drain or rehash, so no tombstones are needed.
  *
  * An unbounded table would be the one failure mode the reference
  * explicitly defends against with effort accounting (`expend`,
  * /root/reference/src/index.rs:227-236) after its 6-clique run died on
  * unbounded intermediate state (the reference's README.md:150-176). So the
  * table holds at most `maxEntries` bindings: when its load limit is
  * reached and the doubled table would pass that cap, it spills instead of
  * growing — its entries are compacted in place, sorted (lexicographically
  * by binding) and written to a local spill file as raw big-endian longs.
  * `result()` k-way merges the spilled runs with the final in-memory run,
  * summing weights of equal bindings and dropping zeros; past
  * `maxFanIn` runs it first merges them in passes of that many into
  * fewer, longer runs, so the open files stay bounded. Batches that never
  * spill (the common streaming case) drain the table directly: no sort, no
  * IO.
  *
  * Spill files land in the first `spark.local.dir` when configured (the
  * bench points it at tmpfs; clusters get their fast local disks), else
  * `java.io.tmpdir`, and are deleted as each run drains plus once more via
  * a task-completion listener so a killed task leaves nothing behind.
  */
final class SpillConsolidator(n: Int, maxEntries: Int) {
  require(n >= 1 && maxEntries >= 1)
  private val rec = n + 1
  /** Largest slot count the cap allows: load 1/2 of it stays within
    * `maxEntries`, and its `long[]` within the JVM's array limit. */
  private val maxSlots: Int = {
    var c = 2
    while (c <= maxEntries && c.toLong * 2 * rec <= SpillConsolidator.maxArrayLongs) c <<= 1
    c
  }
  // the table: allocated on the first add, so a reduce task that only
  // passes direct blocks through never pays for it
  private var slots: Array[Long] = null
  private var used: Array[Boolean] = null
  private var shift = 0
  private var size = 0
  private val spills = scala.collection.mutable.ArrayBuffer.empty[File]
  /** Runs whose streams are open. EOF-driven cleanup alone is not enough:
    * a merge iterator abandoned mid-stream (downstream take/limit, task
    * kill) would hold open FDs — and an open FD pins the disk space even
    * after the file is unlinked. */
  private val openRuns = scala.collection.mutable.ArrayBuffer.empty[Run]
  private var peakOpen = 0
  /** Most spill runs open at once so far (diagnostics / tests). */
  def peakOpenRuns: Int = peakOpen

  // a task killed mid-merge must not leak spill files or open streams
  {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit] { _ => close() }
  }

  /** Releases every open run stream and deletes remaining spill files.
    * Idempotent; registered as the task-completion listener, and the
    * explicit release for driver-side use (no TaskContext there). */
  def close(): Unit = {
    openRuns.toList.foreach(_.close())
    spills.foreach(f => if (f.exists()) f.delete())
  }

  private def alloc(cap: Int): Unit = {
    slots = new Array[Long](cap * rec)
    used = new Array[Boolean](cap)
    shift = 64 - Integer.numberOfTrailingZeros(cap)
  }

  /** Home slot of the n-long key at `block(off)`. The reduce partition was
    * chosen from the binding's routing hash, so every key here shares its
    * value mod the partition count: the slot takes the top bits of a
    * separately finalized hash. */
  private def slotOf(block: Array[Long], off: Int): Int = {
    var h = 0L
    var i = 0
    while (i < n) { h = SpillConsolidator.fmix64(h + block(off + i)); i += 1 }
    (h >>> shift).toInt
  }

  /** Slot holding the key at `block(off)`, or the free slot where it goes. */
  private def find(block: Array[Long], off: Int): Int = {
    val mask = used.length - 1
    var s = slotOf(block, off)
    while (used(s)) {
      var i = 0
      val base = s * rec
      while (i < n && slots(base + i) == block(off + i)) i += 1
      if (i == n) return s
      s = (s + 1) & mask
    }
    s
  }

  /** Folds in one packed record: `n` binding longs at `block(off)` followed
    * by the signed weight. */
  def add(block: Array[Long], off: Int): Unit = {
    if (slots == null) alloc(math.min(SpillConsolidator.initialSlots, maxSlots))
    var s = find(block, off)
    if (used(s)) slots(s * rec + n) += block(off + n)
    else {
      if (size + 1 > used.length / 2) {
        // spill BEFORE a resize would pass the cap, never after
        if (used.length >= maxSlots) spill() else grow()
        s = find(block, off)
      }
      System.arraycopy(block, off, slots, s * rec, rec)
      used(s) = true
      size += 1
    }
  }

  /** Rehashes into a table twice the size; zero nets are left behind. */
  private def grow(): Unit = {
    val oldSlots = slots
    val oldUsed = used
    alloc(oldUsed.length * 2)
    size = 0
    var j = 0
    while (j < oldUsed.length) {
      if (oldUsed(j) && oldSlots(j * rec + n) != 0L) {
        val s = find(oldSlots, j * rec)
        System.arraycopy(oldSlots, j * rec, slots, s * rec, rec)
        used(s) = true
        size += 1
      }
      j += 1
    }
  }

  /** Number of spill files written so far (diagnostics / tests). */
  def spillCount: Int = spilled
  private var spilled = 0

  /** Moves every nonzero entry to the front of `slots` (record i at
    * `i * rec`), clears the table and returns the entry count. */
  private def compact(): Int = {
    var m = 0
    var j = 0
    while (j < used.length) {
      if (used(j) && slots(j * rec + n) != 0L) {
        if (m != j) System.arraycopy(slots, j * rec, slots, m * rec, rec)
        m += 1
      }
      j += 1
    }
    java.util.Arrays.fill(used, false)
    size = 0
    m
  }

  private def spill(): Unit = {
    // sort an offset index over the compacted entries with an inlined-
    // comparison quicksort — a boxed-tuple TimSort here cost multi-second
    // sorts per 4M-entry run (jstack-measured as the dominant executor
    // state whenever consolidation spilled)
    val m = compact()
    if (m == 0) return
    val idx = Array.tabulate(m)(_ * rec)
    SpillConsolidator.sortOffsets(slots, idx, n)
    val f = File.createTempFile("graft-consolidate-", ".bin", SpillConsolidator.spillDir)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
    try {
      var i = 0
      while (i < m) {
        val off = idx(i)
        var j = 0
        while (j < rec) { out.writeLong(slots(off + j)); j += 1 }
        i += 1
      }
    } finally out.close()
    spills += f
    spilled += 1
    SpillConsolidator.spillFiles.incrementAndGet()
  }

  /** One cursor over a sorted spill run, reading through a `bufBytes`
    * buffer; `key` is overwritten in place by each advance. */
  private final class Run(f: File, bufBytes: Int) {
    private val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(f), bufBytes))
    private var closed = false
    openRuns += this
    peakOpen = math.max(peakOpen, openRuns.size)
    val key = new Array[Long](n)
    var w: Long = 0L
    var live: Boolean = advance()
    def close(): Unit = if (!closed) {
      closed = true
      try in.close() catch { case _: Throwable => () }
      f.delete()
      openRuns -= this
      live = false
    }
    def advance(): Boolean =
      try {
        key(0) = in.readLong() // EOF surfaces here, at a record boundary
        var i = 1
        while (i < n) { key(i) = in.readLong(); i += 1 }
        w = in.readLong()
        live = true
        true
      } catch {
        case _: EOFException =>
          close(); false
      }
  }

  /** A k-way merge of sorted spill runs (each deleted as it drains): its
    * read buffers share 64 MB, 1 MB each at most. */
  private final class Merge(files: Iterable[File]) {
    private val pq = {
      val bufBytes = math.max(1 << 13, math.min(1 << 20, (64 << 20) / math.max(1, files.size)))
      val q = new java.util.PriorityQueue[Run](math.max(1, files.size),
        (a: Run, b: Run) => SpillConsolidator.compareKeys(a.key, b.key, 0))
      files.foreach { f => val r = new Run(f, bufBytes); if (r.live) q.add(r) }
      q
    }
    def hasNext: Boolean = !pq.isEmpty

    /** Writes the next binding in key order at `out(o)` with its net
      * weight (every run positioned at it folded in); returns whether that
      * weight is nonzero. Call only while [[hasNext]]. */
    def next(out: Array[Long], o: Int): Boolean = {
      val head = pq.poll()
      System.arraycopy(head.key, 0, out, o, n)
      var w = head.w
      if (head.advance()) pq.add(head)
      while (!pq.isEmpty && SpillConsolidator.compareKeys(out, pq.peek().key, o) == 0) {
        val r = pq.poll()
        w += r.w
        if (r.advance()) pq.add(r)
      }
      out(o + n) = w
      w != 0L
    }
  }

  /** Merges the oldest [[SpillConsolidator.maxFanIn]] runs into one new
    * run, until at most that many are left. Each pass holds at most
    * `maxFanIn` runs open, so the open files stay bounded however many
    * runs a small cap left. */
  private def reduceRuns(): Unit =
    while (spills.size > SpillConsolidator.maxFanIn) {
      val group = spills.take(SpillConsolidator.maxFanIn).toList
      val m = new Merge(group)
      val f = File.createTempFile("graft-consolidate-", ".bin", SpillConsolidator.spillDir)
      spills += f
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
      val r = new Array[Long](rec)
      try {
        while (m.hasNext) {
          if (m.next(r, 0)) { var j = 0; while (j < rec) { out.writeLong(r(j)); j += 1 } }
        }
      } finally out.close()
      spills.remove(0, group.size) // drained, so already deleted
    }

  /** Drains the consolidator as packed blocks of at most
    * [[SpillConsolidator.blockLongs]] longs: each distinct binding exactly
    * once as `[x0..x{n-1}, w]` with its net weight, zeros dropped. Call
    * once; the instance is spent after. */
  def result(): Iterator[Array[Long]] = {
    val perBlock = math.max(1, SpillConsolidator.blockLongs / rec)
    if (spills.isEmpty) {
      if (slots == null) return Iterator.empty
      val m = compact()
      val table = slots
      slots = null; used = null
      return Iterator.range(0, m, perBlock).map { i =>
        java.util.Arrays.copyOfRange(table, i * rec, math.min(m, i + perBlock) * rec)
      }
    }
    if (size > 0) spill() // final in-memory run joins the merge
    slots = null; used = null
    reduceRuns()
    val merge = new Merge(spills.toList)
    new Iterator[Array[Long]] {
      def hasNext: Boolean = merge.hasNext
      def next(): Array[Long] = {
        if (!merge.hasNext) throw new NoSuchElementException
        val out = new Array[Long](perBlock * rec)
        var o = 0
        while (o < out.length && merge.hasNext) if (merge.next(out, o)) o += rec
        if (o == out.length) out else java.util.Arrays.copyOf(out, o)
      }
    }.filter(_.length > 0)
  }
}

object SpillConsolidator {
  /** Spill files written by every consolidator in this JVM (diagnostics;
    * in local mode the tests read it across a whole Spark job). */
  private[fast] val spillFiles = new java.util.concurrent.atomic.AtomicLong()

  /** Longs per block [[SpillConsolidator.result]] yields: the chunk size
    * of the engine's packed exchange blocks. */
  private val blockLongs = 32768

  /** Most spill runs one merge reads at once; more runs are first merged
    * in passes of this many (see `reduceRuns`). */
  private[fast] val maxFanIn = 64

  /** Slots of a fresh table (it grows by doubling up to the cap). */
  private[fast] val initialSlots = 1 << 12

  /** Largest table `long[]`, under the JVM's array-length limit. */
  private val maxArrayLongs = 1L << 30

  /** Murmur3's 64-bit finalizer. */
  private def fmix64(x: Long): Long = {
    var h = x
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Heap bytes per binding of a table over `n`-long keys, while it
    * resizes: at load 1/2 a binding holds two slots of `n + 1` longs and a
    * used flag, and a resize holds the old and the doubled table at once,
    * so about twice that. Clique4 bindings (`n = 4`) cost 164 B. */
  private def bytesPerEntry(n: Int): Long = 2L * 2L * (8L * (n + 1) + 1L)

  /** In-memory binding cap before a sorted run is spilled, HEAP-AWARE:
    * heap/(2·task slots) bytes per task at [[bytesPerEntry]] (clamped to
    * [2^20, 2^24]), so a task only pays the sort+spill+merge once its table
    * is a real fraction of its fair heap share. A fixed low cap was
    * measured costing 2× end-to-end at 2 cores (few partitions → millions
    * of entries per reduce task → every batch spilled needlessly while the
    * 48g heap sat idle). Override with `spark.graft.consolidate.maxEntries`
    * (session conf — propagated to executors) for tests or special
    * shapes. */
  def defaultMaxEntries(n: Int): Int = {
    val env = org.apache.spark.SparkEnv.get
    val conf = if (env != null) env.conf.getOption("spark.graft.consolidate.maxEntries") else None
    conf.orElse(sys.props.get("spark.graft.consolidate.maxEntries"))
      .map(_.toInt)
      .getOrElse {
        // concurrent TASK SLOTS in this JVM, not machine processors: a
        // local[2] session on a 32-CPU box runs 2 reduce tasks, so each may
        // use half the heap share — sizing by CPU count made those tasks
        // spill at 1/16 of their fair share (measured: a needless multi-
        // second sort per partition per batch at 2 cores)
        val rt = Runtime.getRuntime
        val procs = math.max(1, rt.availableProcessors())
        val slots =
          (if (env != null) env.conf.getOption("spark.master") else None) match {
            case Some(m) if m.startsWith("local[") =>
              val n = m.stripPrefix("local[").takeWhile(c => c != ']' && c != ',')
              if (n == "*") procs else n.toIntOption.getOrElse(procs)
            case _ =>
              if (env != null) env.conf.getInt("spark.executor.cores", procs) else procs
          }
        val perTask = rt.maxMemory() / (2L * math.max(1, slots))
        math.max(1 << 20, math.min(1L << 24, perTask / bytesPerEntry(n)).toInt)
      }
  }

  private def spillDir: File = {
    val env = org.apache.spark.SparkEnv.get
    val dir = (if (env != null) env.conf.getOption("spark.local.dir") else None)
      .map(_.split(",")(0)).map(new File(_))
      .filter(d => d.isDirectory && d.canWrite)
      .getOrElse(new File(System.getProperty("java.io.tmpdir")))
    dir
  }

  /** Compares the key of `b` with the equally long key at `a(aOff)`. */
  private def compareKeys(a: Array[Long], b: Array[Long], aOff: Int): Int = {
    var i = 0
    while (i < b.length) {
      val c = java.lang.Long.compare(a(aOff + i), b(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Quicksort of record offsets into `buf`, ordering the n-long keys at
    * each offset lexicographically (keys are table-distinct, so no
    * equal-key runs; median-of-3 pivots guard the sorted/reversed cases).
    * Primitive throughout — no per-comparison allocation or boxing. */
  private[fast] def sortOffsets(buf: Array[Long], idx: Array[Int], n: Int): Unit = {
    def cmp(a: Int, b: Int): Int = {
      var i = 0
      while (i < n) {
        val c = java.lang.Long.compare(buf(a + i), buf(b + i))
        if (c != 0) return c
        i += 1
      }
      0
    }
    def swap(i: Int, j: Int): Unit = { val t = idx(i); idx(i) = idx(j); idx(j) = t }
    def insertion(lo: Int, hi: Int): Unit = {
      var i = lo + 1
      while (i <= hi) {
        val v = idx(i)
        var j = i - 1
        while (j >= lo && cmp(idx(j), v) > 0) { idx(j + 1) = idx(j); j -= 1 }
        idx(j + 1) = v
        i += 1
      }
    }
    def qsort(lo0: Int, hi0: Int): Unit = {
      var lo = lo0
      var hi = hi0
      while (hi - lo > 24) {
        val mid = lo + (hi - lo) / 2
        // median-of-3 → pivot at hi
        if (cmp(idx(mid), idx(lo)) < 0) swap(mid, lo)
        if (cmp(idx(hi), idx(lo)) < 0) swap(hi, lo)
        if (cmp(idx(hi), idx(mid)) < 0) swap(hi, mid)
        swap(mid, hi - 1)
        val pivot = idx(hi - 1)
        var i = lo
        var j = hi - 1
        var done = false
        while (!done) {
          i += 1
          while (cmp(idx(i), pivot) < 0) i += 1
          j -= 1
          while (cmp(idx(j), pivot) > 0) j -= 1
          if (i >= j) done = true else swap(i, j)
        }
        swap(i, hi - 1)
        // recurse on the smaller side, loop on the larger (bounded stack)
        if (i - lo < hi - i) { qsort(lo, i - 1); lo = i + 1 }
        else { qsort(i + 1, hi); hi = i - 1 }
      }
      insertion(lo, hi)
    }
    if (idx.length > 1) qsort(0, idx.length - 1)
  }
}
