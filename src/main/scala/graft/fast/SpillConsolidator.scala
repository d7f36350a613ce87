package graft.fast

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}
import scala.collection.immutable.ArraySeq

/** Bounded-memory consolidation of packed match-delta records.
  *
  * The reduce side of [[DeltaEngine.consolidateProps]] sums the weights of
  * the match changes that two derivatives can emit: on a broadcast batch,
  * the multi-delta remainder (bindings with a second atom in the batch); on
  * the bulk absorb, every match change. An unbounded java.util.HashMap
  * there would be the one failure mode the reference explicitly defends
  * against with effort accounting (`expend`,
  * /root/reference/src/index.rs:227-236) after its 6-clique run died on
  * unbounded intermediate state (/root/reference/README.md:150-176). Here
  * the in-memory map is capped: past `maxEntries` the entries are sorted
  * (lexicographically by binding) and written to a local spill file as raw
  * big-endian longs; `result()` k-way merges the spilled runs with the
  * final in-memory run, summing weights of equal bindings and dropping
  * zeros. Batches that never spill (the common streaming case: only the
  * multi-delta remainder arrives, measured at 6% of a `stream_b1000`
  * batch's match changes and 35% of a `stream_churn_b20000` batch's) keep
  * the fast path: one hash map, no sort, no IO.
  *
  * Spill files land in the first `spark.local.dir` when configured (the
  * bench points it at tmpfs; clusters get their fast local disks), else
  * `java.io.tmpdir`, and are deleted as each run drains plus once more via
  * a task-completion listener so a killed task leaves nothing behind.
  */
final class SpillConsolidator(n: Int, maxEntries: Int) {
  require(n >= 1 && maxEntries >= 1)
  private val map = new java.util.HashMap[ArraySeq[Long], java.lang.Long](
    math.min(maxEntries.toLong + 1, 1L << 20).toInt)
  private val spills = scala.collection.mutable.ArrayBuffer.empty[File]
  /** Runs whose streams are open. EOF-driven cleanup alone is not enough:
    * a merge iterator abandoned mid-stream (downstream take/limit, task
    * kill) would hold open FDs — and an open FD pins the disk space even
    * after the file is unlinked. */
  private val openRuns = scala.collection.mutable.ArrayBuffer.empty[Run]

  // a task killed mid-merge must not leak spill files or open streams
  {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit] { _ => close() }
  }

  /** Releases every open run stream and deletes remaining spill files.
    * Idempotent; registered as the task-completion listener, and the
    * explicit release for driver-side use (no TaskContext there). */
  def close(): Unit = {
    openRuns.foreach(_.close())
    openRuns.clear()
    spills.foreach(f => if (f.exists()) f.delete())
  }

  /** Folds in one packed record: `n` binding longs at `block(off)` followed
    * by the signed weight. */
  def add(block: Array[Long], off: Int): Unit = {
    val key = ArraySeq.unsafeWrapArray(
      java.util.Arrays.copyOfRange(block, off, off + n))
    val w = block(off + n)
    val prev = map.get(key)
    if (prev == null) {
      map.put(key, java.lang.Long.valueOf(w))
      if (map.size() > maxEntries) spill()
    } else {
      val s = prev.longValue() + w
      // zero nets are dropped from the map; earlier spilled partials of the
      // same key (if any) still merge correctly — sums are associative
      if (s == 0L) map.remove(key) else map.put(key, java.lang.Long.valueOf(s))
    }
  }

  /** Number of spill files written so far (diagnostics / tests). */
  def spillCount: Int = spills.size

  private def spill(): Unit = {
    // pack entries into one primitive buffer and sort an offset index with
    // an inlined-comparison quicksort — a boxed-tuple TimSort here cost
    // multi-second sorts per 4M-entry run (jstack-measured as the dominant
    // executor state whenever consolidation spilled)
    val rec = n + 1
    val size = map.size()
    val buf = new Array[Long](size * rec)
    val idx = new Array[Int](size)
    val it = map.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey.unsafeArray.asInstanceOf[Array[Long]]
      System.arraycopy(k, 0, buf, i * rec, n)
      buf(i * rec + n) = e.getValue.longValue()
      idx(i) = i * rec
      i += 1
    }
    SpillConsolidator.sortOffsets(buf, idx, n)
    val f = File.createTempFile("graft-consolidate-", ".bin", SpillConsolidator.spillDir)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
    try {
      i = 0
      while (i < size) {
        val off = idx(i)
        var j = 0
        while (j <= n) { out.writeLong(buf(off + j)); j += 1 }
        i += 1
      }
    } finally out.close()
    spills += f
    SpillConsolidator.spillFiles.incrementAndGet()
    map.clear()
  }

  /** One cursor over a sorted spill run. */
  private final class Run(f: File) {
    private val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(f), 1 << 20))
    private var closed = false
    openRuns += this
    var key: Array[Long] = null
    var w: Long = 0L
    var live: Boolean = advance()
    def close(): Unit = if (!closed) {
      closed = true
      try in.close() catch { case _: Throwable => () }
      f.delete()
      live = false
    }
    def advance(): Boolean =
      try {
        val k = new Array[Long](n)
        k(0) = in.readLong() // EOF surfaces here, before any partial state
        var i = 1
        while (i < n) { k(i) = in.readLong(); i += 1 }
        key = k
        w = in.readLong()
        live = true
        true
      } catch {
        case _: EOFException =>
          close(); false
      }
  }

  /** Drains the consolidator: each distinct binding exactly once with its
    * net weight, zeros dropped. Call once; the instance is spent after. */
  def result(): Iterator[(ArraySeq[Long], Long)] = {
    if (spills.isEmpty) {
      // no-spill fast path — identical to the pre-existing hash consolidation
      import scala.jdk.CollectionConverters._
      return map.entrySet().iterator().asScala
        .map(e => (e.getKey, e.getValue.longValue()))
        .filter(_._2 != 0L)
    }
    if (!map.isEmpty) spill() // final in-memory run joins the merge
    val runs = spills.map(new Run(_)).filter(_.live)
    val pq = new java.util.PriorityQueue[Run](math.max(1, runs.size),
      (a: Run, b: Run) => SpillConsolidator.compareKeys(a.key, b.key))
    runs.foreach(pq.add)
    new Iterator[(ArraySeq[Long], Long)] {
      private var nextKV: (ArraySeq[Long], Long) = null
      private def pull(): Unit = {
        nextKV = null
        while (nextKV == null && !pq.isEmpty) {
          val head = pq.poll()
          val k = head.key
          var w = head.w
          if (head.advance()) pq.add(head)
          // fold every run positioned at the same binding
          var more = true
          while (more && !pq.isEmpty) {
            val peek = pq.peek()
            if (SpillConsolidator.compareKeys(peek.key, k) == 0) {
              val r = pq.poll()
              w += r.w
              if (r.advance()) pq.add(r)
            } else more = false
          }
          if (w != 0L) nextKV = (ArraySeq.unsafeWrapArray(k), w)
        }
      }
      pull()
      def hasNext: Boolean = nextKV != null
      def next(): (ArraySeq[Long], Long) = {
        val out = nextKV
        if (out == null) throw new NoSuchElementException
        pull()
        out
      }
    }
  }
}

object SpillConsolidator {
  /** Spill files written by every consolidator in this JVM (diagnostics;
    * in local mode the tests read it across a whole Spark job). */
  private[fast] val spillFiles = new java.util.concurrent.atomic.AtomicLong()

  /** In-memory entry cap before a sorted run is spilled, HEAP-AWARE:
    * heap/(2·cores) bytes per task at ~96B/entry (clamped to [2^20, 2^24]),
    * so a task only pays the sort+spill+merge once its map is a real
    * fraction of its fair heap share. A fixed low cap was measured costing
    * 2× end-to-end at 2 cores (few partitions → millions of entries per
    * reduce task → every batch spilled needlessly while the 48g heap sat
    * idle). Override with `spark.graft.consolidate.maxEntries` (session
    * conf — propagated to executors) for tests or special shapes. */
  def defaultMaxEntries: Int = {
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
        math.max(1 << 20, math.min(1 << 24, (perTask / 96L).toInt))
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

  private def compareKeys(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    while (i < a.length) {
      val c = java.lang.Long.compare(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Quicksort of record offsets into `buf`, ordering the n-long keys at
    * each offset lexicographically (keys are hash-map distinct, so no
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
