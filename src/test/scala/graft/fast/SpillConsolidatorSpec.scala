package graft.fast

import org.scalatest.funsuite.AnyFunSuite
import graft.{BruteForce, SparkTestBase}
import graft.plan.Planner

/** Effort-bounded emission + spillable consolidation: the two mechanisms
  * that let enumerations and batch deltas whose output exceeds task memory
  * complete (the reference's bounded activation loop + `expend` accounting,
  * /root/reference/src/extender.rs:259-262, src/index.rs:227-236). */
class SpillConsolidatorSpec extends AnyFunSuite with SparkTestBase {

  private def refConsolidate(recs: Seq[Array[Long]], n: Int): Map[Seq[Long], Long] =
    recs.foldLeft(Map.empty[Seq[Long], Long]) { (m, r) =>
      val k = r.take(n).toSeq
      m + (k -> (m.getOrElse(k, 0L) + r(n)))
    }.filter(_._2 != 0L)

  /** Every (binding, weight) record of a drained consolidator, checking
    * that each block holds whole records and at most 32,768 longs. */
  private def drain(c: SpillConsolidator, n: Int): Seq[(Seq[Long], Long)] =
    c.result().toSeq.flatMap { b =>
      assert(b.nonEmpty && b.length <= 32768 && b.length % (n + 1) == 0, s"block of ${b.length}")
      b.grouped(n + 1).map(r => (r.take(n).toSeq, r(n)))
    }

  /** Runs `body` with the consolidation cap set to `cap`. The shared
    * session is started first: a session started while the property is set
    * would keep the cap in its conf for every later suite. */
  private def withSpillCap(cap: Int)(body: => Unit): Unit = {
    spark
    val prev = sys.props.get("spark.graft.consolidate.maxEntries")
    sys.props("spark.graft.consolidate.maxEntries") = cap.toString
    try body
    finally prev match {
      case Some(v) => sys.props("spark.graft.consolidate.maxEntries") = v
      case None => sys.props.remove("spark.graft.consolidate.maxEntries")
    }
  }

  test("spilling consolidation equals in-memory consolidation (with cancellations)") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(1, 3, 4); maxEntries <- Seq(1, 4, 16)) {
      // duplicate-heavy key space so merges sum across spill runs, with
      // explicit cancelling pairs so zero-net keys must vanish
      val recs = (0 until 2000).map { _ =>
        Array.fill(n)(rnd.nextInt(40).toLong) :+ (rnd.nextInt(5) - 2).toLong
      } ++ (0 until 50).flatMap { i =>
        val k = Array.fill(n)(100L + i)
        Seq(k :+ 3L, k :+ -3L)
      }
      val c = new SpillConsolidator(n, maxEntries)
      // feed as packed blocks of varying chunking
      recs.grouped(17).foreach { g =>
        val block = g.flatten.toArray
        var off = 0
        while (off < block.length) { c.add(block, off); off += n + 1 }
      }
      assert(c.spillCount > 0, s"cap $maxEntries should have spilled")
      val got = drain(c, n).toMap
      assert(got == refConsolidate(recs, n), s"n=$n cap=$maxEntries")
    }
  }

  test("open-addressing table over resizes, spills and block boundaries == reference") {
    val rnd = new scala.util.Random(31)
    for (n <- 1 to 5; maxEntries <- Seq(1 << 20, 500)) {
      val recs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
      def key(f: Int => Long) = Array.tabulate(n)(f)
      // cancelled only after the bulk below has resized (or spilled) the table
      val late = (0 until 60).map(i => key(j => -1000L - i - j))
      late.foreach(k => recs += k :+ 5L)
      // pairs that cancel before any resize, and one key that nets to zero
      // in place and is then revived
      (0 until 40).foreach { i =>
        val k = key(j => 5000L + 7 * i + j)
        recs += k :+ 2L; recs += k :+ -2L
      }
      val revived = key(_ => 42L)
      recs += revived :+ 1L; recs += revived :+ -1L
      // enough distinct keys for several doublings of the initial table and
      // an output of several blocks: sequential in the last long, adjacent
      // in the first, plus the extreme longs
      val bulk = (0 until 20000).map(i => key(j => if (j == n - 1) i.toLong else 9L)) ++
        (0 until 20000).map(i => key(j => if (j == 0) i.toLong else 11L)) ++
        Seq(key(_ => Long.MinValue), key(_ => Long.MaxValue), key(j => if (j % 2 == 0) -1L else 0L))
      val dups = (0 until 4000).map(_ => key(_ => rnd.nextInt(6).toLong - 3) :+ (rnd.nextInt(5) - 2).toLong)
      recs ++= rnd.shuffle(bulk.map(_ :+ (1L + rnd.nextInt(3))) ++ dups)
      recs += revived :+ 3L
      late.zipWithIndex.foreach { case (k, i) => recs += k :+ (if (i % 2 == 0) -5L else -4L) }
      assert(bulk.size > 4 * SpillConsolidator.initialSlots)

      val c = new SpillConsolidator(n, maxEntries)
      // packed blocks of uneven length, as the exchange delivers them
      recs.grouped(1 + rnd.nextInt(50)).foreach { g =>
        val block = g.flatten.toArray
        var off = 0
        while (off < block.length) { c.add(block, off); off += n + 1 }
      }
      val spilling = maxEntries < bulk.size
      assert((c.spillCount > 1) == spilling, s"n=$n cap=$maxEntries spills=${c.spillCount}")
      val blocks = c.result().toSeq
      assert(blocks.size > 1, s"n=$n cap=$maxEntries: one block")
      val got = blocks.flatMap { b =>
        assert(b.length <= 32768 && b.length % (n + 1) == 0, s"block of ${b.length}")
        b.grouped(n + 1).map(r => (r.take(n).toSeq, r(n)))
      }
      val ref = refConsolidate(recs.toSeq, n)
      assert(got.size == ref.size && got.toMap == ref, s"n=$n cap=$maxEntries")
      assert(got.forall(_._2 != 0L))
      c.close()
    }
  }

  test("thousands of spill runs merge under a bounded fan-in == reference") {
    val rnd = new scala.util.Random(37)
    val n = 3
    val cap = 16
    // each spill holds at most `cap` bindings, so ~40K distinct bindings
    // leave thousands of runs; duplicates and cancellations cross runs
    val recs = (0 until 60000).map { _ =>
      Array.fill(n)(rnd.nextInt(40).toLong) :+ (rnd.nextInt(5) - 2).toLong
    }
    val c = new SpillConsolidator(n, cap)
    recs.foreach(r => c.add(r, 0))
    assert(c.spillCount > 30 * SpillConsolidator.maxFanIn, s"only ${c.spillCount} runs")
    val got = drain(c, n)
    assert(got.size == got.map(_._1).distinct.size, "a binding came out twice")
    assert(got.toMap == refConsolidate(recs, n))
    assert(c.peakOpenRuns >= 2 && c.peakOpenRuns <= SpillConsolidator.maxFanIn,
      s"${c.peakOpenRuns} runs open at once")
    c.close()
  }

  test("BlockBuf drains whole records, full chunks handed over without a copy") {
    for (rec <- Seq(1, 3, 4, 5, 7, 8)) {
      val bb = new DeltaEngine.BlockBuf(2)
      val drained = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Long])]
      val reserved = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Array[Long], java.lang.Boolean]())
      var next = 0L
      for (i <- 0 until 200000 / rec) {
        val pid = i % 3 % 2
        val b = bb.reserve(pid, rec)
        reserved.add(b)
        val o = bb.off(pid)
        var j = 0
        while (j < rec) { b(o + j) = next; next += 1; j += 1 }
        bb.advance(pid, rec)
        drained ++= bb.drain()
      }
      drained ++= bb.result()
      for ((pid, chunk) <- drained) {
        assert(chunk.length % rec == 0 && chunk.length <= 32768, s"rec $rec chunk of ${chunk.length}")
        // a record's longs are consecutive: no record was split across chunks
        chunk.grouped(rec).foreach(r => assert(r.toSeq == (r(0) until r(0) + rec).toSeq))
      }
      // every record once, and each partition's records in write order
      val all = drained.flatMap(_._2).sorted
      assert(all.toSeq == (0L until next).toSeq, s"rec $rec")
      for (pid <- 0 to 1) {
        val firsts = drained.filter(_._1 == pid).flatMap(_._2.grouped(rec).map(_.head))
        assert(firsts == firsts.sorted, s"rec $rec pid $pid order")
      }
      val full = drained.map(_._2).filter(_.length == 32768)
      if (32768 % rec == 0) assert(full.size >= 2, s"rec $rec: no full chunk")
      assert(full.forall(reserved.contains), s"rec $rec: a full chunk was copied")
    }
  }

  test("offset quicksort == reference lexicographic sort (large random + adversarial)") {
    val rnd = new scala.util.Random(19)
    for ((n, size) <- Seq((3, 100000), (1, 50000), (5, 20000))) {
      val rec = n + 1
      // distinct keys (mirrors the hash-map source); sorted + reversed +
      // random sections to poke pivot selection
      val keys = (0 until size).map(i => Array.fill(n)(rnd.nextLong())).distinctBy(_.toSeq)
      val ordered = keys.sortBy(_.toSeq)(math.Ordering.Implicits.seqOrdering)
      for (arrangement <- Seq(keys, ordered, ordered.reverse)) {
        val buf = new Array[Long](arrangement.size * rec)
        val idx = new Array[Int](arrangement.size)
        arrangement.zipWithIndex.foreach { case (k, i) =>
          System.arraycopy(k, 0, buf, i * rec, n); buf(i * rec + n) = i.toLong
          idx(i) = i * rec
        }
        SpillConsolidator.sortOffsets(buf, idx, n)
        val got = idx.map(off => (0 until n).map(j => buf(off + j)).toSeq).toSeq
        assert(got == ordered.map(_.toSeq), s"n=$n size=${arrangement.size}")
      }
    }
  }

  test("no-spill fast path equals reference too") {
    val recs = Seq(Array(1L, 2L, 5L), Array(1L, 2L, -5L), Array(3L, 4L, 2L))
    val c = new SpillConsolidator(2, 1 << 20)
    recs.foreach(r => c.add(r, 0))
    assert(c.spillCount == 0)
    assert(drain(c, 2).toMap ==
      refConsolidate(recs, 2))
  }

  test("boundedIt yields chunks before consuming all input (bounded live output)") {
    var consumed = 0
    val input = Iterator.range(0, 100).map { i => consumed += 1; i }
    // each element fills exactly one chunk for partition 0
    val out = DeltaEngine.boundedIt(4, input) { (_, bb) =>
      bb.reserve(0, 32768)
      bb.advance(0, 32768)
    }
    val first = out.next()
    assert(first._1 == 0 && first._2.length == 32768)
    assert(consumed <= 3,
      s"first chunk must be available without draining the input (consumed=$consumed)")
    assert(out.size == 99 && consumed == 100) // and the rest still arrives
  }

  test("BoundedStage yields chunks incrementally over packed input") {
    var consumed = 0
    // 50 input blocks of one 3-long record each; each record emits a full chunk
    val blocks = Iterator.range(0, 50).map { i =>
      consumed += 1
      (0, Array(i.toLong, 0L, 0L))
    }
    val stage = new DeltaEngine.BoundedStage(2, blocks) {
      protected def processSome(block: Array[Long], off0: Int): Int = {
        var off = off0
        while (off < block.length && bb.completedChunks == 0) {
          bb.reserve(1, 32768); bb.advance(1, 32768)
          off += 3
        }
        off
      }
    }
    val first = stage.next()
    assert(first._1 == 1)
    assert(consumed <= 3, s"consumed=$consumed")
    assert(stage.size == 49 && consumed == 50)
  }

  test("planted hub-edge batch: huge per-batch delta set absorbs with bounded memory") {
    // a hub node connected to everything: every streamed edge (a,b) between
    // hub neighbors closes triangles through the hub, so a modest batch
    // explodes into a delta set far larger than the batch — the streaming
    // OOM shape. Forced-tiny consolidation cap ⇒ every reduce task spills;
    // output must still equal the DataFrame engine.
    withSpillCap(16) {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("src", LongType),
        StructField("dst", LongType), StructField("w", LongType)))
      def df(edges: Seq[(Long, Long, Long)]) = spark.createDataFrame(
        edges.map(e => Row(e._1, e._2, e._3)).asJava, schema)
      val hub = 0L
      val n = 120
      val preload = (1 to n).flatMap(i =>
        Seq((hub, i.toLong, 1L), (i.toLong, hub, 1L)))
      val rnd = new scala.util.Random(83L)
      val batch = (0 until 300).map { _ =>
        var a = 0L; var b = 0L
        while (a == b) { a = 1L + rnd.nextInt(n); b = 1L + rnd.nextInt(n) }
        (a, b, 1L)
      }
      val fast = new FastGraphState(spark, Planner.triangle, numParts = 4)
      fast.initialize(df(preload))
      val expect = BruteForce.rows(BruteForce.delta(preload, batch, Planner.triangle))
      val got = BruteForce.rowsOf(fast.applyBatch(0L, df(batch)))
      assert(got.length == expect.length && got == expect)
      // the stress is real: deltas ≫ batch rows
      assert(expect.length > 3 * batch.size)
      fast.close()
    }
  }

  test("hub edges streamed in the batch: multi-delta matches spill and stay exact") {
    // the planted-hub shape with the hub edges arriving (again) in the same
    // batch as the edges between its neighbors: every triangle through the
    // hub has two or more changed atoms, so its matches take the
    // consolidating path, which must spill under the forced-tiny cap. Half
    // the neighbor edges are preloaded too, so on those triangles all three
    // derivatives emit a nonzero weight that must be summed
    withSpillCap(16) {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("src", LongType),
        StructField("dst", LongType), StructField("w", LongType)))
      def df(edges: Seq[(Long, Long, Long)]) = spark.createDataFrame(
        edges.map(e => Row(e._1, e._2, e._3)).asJava, schema)
      val hub = 0L
      val n = 120
      val rnd = new scala.util.Random(89L)
      val hubEdges = (1 to n).flatMap(i => Seq((hub, i.toLong, 1L), (i.toLong, hub, 1L)))
      val between = (0 until 300).map { _ =>
        var a = 0L; var b = 0L
        while (a == b) { a = 1L + rnd.nextInt(n); b = 1L + rnd.nextInt(n) }
        (a, b, 1L)
      }
      val preload = hubEdges ++ between.take(150)
      val batch = hubEdges ++ between
      val fast = new FastGraphState(spark, Planner.triangle, numParts = 4)
      fast.initialize(df(preload))
      val expect = BruteForce.rows(BruteForce.delta(preload, batch, Planner.triangle))
      val spilled = SpillConsolidator.spillFiles.get
      val got = BruteForce.rowsOf(fast.applyBatch(0L, df(batch)))
      assert(got.length == expect.length && got == expect)
      assert(SpillConsolidator.spillFiles.get > spilled, "the consolidator never spilled")
      fast.close()
    }
  }

  test("fast engine matches the DataFrame engine under a forced-tiny spill cap") {
    withSpillCap(8) {
      val rnd = new scala.util.Random(11)
      val fast = new FastGraphState(spark, Planner.triangle, numParts = 3, maxTail = 5)
      var before = Seq.empty[(Long, Long, Long)]
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("src", LongType),
        StructField("dst", LongType), StructField("w", LongType)))
      for (id <- 0 until 4) {
        val batch = (0 until 300).map { _ =>
          var s = 0L; var d = 0L
          while (s == d) { s = rnd.nextInt(25).toLong; d = rnd.nextInt(25).toLong }
          (s, d, 1L)
        }
        val b = spark.createDataFrame(batch.map(e => Row(e._1, e._2, e._3)).asJava, schema)
        val expect = BruteForce.rows(BruteForce.delta(before, batch, Planner.triangle))
        val got = BruteForce.rowsOf(fast.applyBatch(id.toLong, b))
        assert(got == expect, s"batch $id diverged under spill cap 8")
        before ++= batch
      }
      fast.close()
    }
  }
}
