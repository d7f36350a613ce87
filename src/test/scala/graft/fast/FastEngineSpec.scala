package graft.fast

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{BruteForce, SparkTestBase}
import graft.plan.Planner

/** Pins the streaming engine batch-for-batch: each micro-batch's
  * consolidated match delta equals the brute-force enumeration after the
  * batch minus the one before it (covering within-batch le/lt staleness,
  * retractions and multi-stage motifs), at any partition count, plus
  * durable restart. Test names saying "sql engine" refer to that oracle. */
class FastEngineSpec extends AnyFunSuite with SparkTestBase {

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("w", LongType)))

  private def df(edges: Seq[(Long, Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      edges.map(e => Row(e._1, e._2, e._3)).asJava, edgeSchema)
  }

  /** Deterministic random ±1 edge stream over `n` nodes. */
  private def randomBatches(nodes: Int, nBatches: Int, batchSize: Int,
                            seed: Long, negFrac: Double = 0.2): Seq[Seq[(Long, Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    val inserted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0 until nBatches).map { _ =>
      (0 until batchSize).map { _ =>
        if (inserted.nonEmpty && rnd.nextDouble() < negFrac) {
          val i = rnd.nextInt(inserted.size)
          val (s, d) = inserted.remove(i)
          (s, d, -1L)
        } else {
          var s = 0L; var d = 0L
          while (s == d) { s = rnd.nextInt(nodes).toLong; d = rnd.nextInt(nodes).toLong }
          inserted += ((s, d))
          (s, d, 1L)
        }
      }
    }
  }

  /** (match-delta rows, net weight) of one absorbed batch, via the async
    * stats path awaited in place. */
  private def batchStats(st: FastGraphState, id: Long,
                         arr: Array[(Long, Long, Long)]): (Long, Long) = {
    val parts = st.applyBatchStatsAsync(id, arr).get()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def sortedRows(frame: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
    frame.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSeq.sortBy(_.mkString(","))

  private def compareEngines(motif: Seq[(Int, Int)], nodes: Int, nBatches: Int,
                             batchSize: Int, seed: Long, parts: Int,
                             preds: Seq[Planner.Pred] = Nil): Unit = {
    val fast = new FastGraphState(spark, motif, numParts = parts, maxTail = 3,
      predicates = preds)
    var before = Seq.empty[(Long, Long, Long)]
    for ((batch, id) <- randomBatches(nodes, nBatches, batchSize, seed).zipWithIndex) {
      val expect = BruteForce.rows(BruteForce.delta(before, batch, motif, preds))
      val got = sortedRows(fast.applyBatch(id.toLong, df(batch)))
      assert(got == expect, s"motif=$motif batch=$id parts=$parts")
      before ++= batch
    }
    fast.close()
  }

  test("fast == sql engine per batch: triangle (with retractions)") {
    compareEngines(Planner.triangle, nodes = 30, nBatches = 6, batchSize = 40,
      seed = 7L, parts = 5)
  }

  test("fast == sql engine per batch: cycle3") {
    compareEngines(Planner.cycle3, nodes = 25, nBatches = 5, batchSize = 40,
      seed = 11L, parts = 3)
  }

  test("fast == sql engine per batch: clique4 (two extension levels)") {
    compareEngines(Planner.clique4, nodes = 18, nBatches = 4, batchSize = 50,
      seed = 13L, parts = 4)
  }

  test("fast == sql engine per batch: ordered clique4 (predicates in BOTH engines)") {
    compareEngines(Planner.clique4, nodes = 18, nBatches = 4, batchSize = 50,
      seed = 13L, parts = 4, preds = Planner.ordered(4))
  }

  test("driver degree mirror off (distributed sharded-degree seed phase) == mirror on") {
    val batches = randomBatches(26, 5, 40, seed = 47L)
    val a = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 3)
    val b = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 3,
      degMirrorMaxKeys = 0)
    for ((batch, id) <- batches.zipWithIndex) {
      val r1 = sortedRows(a.applyBatch(id.toLong, df(batch)))
      val r2 = sortedRows(b.applyBatch(id.toLong, df(batch)))
      assert(r1 == r2, s"batch=$id")
    }
    a.close(); b.close()
  }

  test("parallelism invariance: same outputs at 2 and 8 partitions") {
    val batches = randomBatches(24, 4, 50, seed = 17L)
    val a = new FastGraphState(spark, Planner.triangle, numParts = 2)
    val bb = new FastGraphState(spark, Planner.triangle, numParts = 8)
    for ((batch, id) <- batches.zipWithIndex) {
      val r1 = sortedRows(a.applyBatch(id.toLong, df(batch)))
      val r2 = sortedRows(bb.applyBatch(id.toLong, df(batch)))
      assert(r1 == r2)
    }
    a.close(); bb.close()
  }

  test("cumulative stream == batch enumeration (initialize + stream)") {
    val batches = randomBatches(30, 6, 40, seed = 23L)
    val fast = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 2)
    fast.initialize(df(batches.head))
    val acc = scala.collection.mutable.Map[Seq[Long], Long]()
    for ((batch, i) <- batches.tail.zipWithIndex) {
      for (row <- fast.applyBatch(i.toLong, df(batch)).collect()) {
        val key = row.toSeq.dropRight(1).map(_.asInstanceOf[Long])
        val w = row.getLong(row.length - 1)
        acc(key) = acc.getOrElse(key, 0L) + w
      }
    }
    // preload matches (not emitted) + streamed deltas == full enumeration
    for ((key, w) <- BruteForce.enumerate(batches.head, Planner.triangle))
      acc(key) = acc.getOrElse(key, 0L) + w
    assert(acc.filter(_._2 != 0L).toMap ==
      BruteForce.enumerate(batches.flatten, Planner.triangle))
    fast.close()
  }

  test("predicates: ordered triangle stream == ordered batch enumeration") {
    val batches = randomBatches(25, 4, 40, seed = 29L)
    val preds = Planner.ordered(3)
    val fast = new FastGraphState(spark, Planner.triangle, numParts = 4,
      predicates = preds)
    val acc = scala.collection.mutable.Map[Seq[Long], Long]()
    for ((batch, i) <- batches.zipWithIndex) {
      for (row <- fast.applyBatch(i.toLong, df(batch)).collect()) {
        val key = row.toSeq.dropRight(1).map(_.asInstanceOf[Long])
        acc(key) = acc.getOrElse(key, 0L) + row.getLong(row.length - 1)
      }
    }
    assert(acc.filter(_._2 != 0L).toMap ==
      BruteForce.enumerate(batches.flatten, Planner.triangle, preds))
    fast.close()
  }

  test("hot-replica chain fold: membership-stable run (no compaction) == sql engine") {
    // maxTail high enough that the hot base is broadcast ONCE (at
    // initialize) and every subsequent batch is served by executors folding
    // the DeltaPack chain — the per-batch path that must stay in lockstep
    // with the shards
    val batches = randomBatches(30, 9, 40, seed = 43L)
    val fast = new FastGraphState(spark, Planner.triangle, numParts = 4,
      maxTail = 1000, hotKeys = 1000) // every preloaded key hot → chain-folded
    fast.initialize(df(batches.head))
    var before = batches.head
    for ((batch, id) <- batches.tail.zipWithIndex) {
      val expect = BruteForce.rows(BruteForce.delta(before, batch, Planner.triangle))
      val got = sortedRows(fast.applyBatch(id.toLong, df(batch)))
      assert(got == expect, s"batch=$id")
      before ++= batch
    }
    fast.close()
  }

  test("durability: restart from stateDir resumes exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fast_state").toString
    val batches = randomBatches(20, 5, 30, seed = 31L)
    val s1 = new FastGraphState(spark, Planner.triangle, Some(dir),
      numParts = 3, maxTail = 2)
    s1.initialize(df(batches.head))
    val out1 = batches.slice(1, 3).zipWithIndex.map { case (b, i) =>
      sortedRows(s1.applyBatch(i.toLong, df(b)))
    }
    s1.close()

    // restart: replayed ids are no-ops, new ids continue from durable state
    val s2 = new FastGraphState(spark, Planner.triangle, Some(dir),
      numParts = 3, maxTail = 2)
    assert(s2.lastBatchId == 1L)
    assert(s2.applyBatch(1L, df(batches(2))).collect().isEmpty) // replay → no-op
    val out3 = sortedRows(s2.applyBatch(2L, df(batches(3))))

    // reference run without restart
    val ref = new FastGraphState(spark, Planner.triangle, numParts = 3)
    ref.initialize(df(batches.head))
    val refOuts = batches.slice(1, 4).zipWithIndex.map { case (b, i) =>
      sortedRows(ref.applyBatch(i.toLong, df(b)))
    }
    assert(out1 == refOuts.take(2))
    assert(out3 == refOuts(2))
    s2.close(); ref.close()
  }

  test("crash window: a WAL'd-but-uncommitted batch is an ignorable orphan") {
    // exactly-once contract: WAL lands BEFORE meta commits. A crash in
    // between leaves a WAL file for a batch id meta never recorded — on
    // restart it must be ignored (the upstream re-delivers that batch) and
    // re-absorbing the same edges must produce the normal result.
    val dir = java.nio.file.Files.createTempDirectory("graft_fast_orphan").toString
    val batches = randomBatches(20, 4, 30, seed = 101L)
    val s1 = new FastGraphState(spark, Planner.triangle, Some(dir),
      numParts = 3, maxTail = 100)
    s1.initialize(df(batches.head))
    sortedRows(s1.applyBatch(0L, df(batches(1))))
    s1.close()
    // simulate the crash: batch 1's WALs exist in BOTH forms, no meta
    val walDir = java.nio.file.Paths.get(dir, "wal")
    java.nio.file.Files.write(walDir.resolve("batch=1.bin"),
      Array.fill[Byte](24)(7))
    val orphanPq = walDir.resolve("batch=1.parquet")
    java.nio.file.Files.createDirectories(orphanPq)
    java.nio.file.Files.write(orphanPq.resolve("junk"), Array[Byte](1))

    val s2 = new FastGraphState(spark, Planner.triangle, Some(dir),
      numParts = 3, maxTail = 100)
    assert(s2.lastBatchId == 0L) // the orphan did not advance the state
    val got = sortedRows(s2.applyBatch(1L, df(batches(2))))
    s2.close()
    // re-absorbing over the orphan must leave ONE replayable WAL form:
    // a further restart replays batch 1 exactly once
    assert(!java.nio.file.Files.exists(orphanPq))
    val s3 = new FastGraphState(spark, Planner.triangle, Some(dir),
      numParts = 3, maxTail = 100)
    assert(s3.lastBatchId == 1L)
    val got3 = sortedRows(s3.applyBatch(2L, df(batches(3))))

    val ref = new FastGraphState(spark, Planner.triangle, numParts = 3)
    ref.initialize(df(batches.head))
    ref.applyBatch(0L, df(batches(1))).collect()
    assert(got == sortedRows(ref.applyBatch(1L, df(batches(2)))))
    assert(got3 == sortedRows(ref.applyBatch(2L, df(batches(3)))))
    s3.close(); ref.close()
  }

  test("pipelined async absorb (depth 3, overlapping jobs) == sync stats") {
    val batches = randomBatches(25, 8, 40, seed = 53L)
    val sync = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 3)
    val async = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 3,
      pipelineDepth = 3)
    val expected = batches.zipWithIndex.map { case (b, i) =>
      batchStats(sync, i.toLong, b.toArray)
    }
    val futs = scala.collection.mutable.Queue
      .empty[(Int, org.apache.spark.FutureAction[Seq[(Long, Long)]])]
    val got = new Array[(Long, Long)](batches.size)
    def drain(): Unit = {
      val (i, f) = futs.dequeue()
      val parts = scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
      got(i) = (parts.map(_._1).sum, parts.map(_._2).sum)
    }
    for ((b, i) <- batches.zipWithIndex) {
      while (futs.size >= 3) drain()
      futs += ((i, async.applyBatchStatsAsync(i.toLong, b.toArray)))
    }
    while (futs.nonEmpty) drain()
    assert(got.toSeq == expected)
    sync.close(); async.close()
  }

  test("distributed absorb == broadcast absorb, and later broadcast batches stay equal") {
    for (motif <- Seq(Planner.triangle, Planner.clique4)) {
      val batches = randomBatches(22, 5, 45, seed = 59L)
      val a = new FastGraphState(spark, motif, numParts = 4, maxTail = 100)
      val b = new FastGraphState(spark, motif, numParts = 4, maxTail = 100)
      for ((batch, id) <- batches.zipWithIndex) {
        val r1 = sortedRows(a.applyBatch(id.toLong, df(batch)))
        // batch 2 goes through the distributed path on state b; the rest
        // broadcast — later equality proves the rebuilt hot replica, degree
        // mirror and chain are consistent with the shards
        val r2 = sortedRows(
          if (id == 2) b.applyBatchDistributed(id.toLong, df(batch))
          else b.applyBatch(id.toLong, df(batch)))
        assert(r1 == r2, s"motif=$motif batch=$id")
      }
      a.close(); b.close()
    }
  }

  test("degree-mirror budget auto-switch: tiny budget == default, incl. bulk absorb") {
    // budget 0 → sharded from the first batch; budget 25 → the mirror starts
    // driver-side and switches itself off mid-stream as the key set grows
    // (and the bulk batch's incremental fold must stay exact up to the
    // switch). Results must be identical in every configuration.
    val batches = randomBatches(40, 6, 40, seed = 131L)
    val base = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 100)
    val auto0 = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 100,
      degMirrorMaxKeys = 0L)
    val autoMid = new FastGraphState(spark, Planner.triangle, numParts = 4, maxTail = 100,
      degMirrorMaxKeys = 25L)
    for ((batch, id) <- batches.zipWithIndex) {
      val r1 = sortedRows(base.applyBatch(id.toLong, df(batch)))
      // one bulk batch exercises the bulk absorb's degree fold on all three
      def step(st: FastGraphState) = sortedRows(
        if (id == 3) st.applyBatchDistributed(id.toLong, df(batch))
        else st.applyBatch(id.toLong, df(batch)))
      assert(step(auto0) == r1, s"budget=0 batch=$id")
      assert(step(autoMid) == r1, s"budget=25 batch=$id")
    }
    base.close(); auto0.close(); autoMid.close()
  }

  test("distributed absorb with ordered predicates == broadcast absorb") {
    val batches = randomBatches(20, 4, 45, seed = 79L)
    val preds = Planner.ordered(3)
    val a = new FastGraphState(spark, Planner.triangle, numParts = 4, predicates = preds)
    val b = new FastGraphState(spark, Planner.triangle, numParts = 4, predicates = preds)
    for ((batch, id) <- batches.zipWithIndex) {
      val r1 = sortedRows(a.applyBatch(id.toLong, df(batch)))
      val r2 = sortedRows(
        if (id % 2 == 1) b.applyBatchDistributed(id.toLong, df(batch))
        else b.applyBatch(id.toLong, df(batch)))
      assert(r1 == r2, s"batch=$id")
    }
    a.close(); b.close()
  }

  test("mirror off + ordered predicates: sharded-degree seed phase stays exact") {
    val batches = randomBatches(22, 4, 45, seed = 89L)
    val preds = Planner.ordered(3)
    val a = new FastGraphState(spark, Planner.triangle, numParts = 4, predicates = preds)
    val b = new FastGraphState(spark, Planner.triangle, numParts = 4, predicates = preds,
      degMirrorMaxKeys = 0)
    for ((batch, id) <- batches.zipWithIndex) {
      val r1 = sortedRows(a.applyBatch(id.toLong, df(batch)))
      val r2 = sortedRows(b.applyBatch(id.toLong, df(batch)))
      assert(r1 == r2, s"batch=$id")
    }
    a.close(); b.close()
  }

  test("distributed absorb on a planted hub: degree-only hot routing stays exact") {
    // hub 0 connected to everything, then a batch of hub edges + edges
    // between hub neighbors — the shape whose count traffic concentrates
    // without the degree-only hub broadcast. Distributed must equal
    // broadcast, and subsequent broadcast batches must stay equal
    // (validates the rebuilt post-bulk state too).
    val n = 60
    val preload = (1 to n).flatMap(i => Seq((0L, i.toLong, 1L), (i.toLong, 0L, 1L)))
    val rnd = new scala.util.Random(103L)
    val batch1 = (0 until 150).map { _ =>
      var a = 0L; var b = 0L
      while (a == b) { a = 1L + rnd.nextInt(n); b = 1L + rnd.nextInt(n) }
      (a, b, 1L)
    } ++ (0 until 20).map(i => (0L, (1L + i), 1L)) // more hub edges
    val batch2 = (0 until 60).map { _ =>
      var a = 0L; var b = 0L
      while (a == b) { a = rnd.nextInt(n + 1).toLong; b = rnd.nextInt(n + 1).toLong }
      (a, b, 1L)
    }
    val a1 = new FastGraphState(spark, Planner.triangle, numParts = 4)
    val b1 = new FastGraphState(spark, Planner.triangle, numParts = 4)
    a1.initialize(df(preload)); b1.initialize(df(preload))
    assert(sortedRows(a1.applyBatch(0L, df(batch1))) ==
      sortedRows(b1.applyBatchDistributed(0L, df(batch1))))
    assert(sortedRows(a1.applyBatch(1L, df(batch2))) ==
      sortedRows(b1.applyBatch(1L, df(batch2))))
    a1.close(); b1.close()
  }

  test("distributed absorb: single-edge motif (no extension stage)") {
    val batches = randomBatches(15, 3, 30, seed = 61L)
    val a = new FastGraphState(spark, Seq((0, 1)), numParts = 3)
    val b = new FastGraphState(spark, Seq((0, 1)), numParts = 3)
    for ((batch, id) <- batches.zipWithIndex) {
      val r1 = sortedRows(a.applyBatch(id.toLong, df(batch)))
      val r2 = sortedRows(b.applyBatchDistributed(id.toLong, df(batch)))
      assert(r1 == r2, s"batch=$id")
    }
    a.close(); b.close()
  }

  test("threshold switch: applyBatch auto-routes oversized batches distributed") {
    val batches = randomBatches(26, 4, 120, seed = 67L)
    val a = new FastGraphState(spark, Planner.triangle, numParts = 4)
    val b = new FastGraphState(spark, Planner.triangle, numParts = 4,
      largeBatchThreshold = 50) // every 120-row batch crosses it
    for ((batch, id) <- batches.zipWithIndex) {
      val r1 = sortedRows(a.applyBatch(id.toLong, df(batch)))
      val r2 = sortedRows(b.applyBatch(id.toLong, df(batch)))
      assert(r1 == r2, s"batch=$id")
    }
    // the array entry point routes through the same guard
    val extra = randomBatches(26, 1, 120, seed = 71L).head
    val r1 = batchStats(a, batches.size.toLong, extra.toArray)
    val m2 = b.applyBatchRdd(batches.size.toLong, extra.toArray)
    val got = (m2.count(), m2.map(_._2).sum())
    assert((r1._1, r1._2) == got)
    a.close(); b.close()
  }

  test("durability: distributed-absorb parquet WAL replays on restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fast_dist").toString
    val batches = randomBatches(20, 4, 30, seed = 73L)
    val s1 = new FastGraphState(spark, Planner.triangle, Some(dir),
      numParts = 3, maxTail = 100)
    s1.initialize(df(batches.head))
    sortedRows(s1.applyBatch(0L, df(batches(1))))
    sortedRows(s1.applyBatchDistributed(1L, df(batches(2)))) // parquet WAL
    s1.close()

    val s2 = new FastGraphState(spark, Planner.triangle, Some(dir),
      numParts = 3, maxTail = 100)
    assert(s2.lastBatchId == 1L)
    val out = sortedRows(s2.applyBatch(2L, df(batches(3))))

    val ref = new FastGraphState(spark, Planner.triangle, numParts = 3)
    ref.initialize(df(batches.head))
    ref.applyBatch(0L, df(batches(1))).collect()
    ref.applyBatch(1L, df(batches(2))).collect()
    assert(out == sortedRows(ref.applyBatch(2L, df(batches(3)))))
    s2.close(); ref.close()
  }

  test("a bulk absorb's batch RDD is released by the next driver-path absorb") {
    val batches = randomBatches(24, 3, 60, seed = 107L)
    val sc = spark.sparkContext
    val st = new FastGraphState(spark, Planner.triangle, numParts = 3)
    val before = sc.getPersistentRDDs.keySet
    st.applyBatchDistributed(0L, df(batches(0))).collect()
    // the bulk absorb persists its consolidated batch and the new shard
    // generation; the generation is state and stays inside the retirement
    // window, but the batch must go at the next absorb of either form
    val bulk = sc.getPersistentRDDs.collect {
      case (id, rdd) if !before(id) && !rdd.isCheckpointed => id
    }.toSet
    assert(bulk.nonEmpty, "the bulk absorb persisted no batch RDD")
    st.applyBatch(1L, df(batches(1))).collect()
    st.applyBatch(2L, df(batches(2))).collect()
    val left = bulk.intersect(sc.getPersistentRDDs.keySet)
    assert(left.isEmpty, s"bulk-absorb RDDs still cached after two driver-path absorbs: $left")
    st.close()
  }

  test("lineage: one record per committed batch, same fields on both absorb forms") {
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val Seq(b0, b1) = randomBatches(20, 2, 40, seed = 109L).map { b =>
      b ++ b.take(5) ++ Seq((1L, 2L, 1L), (1L, 2L, -1L)) // duplicates + a cancelling pair
    }
    def consolidated(b: Seq[(Long, Long, Long)]): Long =
      b.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _).count(_._2 != 0L).toLong
    for (lineage <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_fast_lineage")
      val file = dir.resolve("metrics.jsonl")
      def records() =
        if (!java.nio.file.Files.exists(file)) Nil
        else java.nio.file.Files.readAllLines(file).asScala.toSeq.map(json.readTree)
      val st = new FastGraphState(spark, Planner.triangle, Some(dir.toString),
        numParts = 3, maxTail = 100, lineageMetrics = lineage)
      st.applyBatch(0L, df(b0)).collect()
      assert(records().size == 1, s"driver absorb (lineageMetrics=$lineage)")
      st.applyBatchDistributed(1L, df(b1)).collect()
      assert(records().size == 2, s"bulk absorb (lineageMetrics=$lineage)")
      st.applyBatch(1L, df(b1)).collect() // replayed id
      assert(records().size == 2, "a replayed id appended a record")
      val Seq(r0, r1) = records()
      assert(r0.fieldNames.asScala.toSet == r1.fieldNames.asScala.toSet)
      assert(!r0.get("distributed").asBoolean && r1.get("distributed").asBoolean)
      for ((r, (id, b)) <- Seq(r0, r1).zip(Seq(0L -> b0, 1L -> b1))) {
        assert(r.get("batchId").asLong == id)
        assert(r.get("inputRows").asLong == consolidated(b), s"batch $id inputRows")
        val rows = r.get("partitions").elements.asScala.map(_.get("rows").asLong).toSeq
        if (lineage) assert(rows.sum == r.get("inputRows").asLong, s"batch $id partitions")
        else assert(rows.isEmpty, s"batch $id partitions with lineageMetrics off")
      }
      st.close()
    }
  }

  test("applyBatchStats matches DataFrame counts") {
    val batches = randomBatches(25, 3, 40, seed = 37L)
    val a = new FastGraphState(spark, Planner.triangle, numParts = 4)
    val b = new FastGraphState(spark, Planner.triangle, numParts = 4)
    for ((batch, i) <- batches.zipWithIndex) {
      val (n, net) = batchStats(a, i.toLong, batch.toArray)
      val mdf = b.applyBatch(i.toLong, df(batch))
      val rows = mdf.collect()
      assert(n == rows.length)
      assert(net == rows.map(r => r.getLong(r.length - 1)).sum)
    }
    a.close(); b.close()
  }

  test("buildShards equals the boxed reference index on duplicate-heavy multigraphs") {
    val engine = new DeltaEngine(Planner.triangle, Nil, numParts = 3)
    for ((edges, trial) <- FullIndexSpec.multigraphs.zipWithIndex) {
      val shards = engine.buildShards(spark.sparkContext.parallelize(edges, 4)).collect()
      assert(shards.length == 3, s"trial $trial shard count")
      for ((shard, pid) <- shards.zipWithIndex; k <- shard.keys)
        assert(engine.partitioner.getPartition(k) == pid, s"trial $trial key $k on shard $pid")
      val got = shards.flatMap(_.iterator).toMap
      val want = FullIndexSpec.refIndex(edges)
      assert(got.keySet == want.keySet, s"trial $trial key sets")
      for ((k, (f, df, r, dr)) <- want) {
        val a = got(k)
        assert(a.fwdVs.toSeq.zip(a.fwdWs.toSeq) == f, s"trial $trial fwd run of $k")
        assert(a.revVs.toSeq.zip(a.revWs.toSeq) == r, s"trial $trial rev run of $k")
        assert(a.degFwd == df && a.degRev == dr, s"trial $trial degrees of $k")
      }
    }
  }

  test("buildShards from an input partition that spans several packed blocks") {
    val rnd = new scala.util.Random(5)
    val edges = (0 until 40000).map { _ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong, (rnd.nextInt(5) - 2).toLong)
    }
    val np = 2
    // the map side of one input partition: bounded blocks, several per target
    val blocks = DeltaEngine.edgeBlocks(np, edges.iterator).toSeq
    assert(blocks.forall(_._2.length <= 32768), "a packed block exceeds its 256 KB cap")
    for (pid <- 0 until np)
      assert(blocks.count(_._1 == pid) >= 3, s"shard $pid's input fits one block")
    val engine = new DeltaEngine(Planner.triangle, Nil, numParts = np)
    val shards = engine.buildShards(spark.sparkContext.parallelize(edges, 1)).collect()
    assert(shards.length == np)
    for ((shard, pid) <- shards.zipWithIndex; k <- shard.keys)
      assert(engine.partitioner.getPartition(k) == pid, s"key $k on shard $pid")
    val got = shards.flatMap(_.iterator).toMap
    val want = FullIndexSpec.refIndex(edges)
    assert(got.keySet == want.keySet, "key sets")
    for ((k, (f, df, r, dr)) <- want) {
      val a = got(k)
      assert(a.fwdVs.toSeq.zip(a.fwdWs.toSeq) == f, s"fwd run of $k")
      assert(a.revVs.toSeq.zip(a.revWs.toSeq) == r, s"rev run of $k")
      assert(a.degFwd == df && a.degRev == dr, s"degrees of $k")
    }
  }
}
