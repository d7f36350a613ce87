package graft.fast

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{BruteForce, SparkTestBase}
import graft.plan.Planner

/** Pins the fast engine's batch-enumeration mode to the brute-force
  * nested-loop oracle ([[graft.BruteForce]]; test names call it "sql"):
  * identical (bindings, weight) sets for every motif/predicate combination
  * on weighted multigraphs, including the gallop range-pushdown paths and
  * hot-replica scatter routing. */
class FastBatchSpec extends AnyFunSuite with SparkTestBase {

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("w", LongType)))

  private def df(edges: Seq[(Long, Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      edges.map(e => Row(e._1, e._2, e._3)).asJava, edgeSchema)
  }

  /** Deterministic random multigraph with some repeated and negative rows
    * (exercises input consolidation). */
  private def randomEdges(nodes: Int, m: Int, seed: Long): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until m).map { _ =>
      var s = 0L; var d = 0L
      while (s == d) { s = rnd.nextInt(nodes).toLong; d = rnd.nextInt(nodes).toLong }
      val w = rnd.nextInt(10) match {
        case 0 => -1L // occasional retraction row
        case 1 => 2L  // multiplicity
        case _ => 1L
      }
      (s, d, w)
    }
  }

  private def sortedRows(frame: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
    frame.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSeq.sortBy(_.mkString(","))

  /** Runs `body` once per execution regime: the zero-exchange broadcast-
    * local pipeline (gate wide open) and the node-sharded exchange pipeline
    * (gate closed) — every equality below pins BOTH against the brute-force
    * oracle. */
  private def bothRegimes(body: String => Unit): Unit = {
    val saved = FastBatch.localIndexMaxEdges
    try {
      FastBatch.localIndexMaxEdges = Long.MaxValue
      body("local")
      FastBatch.localIndexMaxEdges = 0L
      body("sharded")
    } finally FastBatch.localIndexMaxEdges = saved
  }

  private def check(motif: Seq[(Int, Int)], preds: Seq[Planner.Pred],
                    edges: Seq[(Long, Long, Long)], parts: Int, hotKeys: Int = -1): Unit = {
    val e = df(edges)
    val expect = BruteForce.rows(BruteForce.enumerate(edges, motif, preds))
    bothRegimes { regime =>
      val got = sortedRows(FastBatch.enumerate(e, motif, preds, numParts = parts,
        hotKeys = hotKeys))
      assert(got == expect,
        s"motif=$motif preds=$preds parts=$parts hotKeys=$hotKeys regime=$regime")
    }
  }

  test("batch fast == sql: triangle on random weighted multigraph") {
    check(Planner.triangle, Nil, randomEdges(40, 600, 7L), parts = 5)
  }

  test("batch fast == sql: cycle3") {
    check(Planner.cycle3, Nil, randomEdges(35, 500, 11L), parts = 3)
  }

  test("batch fast == sql: diamond (mixed 1- and 2-constraint stages)") {
    // K4 minus (0,3): stage for x2 has two constraints, stage for x3 has
    // two but from non-seed attrs — a shape no clique/cycle test covers
    check(Planner.diamond, Nil, randomEdges(35, 550, 53L), parts = 4)
  }

  test("enumerateAgg diamond matches full enumeration") {
    val edges = randomEdges(30, 500, 59L)
    val e = df(edges)
    val full = BruteForce.enumerate(edges, Planner.diamond)
    bothRegimes { regime =>
      val row = FastBatch.enumerateAgg(e, Planner.diamond, numParts = 3).collect()(0)
      assert(row.getLong(0) == full.size, s"regime=$regime")
      assert(row.getLong(1) == full.values.sum, s"regime=$regime")
    }
  }

  test("batch fast == sql: clique4 (two extension levels)") {
    check(Planner.clique4, Nil, randomEdges(25, 500, 13L), parts = 4)
  }

  test("batch fast == sql: clique4 ordered (gallop range pushdown, both sides)") {
    check(Planner.clique4, Planner.ordered(4), randomEdges(25, 500, 17L), parts = 4)
  }

  test("batch fast == sql: clique5 (three extension levels)") {
    check(Planner.clique5, Nil, randomEdges(14, 400, 37L), parts = 4)
  }

  test("batch fast == sql: cliqueHat with mixed !=/< predicates") {
    check(Planner.cliqueHat,
      Seq(Planner.Pred(1, 4, "!="), Planner.Pred(2, 4, "<")),
      randomEdges(20, 450, 19L), parts = 4)
  }

  test("batch fast == sql: descending and >= range predicates") {
    check(Planner.triangle,
      Seq(Planner.Pred(0, 2, ">"), Planner.Pred(1, 2, ">=")),
      randomEdges(30, 500, 23L), parts = 3)
  }

  test("batch fast == sql: hot replica forced on (every key hot) and off") {
    val edges = randomEdges(20, 400, 29L)
    check(Planner.triangle, Nil, edges, parts = 4, hotKeys = 1000) // all hot
    check(Planner.triangle, Nil, edges, parts = 4, hotKeys = 0)    // none hot
  }

  test("batch fast == sql: single-edge motif (no extension stage)") {
    val edges = randomEdges(15, 120, 31L)
    val expect = BruteForce.rows(BruteForce.enumerate(edges, Seq((0, 1))))
    val got = sortedRows(FastBatch.enumerate(df(edges), Seq((0, 1)), numParts = 3))
    assert(got == expect)
  }

  test("queryStatic fast == sql: streamed queries against a static index") {
    val edges = randomEdges(30, 500, 61L)
    val queries = randomEdges(30, 120, 67L)
    val e = df(edges)
    val q = df(queries)
    val expect = BruteForce.queryStatic(queries, edges, Planner.triangle)
    bothRegimes { regime =>
      val got = sortedRows(FastBatch.queryStatic(q, e, Planner.triangle, numParts = 4))
      assert(got == expect, s"regime=$regime")
    }
  }

  test("enumerateAgg matches full enumeration counts") {
    val edges = randomEdges(30, 500, 37L)
    val e = df(edges)
    val full = BruteForce.enumerate(edges, Planner.triangle)
    bothRegimes { regime =>
      val row = FastBatch.enumerateAgg(e, Planner.triangle, numParts = 4).collect()(0)
      assert(row.getLong(0) == full.size, s"regime=$regime")
      assert(row.getLong(1) == full.values.sum, s"regime=$regime")
    }
  }

  test("enumerateAgg with ordered predicates matches DataFrame agg") {
    val edges = randomEdges(25, 500, 41L)
    val e = df(edges)
    val expect = BruteForce.enumerate(edges, Planner.clique4, Planner.ordered(4))
    bothRegimes { regime =>
      val got = FastBatch.enumerateAgg(e, Planner.clique4, Planner.ordered(4),
        numParts = 4).collect()(0)
      assert(got.getLong(0) == expect.size, s"regime=$regime")
      assert(got.getLong(1) == expect.values.sum, s"regime=$regime")
    }
  }

  test("enumerateRowCount equals enumeration size in both regimes") {
    val edges = randomEdges(30, 500, 71L)
    val e = df(edges)
    val full = BruteForce.enumerate(edges, Planner.triangle).size
    bothRegimes { regime =>
      val n = FastBatch.enumerateRowCount(e, Planner.triangle, numParts = 4)
      assert(n == full, s"regime=$regime")
    }
  }

  test("result survives source release (eager materialization)") {
    val e = df(randomEdges(25, 400, 43L))
    val out = FastBatch.enumerate(e, Planner.triangle, numParts = 4)
    // consume twice, after FastBatch already unpersisted its internal state
    assert(out.count() == out.count())
  }

  /** Runs `body` under gate `g` and returns its result with the call-site
    * details of every stage it submitted. */
  private def underGate[A](g: Long)(body: => A): (A, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        sites.add(s.stageInfo.details)
    }
    val saved = FastBatch.localIndexMaxEdges
    spark.sparkContext.addSparkListener(listener)
    try {
      FastBatch.localIndexMaxEdges = g
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, sites.asScala.toSeq)
    } finally {
      FastBatch.localIndexMaxEdges = saved
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** A stage of the sharded regime's exchange pipeline ran. */
  private def exchanged(sites: Seq[String]): Boolean =
    sites.exists(s => s.contains("DeltaEngine.countPropose") || s.contains("DeltaEngine.extend"))

  /** The local regime's index collect ran. */
  private def collectedLocal(sites: Seq[String]): Boolean =
    sites.exists(_.contains("LocalIndex$.fromShards"))

  private def triangleAgg(e: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = FastBatch.enumerateAgg(e, Planner.triangle, numParts = 4).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def bruteAgg(edges: Seq[(Long, Long, Long)]): (Long, Long) = {
    val full = BruteForce.enumerate(edges, Planner.triangle)
    (full.size.toLong, full.values.sum)
  }

  /** Consolidated edge count of a raw multigraph. */
  private def consolidated(edges: Seq[(Long, Long, Long)]): Long =
    edges.groupBy(e => (e._1, e._2)).count(_._2.map(_._3).sum != 0L).toLong

  test("a gate of Long.MaxValue keeps a graph of a few thousand edges local") {
    // 2 × gate once wrapped to -2, capping every partition's collect near
    // 1024 edges, so this graph silently ran the sharded regime
    val edges = randomEdges(300, 8000, 97L)
    val e = df(edges)
    val (got, sites) = underGate(Long.MaxValue) {
      FastBatch.enumerateAgg(e, Planner.triangle, numParts = 4).collect()(0)
    }
    val full = BruteForce.enumerate(edges, Planner.triangle)
    assert(got.getLong(0) == full.size && got.getLong(1) == full.values.sum)
    assert(sites.nonEmpty)
    assert(!exchanged(sites), "the sharded regime ran under an unbounded gate")
  }

  test("rows that cancel or repeat across input partitions consolidate in both regimes") {
    // every edge of a random multigraph arrives as several rows, spread
    // round-robin over 4 input partitions: duplicates, a cancelling pair
    // (+3, -3) and a negative row per edge, so no partition alone holds
    // any edge's net weight
    val base = randomEdges(40, 500, 101L)
    val rows = base.flatMap { case (s, d, w) =>
      Seq((s, d, w + 1), (s, d, 3L), (s, d, -3L), (s, d, -1L))
    } ++ Seq((100L, 101L, 4L), (100L, 101L, -4L), (101L, 102L, 5L), (101L, 102L, -5L))
    val e = df(rows).repartition(4)
    val placed = e.rdd.mapPartitionsWithIndex((pid, it) =>
      it.map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), pid))).collect()
    for (pair <- Seq((100L, 101L, 4L), (101L, 102L, 5L))) {
      val pids = placed.collect {
        case ((s, d, w), pid) if s == pair._1 && d == pair._2 && math.abs(w) == pair._3 => pid
      }
      assert(pids.distinct.length == 2, s"cancelling rows of $pair share a partition: $pids")
    }
    val expect = BruteForce.rows(BruteForce.enumerate(rows, Planner.triangle))
    bothRegimes { regime =>
      val got = sortedRows(FastBatch.enumerate(e, Planner.triangle, numParts = 4))
      assert(got == expect, s"regime=$regime")
    }
  }

  test("more raw rows than the gate but a consolidated count under it runs local") {
    val edges = randomEdges(60, 1500, 103L)
    // three rows per edge (w, w, -w): 3× the rows, same consolidated set
    val rows = edges.flatMap { case (s, d, w) => Seq((s, d, w), (s, d, w), (s, d, -w)) }
    val gate = consolidated(rows)
    assert(rows.size > gate)
    val (got, sites) = underGate(gate)(triangleAgg(df(rows).repartition(4)))
    assert(got == bruteAgg(rows))
    assert(collectedLocal(sites), "no local-index collect ran")
    assert(!exchanged(sites), "the sharded regime ran under the gate")
  }

  test("a gate-sized graph with every edge in one input partition runs local") {
    val edges = randomEdges(120, 4000, 107L)
    val gate = consolidated(edges)
    val e = df(edges).repartition(1)
    assert(e.rdd.getNumPartitions == 1)
    val (got, sites) = underGate(gate)(triangleAgg(e))
    assert(got == bruteAgg(edges))
    assert(collectedLocal(sites), "no local-index collect ran")
    assert(!exchanged(sites), "the sharded regime ran for a gate-sized graph")
  }

  test("a graph over the gate runs no local-index collect job") {
    val edges = randomEdges(120, 4000, 109L)
    val gate = consolidated(edges) - 1
    val (got, sites) = underGate(gate)(triangleAgg(df(edges).repartition(4)))
    assert(got == bruteAgg(edges))
    assert(exchanged(sites), "the sharded regime did not run over the gate")
    assert(!collectedLocal(sites), "the local index was collected over the gate")
  }
}
