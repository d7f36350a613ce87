package graft.fast

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.{BruteForce, SparkTestBase}
import graft.BruteForce.total
import graft.plan.Planner

/** The reference's implicit core invariant: streaming the edge set through
  * the delta-query engine in any batch split yields, cumulatively, the
  * brute-force enumeration of every prefix (SURVEY.md §5.2) — and full
  * retraction returns every count to zero. */
class IncrementalSpec extends AnyFunSuite with SparkTestBase {

  def df(edges: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("src", "dst", "w")
  }

  def erdosRenyi(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    (0 until m).map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
  }

  /** Streams `batches` through a FastGraphState; asserts after EVERY batch
    * that cumulative deltas equal a brute-force enumeration of the prefix. */
  def checkIncremental(batches: Seq[Seq[(Long, Long, Long)]], motif: Seq[(Int, Int)],
                       maxTail: Int = 3, stateDir: Option[String] = None): Unit = {
    val state = new FastGraphState(spark, motif, stateDir, maxTail = maxTail)
    val seen = scala.collection.mutable.Map[Seq[Long], Long]()
    var applied = Seq.empty[(Long, Long, Long)]
    for ((batch, id) <- batches.zipWithIndex) {
      val matches = state.applyBatch(id.toLong, df(batch)).collect()
      for (row <- matches) {
        val key = (0 until row.length - 1).map(row.getLong)
        val w = row.getLong(row.length - 1)
        val nw = seen.getOrElse(key, 0L) + w
        if (nw == 0L) seen.remove(key) else seen(key) = nw
      }
      applied = applied ++ batch
      val expect = BruteForce.enumerate(applied, motif)
      assert(seen.toMap == expect,
        s"after batch $id: incremental ${seen.size} vs batch ${expect.size}")
    }
    state.close()
  }

  test("triangle: edge-at-a-time equals batch at every prefix (K4)") {
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    checkIncremental(k4.map(e => Seq((e._1, e._2, 1L))), Planner.triangle)
  }

  test("triangle: random batch splits on a random graph") {
    val edges = erdosRenyi(20, 110, 5).map(e => (e._1, e._2, 1L))
    val r = new scala.util.Random(99)
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Long)]]()
    var rest = edges
    while (rest.nonEmpty) {
      val k = 1 + r.nextInt(math.min(rest.size, 13))
      batches += rest.take(k); rest = rest.drop(k)
    }
    checkIncremental(batches.toSeq, Planner.triangle)
  }

  test("3-cycle and 4-clique: random splits") {
    val edges = erdosRenyi(14, 80, 31).map(e => (e._1, e._2, 1L))
    val batches = edges.grouped(17).toSeq
    checkIncremental(batches, Planner.cycle3)
    checkIncremental(batches, Planner.clique4)
  }

  test("retraction: inserting then deleting every edge returns to zero") {
    val edges = erdosRenyi(16, 70, 41).map(e => (e._1, e._2, 1L))
    val inserts = edges.grouped(20).toSeq
    val deletes = edges.map(e => (e._1, e._2, -1L)).grouped(15).toSeq
    checkIncremental(inserts ++ deletes, Planner.triangle)
  }

  test("duplicate insert then single delete keeps weight-1 edge") {
    val base = Seq((0L, 1L, 1L), (0L, 2L, 1L), (1L, 2L, 1L))
    val batches = Seq(base, Seq((0L, 1L, 1L)), Seq((0L, 1L, -1L)))
    checkIncremental(batches, Planner.triangle)
  }

  test("compaction boundaries do not change results (maxTail=1)") {
    // compaction rewrites the durable base, so it needs a stateDir
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val edges = erdosRenyi(18, 90, 53).map(e => (e._1, e._2, 1L))
    checkIncremental(edges.grouped(9).toSeq, Planner.triangle, maxTail = 1,
      stateDir = Some(dir))
  }

  test("replayed batch id is a no-op (exactly-once)") {
    val state = new FastGraphState(spark, Planner.triangle)
    val b0 = df(Seq((0L, 1L, 1L), (0L, 2L, 1L), (1L, 2L, 1L)))
    val m0 = state.applyBatch(0L, b0)
    assert(total(m0) == 1L)
    val replay = state.applyBatch(0L, b0)
    assert(replay.collect().isEmpty)
    assert(total(state.applyBatch(1L, df(Seq((2L, 0L, 1L))))) == 0L)
    state.close()
  }
}
