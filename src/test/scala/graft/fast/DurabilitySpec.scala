package graft.fast

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.BruteForce.total
import graft.plan.Planner

/** Durable-state recovery: a FastGraphState rebuilt from its stateDir
  * continues exactly where the old one stopped — replayed ids are no-ops,
  * new batches produce the same deltas an uninterrupted run would. */
class DurabilitySpec extends AnyFunSuite with SparkTestBase {

  def df(edges: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    edges.toDF("src", "dst", "w")
  }

  val k4: Seq[(Long, Long, Long)] =
    Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L), (1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L))

  test("recover mid-stream: same totals as uninterrupted run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString
    val batches = k4.grouped(2).toSeq

    // uninterrupted reference run
    val ref = new FastGraphState(spark, Planner.triangle, None, maxTail = 2)
    val refTotals = batches.zipWithIndex.map { case (b, i) =>
      total(ref.applyBatch(i.toLong, df(b)))
    }
    ref.close()

    // durable run, killed after batch 1
    val s1 = new FastGraphState(spark, Planner.triangle, Some(dir), maxTail = 2)
    val t0 = total(s1.applyBatch(0L, df(batches(0))))
    val t1 = total(s1.applyBatch(1L, df(batches(1))))
    // no close/flush — simulate crash by abandoning s1
    val s2 = new FastGraphState(spark, Planner.triangle, Some(dir), maxTail = 2)
    assert(s2.lastBatchId == 1L)
    // replay of batch 1 (as a restarted stream would) is a no-op
    assert(s2.applyBatch(1L, df(batches(1))).collect().isEmpty)
    val t2 = total(s2.applyBatch(2L, df(batches(2))))
    assert(Seq(t0, t1, t2) == refTotals)
    s1.close(); s2.close()
  }

  test("recover after compaction version bump") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state2").toString
    val s1 = new FastGraphState(spark, Planner.triangle, Some(dir), maxTail = 1)
    s1.applyBatch(0L, df(k4.take(3).map(e => (e._1, e._2, 1L))))
    s1.applyBatch(1L, df(k4.drop(3).map(e => (e._1, e._2, 1L)))) // forces compact of batch 0
    val s2 = new FastGraphState(spark, Planner.triangle, Some(dir), maxTail = 1)
    assert(s2.lastBatchId == 1L)
    val edges = s2.edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(edges == k4.toSet)
    s1.close(); s2.close()
  }

  test("initialize preload is recovered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state3").toString
    val s1 = new FastGraphState(spark, Planner.triangle, Some(dir))
    s1.initialize(df(k4.take(5)))
    val s2 = new FastGraphState(spark, Planner.triangle, Some(dir))
    val m = s2.applyBatch(0L, df(k4.drop(5)))
    // adding (2,3) to K4-minus-one-edge completes triangles (0,2,3),(1,2,3)
    assert(total(m) == 2L)
    s1.close(); s2.close()
  }
}
