package graft.fast

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.{BruteForce, SparkTestBase}
import graft.plan.Planner

/** Property-based (SURVEY.md §5.4): random small graphs + random batch
  * splits + random deletions → cumulative incremental deltas equal the
  * brute-force enumeration, and full retraction returns to zero. Cases are drawn
  * from ScalaCheck generators under fixed seeds (each case runs a full
  * Spark pipeline, so we sample a handful deterministically). */
class PropertySpec extends AnyFunSuite with SparkTestBase {

  val genCase: Gen[(Seq[(Long, Long)], Seq[Int], Long)] = for {
    n <- Gen.choose(6, 16)
    m <- Gen.choose(n, 4 * n)
    seed <- Gen.choose(0L, 10000L)
  } yield {
    val r = new scala.util.Random(seed)
    val edges = (0 until m).map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val nDel = r.nextInt(edges.size / 2 + 1)
    val dels = r.shuffle(edges.indices.toList).take(nDel)
    (edges, dels, seed)
  }

  def check(edges: Seq[(Long, Long)], delIdx: Seq[Int], seed: Long,
            motif: Seq[(Int, Int)]): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(seed ^ 0xabcdef)
    val ops: Seq[(Long, Long, Long)] =
      edges.map(e => (e._1, e._2, 1L)) ++ delIdx.map(i => (edges(i)._1, edges(i)._2, -1L))
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Long)]]()
    var rest = ops
    while (rest.nonEmpty) {
      val k = 1 + r.nextInt(math.min(rest.size, 9))
      batches += rest.take(k); rest = rest.drop(k)
    }
    val state = new FastGraphState(spark, motif, None, maxTail = 3)
    var cumulative = 0L
    for ((b, i) <- batches.zipWithIndex)
      cumulative += BruteForce.total(state.applyBatch(i.toLong, b.toDF("src", "dst", "w")))
    state.close()
    val expect = BruteForce.enumerate(ops, motif).values.sum
    assert(cumulative == expect,
      s"edges=${edges.size} dels=${delIdx.size} seed=$seed motif=$motif: $cumulative != $expect")
  }

  test("incremental == batch under random splits and deletions (triangle)") {
    for (i <- 0 until 4) {
      val (e, d, s) = genCase(Gen.Parameters.default, Seed(42L + i)).get
      check(e, d, s, Planner.triangle)
    }
  }

  test("incremental == batch under random splits and deletions (cycle3)") {
    for (i <- 0 until 2) {
      val (e, d, s) = genCase(Gen.Parameters.default, Seed(1042L + i)).get
      check(e, d, s, Planner.cycle3)
    }
  }
}
