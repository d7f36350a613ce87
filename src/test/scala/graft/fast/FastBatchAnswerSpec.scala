package graft.fast

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.{BruteForce, SparkTestBase}
import graft.BruteForce.total
import graft.plan.Planner

/** Fixed-answer cases for the batch engine, each run in both regimes: the
  * broadcast-local pipeline and the node-sharded exchange pipeline (gate
  * closed). Random graphs are cross-checked against brute-force Spark-SQL
  * self-joins (the reference's naive-vs-dataflow check, naive/README.md). */
class FastBatchAnswerSpec extends AnyFunSuite with SparkTestBase {

  def edgesDF(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }

  /** Runs `body` in the local regime, then with the gate at 0 (sharded). */
  def bothRegimes(body: String => Unit): Unit = {
    body("local")
    val saved = FastBatch.localIndexMaxEdges
    try {
      FastBatch.localIndexMaxEdges = 0L
      body("sharded")
    } finally FastBatch.localIndexMaxEdges = saved
  }

  def count(edges: Seq[(Long, Long)], motif: Seq[(Int, Int)]): Long =
    total(FastBatch.enumerate(edgesDF(edges), motif))

  /** Brute-force motif bindings via an n-way SQL self-join. */
  def sqlOracle(edges: DataFrame, motif: Seq[(Int, Int)]): Set[Seq[Long]] = {
    edges.createOrReplaceTempView("e_oracle")
    val n = motif.flatMap(e => Seq(e._1, e._2)).max + 1
    val joins = motif.indices.map(i => s"e_oracle e$i").mkString(", ")
    // bind attrs via the first relation touching them
    val binder = scala.collection.mutable.Map[Int, String]()
    motif.zipWithIndex.foreach { case ((s, d), i) =>
      if (!binder.contains(s)) binder(s) = s"e$i.src"
      if (!binder.contains(d)) binder(d) = s"e$i.dst"
    }
    val sel = (0 until n).map(a => s"${binder(a)} AS x$a").mkString(", ")
    val where = motif.zipWithIndex.flatMap { case ((s, d), i) =>
      Seq(s"e$i.src = ${binder(s)}", s"e$i.dst = ${binder(d)}")
    }.distinct.mkString(" AND ")
    spark.sql(s"SELECT DISTINCT $sel, CAST(1 AS BIGINT) AS w FROM $joins WHERE $where")
      .collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet
  }

  def compareSql(edges: Seq[(Long, Long)], motif: Seq[(Int, Int)]): Unit = {
    val want = sqlOracle(edgesDF(edges), motif)
    bothRegimes { regime =>
      val got = BruteForce.rowsOf(FastBatch.enumerate(edgesDF(edges), motif)).toSet
      assert(got == want, s"motif $motif on ${edges.size} edges, $regime: " +
        s"got ${got.size} want ${want.size}")
    }
  }

  val k4: Seq[(Long, Long)] =
    Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
  val cycle3Edges: Seq[(Long, Long)] = Seq((0L, 1L), (1L, 2L), (2L, 0L))
  val diamond: Seq[(Long, Long)] = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L))

  def erdosRenyi(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    (0 until m).map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
  }

  def weighted(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] =
    edges.map(e => (e._1, e._2, 1L))

  test("K4: 4 directed triangles, 1 four-clique") {
    bothRegimes { regime =>
      assert(count(k4, Planner.triangle) == 4L, regime)
      assert(count(k4, Planner.clique4) == 1L, regime)
      assert(count(k4, Planner.cycle3) == 0L, regime)
    }
  }

  test("cycle3: 3 cyclic bindings, 0 a<b<c triangles") {
    bothRegimes { regime =>
      assert(count(cycle3Edges, Planner.cycle3) == 3L, regime)
      assert(count(cycle3Edges, Planner.triangle) == 0L, regime)
    }
  }

  test("diamond: 1 directed four-cycle binding set, 0 triangles") {
    // cycle4 = (0,1),(1,2),(2,3),(3,0); the diamond has 0→1→3 and 0→2→3,
    // no directed 4-cycle, so the oracle cross-check pins the empty answer
    val want = BruteForce.rows(BruteForce.enumerate(weighted(diamond), Planner.cycle4))
    bothRegimes { regime =>
      assert(count(diamond, Planner.triangle) == 0L, regime)
      assert(BruteForce.rowsOf(FastBatch.enumerate(edgesDF(diamond), Planner.cycle4)) == want,
        regime)
    }
  }

  test("random graphs match SQL oracle: triangle") {
    compareSql(erdosRenyi(24, 120, 7), Planner.triangle)
    compareSql(erdosRenyi(40, 300, 11), Planner.triangle)
  }

  test("random graphs match SQL oracle: 3-cycle") {
    compareSql(erdosRenyi(24, 120, 13), Planner.cycle3)
  }

  test("random graphs match SQL oracle: 4-clique") {
    compareSql(erdosRenyi(16, 120, 17), Planner.clique4)
  }

  test("random graphs match SQL oracle: 4-cycle and clique-with-hat") {
    compareSql(erdosRenyi(18, 90, 19), Planner.cycle4)
    compareSql(erdosRenyi(12, 70, 23), Planner.cliqueHat)
  }

  test("duplicate edges consolidate: weight-2 edge doubles triangle weight") {
    val dup = k4 ++ Seq((0L, 1L)) // (0,1) now weight 2
    val want = BruteForce.rows(BruteForce.enumerate(weighted(dup), Planner.triangle))
    bothRegimes { regime =>
      val tri = FastBatch.enumerate(edgesDF(dup), Planner.triangle)
      // triangles through (0,1): (0,1,2) and (0,1,3) get weight 2; others 1
      assert(total(tri) == 6L, regime)
      assert(BruteForce.rowsOf(tri) == want, regime)
    }
  }

  test("5-clique on K6 yields C(6,5)... exactly the 6 ordered-by-attr bindings") {
    val k6 = for (a <- 0L until 6L; b <- a + 1 until 6L) yield (a, b)
    bothRegimes(regime => assert(count(k6, Planner.clique5) == 6L, regime))
  }

  test("6-clique via the generic planner on K7 (reference README.md:150-176 mode)") {
    val k7 = for (a <- 0L until 7L; b <- a + 1 until 7L) yield (a, b)
    bothRegimes { regime =>
      assert(count(k7, Planner.clique6) == 7L, regime) // C(7,6)
      // the count path agrees without materializing bindings
      val agg = FastBatch.enumerateAgg(edgesDF(k7), Planner.clique6).first()
      assert(agg.getLong(0) == 7L && agg.getLong(1) == 7L, regime)
    }
  }

  test("inline predicates: ordered clique4 = one canonical binding per clique") {
    val edges = erdosRenyi(14, 110, 37L)
    val all = BruteForce.enumerate(weighted(edges), Planner.clique4).keys
    bothRegimes { regime =>
      val ordered = BruteForce.rowsOf(FastBatch.enumerate(edgesDF(edges), Planner.clique4,
        Planner.ordered(4))).map(_.init)
      assert(ordered.toSet == all.filter(b => b == b.sorted).toSet, regime)
      assert(ordered.nonEmpty && ordered.forall(b => b == b.sorted), regime)
    }
  }

  test("factorized count equals materialized count on random graphs") {
    for ((motif, seed) <- Seq((Planner.triangle, 41L), (Planner.clique4, 43L))) {
      val edges = erdosRenyi(18, 140, seed)
      val want = BruteForce.enumerate(weighted(edges), motif)
      bothRegimes { regime =>
        val full = count(edges, motif)
        val agg = FastBatch.enumerateAgg(edgesDF(edges), motif).first()
        assert(full == want.values.sum, s"motif=$motif $regime")
        assert(agg.getLong(0) == want.size && agg.getLong(1) == full, s"motif=$motif $regime")
      }
    }
  }

  test("static-index streamed queries (q3-lean mode)") {
    val queries = edgesDF(Seq((0L, 1L)))
    bothRegimes { regime =>
      val res = FastBatch.queryStatic(queries, edgesDF(k4), Planner.triangle)
      // (0,1) extends to triangles (0,1,2) and (0,1,3)
      assert(BruteForce.rowsOf(res) == Seq(Seq(0L, 1L, 2L, 1L), Seq(0L, 1L, 3L, 1L)), regime)
    }
  }
}
