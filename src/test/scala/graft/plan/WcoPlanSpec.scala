package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{BruteForce, SparkTestBase}
import graft.plan.Planner

/** Pins the Catalyst-integrated WCO operator: identical rows to the
  * brute-force oracle, the custom node visible at both plan levels, and
  * composition with operators above and below the node. */
class WcoPlanSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def randomEdges(n: Int, m: Long) = {
    val rows = (0 until n).map { i =>
      val h = graft.gen.TranscriptGen.splitmix64(515L + i)
      (math.abs(h) % m, math.abs(h >> 17) % m)
    }.filter(e => e._1 != e._2).distinct
    rows.toDF("src", "dst")
  }

  private def oracle(edges: org.apache.spark.sql.DataFrame) = BruteForce.enumerate(
    edges.as[(Long, Long)].collect().toSeq.map(e => (e._1, e._2, 1L)), Planner.triangle)

  test("plan-integrated triangles == brute-force oracle") {
    val edges = randomEdges(3000, 60L)
    val viaPlan = BruteForce.rowsOf(Wco.triangles(edges))
    assert(viaPlan.nonEmpty && viaPlan == BruteForce.rows(oracle(edges)))
  }

  test("the node is a plan citizen: visible in EXPLAIN, composes above/below") {
    val edges = randomEdges(2000, 50L)
    val q = Wco.triangles(edges.where(col("src") < 40L)) // below: child filter
      .where(col("x0") % 2 === 0) // above: plain Catalyst filter on output
      .groupBy("x0").agg(count(lit(1)).as("n_tri"))
    assert(q.queryExecution.analyzed.toString.contains("TriangleEnumerate"))
    val phys = q.queryExecution.executedPlan.toString
    // physical nodes print with the Exec suffix stripped; "!" would mark
    // an invalid (missing-input) node
    assert(phys.contains("TriangleEnumerate") && !phys.contains("!TriangleEnumerate"),
      s"expected a valid planned TriangleEnumerate node:\n$phys")
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = oracle(edges.where(col("src") < 40L)).keys.toSeq
      .filter(_.head % 2 == 0).groupMapReduce(_.head)(_ => 1L)(_ + _)
    assert(got == expect && got.nonEmpty)
  }

  private val triangleSql =
    """SELECT e0.src AS x0, e0.dst AS x1, e1.dst AS x2
      |FROM E e0 JOIN E e1 ON e1.src = e0.src
      |          JOIN E e2 ON e2.src = e0.dst AND e2.dst = e1.dst""".stripMargin

  test("SQL rewrite: the canonical triangle self-join plans through the WCO node") {
    Wco.registerSqlRewrite(spark)
    val edges = randomEdges(2500, 55L)
    edges.createOrReplaceTempView("E_raw")
    spark.sql("SELECT DISTINCT src, dst FROM E_raw").createOrReplaceTempView("E")
    val q = spark.sql(triangleSql)
    assert(q.queryExecution.optimizedPlan.collectFirst {
      case t: TriangleEnumerate => t }.nonEmpty,
      s"rewrite must fire:\n${q.queryExecution.optimizedPlan}")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: the same SQL with the rewrite NOT firing (non-distinct legs)
    edges.distinct().createOrReplaceTempView("E_plain")
    val expect = spark.sql(triangleSql.replace(" E ", " E_raw "))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == expect)
  }

  test("SQL rewrite guards: non-set legs and non-triangle conditions stay joins") {
    Wco.registerSqlRewrite(spark)
    val edges = randomEdges(800, 40L)
    edges.createOrReplaceTempView("E_raw")
    spark.sql("SELECT DISTINCT src, dst FROM E_raw").createOrReplaceTempView("E")
    // legs without a distinct barrier: bag semantics, must NOT rewrite
    val bag = spark.sql(triangleSql.replace(" E ", " E_raw "))
    assert(bag.queryExecution.optimizedPlan.collectFirst {
      case t: TriangleEnumerate => t }.isEmpty, "bag-semantics legs must not rewrite")
    // 3-cycle condition shape: must NOT rewrite (different motif)
    val cyc = spark.sql(
      """SELECT e0.src AS x0, e1.src AS x1, e2.src AS x2
        |FROM E e0 JOIN E e1 ON e1.src = e0.dst
        |          JOIN E e2 ON e2.src = e1.dst AND e2.dst = e0.src""".stripMargin)
    assert(cyc.queryExecution.optimizedPlan.collectFirst {
      case t: TriangleEnumerate => t }.isEmpty, "cycle conditions must not rewrite")
  }

  test("rejects a child that is not (long, long)") {
    intercept[IllegalArgumentException] {
      Wco.triangles(Seq(("a", 1L)).toDF("src", "dst"))
    }
  }
}
