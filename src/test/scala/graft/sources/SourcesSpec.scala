package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.plan.Planner

class SourcesSpec extends AnyFunSuite with SparkTestBase {

  test("edge text source: parses src dst [w], skips comments and blanks") {
    val dir = Files.createTempDirectory("graft_edges_txt")
    Files.writeString(dir.resolve("edges.txt"),
      """# comment line
        |1 2
        |2 3 5
        |
        |  3 1
        |# another
        |""".stripMargin)
    val got = EdgeTextSource.read(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 5L), (3L, 1L, 1L)))
  }

  test("edge text source streaming: file-per-trigger feeds the fast engine") {
    val in = Files.createTempDirectory("graft_edges_stream")
    // triangle 1-2-3 split across two files (second file completes it)
    Files.writeString(in.resolve("a.txt"), "1 2\n2 3\n# noise\n")
    Files.writeString(in.resolve("b.txt"), "1 3\n")
    val state = new graft.fast.FastGraphState(spark, Planner.triangle, numParts = 2)
    val cp = Files.createTempDirectory("graft_edges_cp").toString
    var total = 0L
    val q = EdgeTextSource.readStream(spark, in.toString)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val m = state.applyBatch(id, batch)
        total += m.collect().map(r => r.getLong(r.length - 1)).sum
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // exactly one directed triangle (1,2,3) regardless of file arrival split
    assert(total == 1L)
    state.close()
  }

  test("degree relabel preserves motif structure and densifies ids") {
    val edges = spark.createDataFrame(Seq(
      (10L, 20L), (10L, 30L), (20L, 30L), (30L, 99L), (99L, 10L)
    )).toDF("src", "dst")
    val relabeled = Layout.relabel(edges)
    val ids = relabeled.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids.subsetOf((0L until 4L).toSet)) // dense ids
    // graph isomorphic → same triangle count
    def triangles(e: org.apache.spark.sql.DataFrame) =
      graft.fast.FastBatch.enumerateAgg(e, Planner.triangle).first().getLong(1)
    assert(triangles(edges) == triangles(relabeled))
    // hubs first: node 10 and 30 have degree 3 → new ids 0 and 1
    val dict = Layout.degreeDict(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(Set(dict(10L), dict(30L)) == Set(0L, 1L))
  }

  test("dense rank: zipWithIndex path == window path, and has no Window node") {
    val rnd = new scala.util.Random(73L)
    val edges = spark.createDataFrame(
      (0 until 800).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    ).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    // windowMaxRows = 0 forces the large-input (zipWithIndex) plan
    val small = Layout.degreeDict(edges)
    val large = Layout.degreeDict(edges, windowMaxRows = 0L)
    assert(rows(large) == rows(small))
    assert(!large.queryExecution.executedPlan.toString.contains("Window"),
      "large-input rank plan must not contain a global Window")
    assert(rows(Layout.relabel(edges, windowMaxRows = 0L)) == rows(Layout.relabel(edges)))
    // same switch behind the transcript dictionaries
    val t = spark.createDataFrame(
      (0 until 100).map(i => (s"conv$i", s"tool${i % 17}"))).toDF("conv_id", "tool")
    val dSmall = graft.transcripts.TranscriptEdges.denseDict(t, "tool", 1000L)
    val dLarge = graft.transcripts.TranscriptEdges.denseDict(t, "tool", 1000L, windowMaxRows = 0L)
    assert(rows(dLarge) == rows(dSmall))
  }

  test("z-order key == bit-interleave mirror, bijective on the grid") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mirror(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
    val pairs = for (a <- 0L until 40L; b <- 0L until 40L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        expr(Layout.zOrderSql("a", "b", bits = 6)).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == mirror(a, b, 6), s"($a,$b)")
    }
    // interleaving is injective: 1600 distinct keys for 1600 grid points
    assert(got.values.toSet.size == pairs.size)
  }
}
