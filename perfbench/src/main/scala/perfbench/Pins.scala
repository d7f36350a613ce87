package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
import graft.SparkEntry
import graft.transcripts.TranscriptEdges
import graft.plan.Planner

/** Derives `expected.json` for [[Workloads.DefaultSeed]] without the fast
  * engine: per-batch stream match changes from the brute-force
  * [[Oracle.triangleDeltas]], batch counts from Spark SQL self-joins.
  * Run with `python3 perfbench/run.py --derive-pins`. */
object Pins {
  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(0)).toAbsolutePath
    val out = Paths.get(argv(1)).toAbsolutePath
    val seed = Workloads.DefaultSeed
    val spark = SparkSession.builder().master(s"local[${Main.cores}]").appName("perfbench-pins")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", Main.cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def stream(w: StreamWorkload): (String, Any) = {
      val fx = Fixtures.relabel(Fixtures.transcriptStream(spark, work, w.convs, w.turns, w.tools, seed),
        TranscriptEdges.toolBase, w.tools, seed)
      val preN = (fx.size * w.preloadShare).toInt
      val preload = fx.slice(0, preN)
      val per = Oracle.triangleDeltas(w.tools, TranscriptEdges.toolBase, preload,
        w.batches(preload, fx.slice(preN, fx.size)))
      per.zipWithIndex.foreach { case (p, i) => System.out.println(s"[pins] ${w.name} batch $i: ${p._1} ${p._2}") }
      w.name -> Map("per_batch" -> per.map(p => Seq(p._1, p._2)))
    }

    def sqlCount(edges: DataFrame, sql: String): (Long, Long) = {
      edges.createOrReplaceTempView("e")
      val n = spark.sql(sql).collect()(0).getLong(0)
      (n, n)
    }
    val tri = "SELECT count(*) FROM e e1 JOIN e e2 ON e1.src = e2.src " +
      "JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst"
    val cyc = "SELECT count(*) FROM e e1 JOIN e e2 ON e2.src = e1.dst " +
      "JOIN e e3 ON e3.src = e2.dst AND e3.dst = e1.src"
    def k4(where: String) = "SELECT count(*) FROM e ab JOIN e ac ON ac.src = ab.src " +
      "JOIN e bc ON bc.src = ab.dst AND bc.dst = ac.dst JOIN e ad ON ad.src = ab.src " +
      "JOIN e bd ON bd.src = ab.dst AND bd.dst = ad.dst JOIN e cd ON cd.src = ac.dst AND cd.dst = ad.dst" + where

    val batch = {
      val dir = Fixtures.lineitem(spark, work, Batch.rows, seed).toString
      val e = SparkEntry.edges(spark, dir).persist()
      def c(g: DataFrame, q: String) = { val (n, t) = sqlCount(g, q); System.out.println(s"[pins] batch $n"); Seq(n, t) }
      val t = c(e, tri)
      val r = Fixtures.relabel(Fixtures.rmat(work, Batch.scale, Batch.draws, seed), 0L, 1 << Batch.scale, seed)
      val st = c(r.toDF(spark, Main.cores), tri)
      "batch" -> Map("wco_triangle" -> t, "wco_triangle_count" -> t, "wco_cycle3" -> c(e, cyc),
        "wco_clique4_ordered" -> c(e, k4(" WHERE ab.src < ab.dst AND ab.dst < ac.dst AND ac.dst < ad.dst")),
        "seed_k4_count" -> c(e, k4("")), "sharded.wco_triangle" -> st, "sharded.wco_triangle_count" -> st)
    }
    val pins = Seq("seed" -> seed,
      "derived_with" -> ("streams: Oracle.triangleDeltas (brute force over a dense weight matrix); " +
        "batch: Spark SQL self-joins over the generated graph"),
      batch, stream(StreamB1000), stream(StreamChurn))
    Files.writeString(out, Json.obj(pins: _*) + "\n")
    spark.stop()
  }
}
