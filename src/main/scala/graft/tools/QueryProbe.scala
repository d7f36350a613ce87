package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc timing probe: runs named SparkEntry queries against a testdata
  * dir and prints wall seconds + row counts (iteration harness for the
  * per-round bench; not part of the driver contract). */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq("wco_triangle")
    // mirror Bench.headlineQueries' warmup so rep1 doesn't carry the JVM's
    // compilation debt (same tiny fixture)
    locally {
      import org.apache.spark.sql.types._
      val rnd = new scala.util.Random(7L)
      val warmRows = (0 until 2000).map { _ =>
        org.apache.spark.sql.Row(rnd.nextInt(60).toLong, rnd.nextInt(60).toLong, 1L) }
      import scala.jdk.CollectionConverters._
      val warm = spark.createDataFrame(warmRows.asJava, StructType(Seq(
        StructField("src", LongType), StructField("dst", LongType),
        StructField("w", LongType))))
      graft.fast.FastBatch.enumerate(warm, graft.plan.Planner.triangle).count()
      ()
    }
    for (n <- names; r <- 1 to reps) {
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val cnt =
        if (n == "--entry") graft.SparkEntry.entry(spark).count()
        // K=2000 5-clique feasibility probe (the K5=900 graph is 52% dense
        // at sf0.1 — no engine can enumerate it; the K graph at 14% can)
        else if (n == "clique5_dense") graft.fast.FastBatch.enumerate(
          graft.SparkEntry.edges(spark, sfDir), graft.plan.Planner.clique5).count()
        else if (n == "jaccard_prof") {
          // phase timing of the ngram_jaccard_pairs entry's parts —
          // localCheckpoint() is EAGER, so each definition sits inside its
          // timer (an earlier version checkpointed untimed and the labels
          // lied)
          import org.apache.spark.sql.functions._
          val docs2 = graft.TrainingQueries.docs2(spark, sfDir)
          def t[T](label: String)(f: => T): T = {
            val t0 = System.nanoTime(); val r = f
            println(f"[probe]   $label: ${(System.nanoTime() - t0) / 1e9}%.1fs"); r
          }
          // mirror Dedup.invIndex: spread + token-array projection boundary
          val sh = docs2.repartition(
              spark.sparkContext.defaultParallelism, col("doc_id"))
            .select(col("doc_id").as("id"),
              graft.text.TextOps.tokens(col("text")).as("_t"))
            .select(col("id"),
              graft.dedup.Dedup.shinglesOfTokens(col("_t"), 3).as("sh"))
            .withColumn("nsh", size(col("sh")).cast("long"))
          val inv = t("inv build+checkpoint") {
            sh.select(col("id"), col("nsh"), explode(col("sh")).as("s"))
              .localCheckpoint()
          }
          val dfc = t("dfc agg+checkpoint") {
            inv.groupBy("s").agg(count(lit(1)).as("_df")).localCheckpoint()
          }
          t("stats scalar aggs") {
            dfc.agg(sum("_df"), sum(col("_df").cast("double") * col("_df")),
              count(lit(1))).collect()
            inv.agg(count_distinct(col("id"))).collect()
          }
          t("stats heavy-frac pass") {
            inv.join(dfc.where(col("_df") > 16).select("s"), Seq("s"))
              .where(col("nsh") > 0L)
              .groupBy("id").agg((count(lit(1)).cast("double") / first(col("nsh"))).as("hf"))
              .agg(coalesce(sum("hf"), lit(0.0))).collect()
          }
          t("candidate join+agg") {
            val a = inv.select(col("id").as("id_a"), col("nsh").as("na"), col("s"))
            val b = inv.select(col("id").as("id_b"), col("nsh").as("nb"), col("s"))
            a.join(b, "s").where(col("id_a") < col("id_b"))
              .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("inter"))
              .withColumn("jaccard",
                col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
              .where(col("jaccard") >= 0.5).count()
          }
        }
        else if (n == "triangle_prof") {
          // phase-level split of the broadcast-local WCO build: where do the
          // seconds of FastBatch's "build" go for a 557K-edge graph?
          def t[T](label: String)(f: => T): T = {
            val t0 = System.nanoTime(); val r = f
            println(f"[probe]   $label: ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
          }
          val e0 = graft.SparkEntry.edges(spark, sfDir)
          val cons = t("consolidate+rdd+persist+count") {
            val e = graft.fast.EdgeIndex.consolidate(e0).select("src", "dst", "w").rdd
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).persist()
            e.count(); e
          }
          val all = t("collect")(cons.collect())
          cons.unpersist(false)
          val idx = t("buildFullIndex")(graft.fast.DeltaEngine.buildFullIndex(all.iterator))
          val hot = t("broadcast")(spark.sparkContext.broadcast(idx))
          val seeds = spark.sparkContext.parallelize(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(all), cpus.toInt)
          val eng = new graft.fast.DeltaEngine(graft.plan.Planner.triangle, Nil, cpus.toInt)
          val agg = t("enumerateLocalAgg")(eng.enumerateLocalAgg(hot, seeds))
          println(s"[probe]   agg=$agg")
          hot.unpersist(false)
          all.length.toLong
        }
        else if (n == "clique5_dense_count") {
          val r = graft.fast.FastBatch.enumerateAgg(
            graft.SparkEntry.edges(spark, sfDir), graft.plan.Planner.clique5).collect()(0)
          println(s"[probe] clique5_dense_count total=${r.getLong(0)}")
          1L
        }
        else graft.SparkEntry.queries(n)(spark, sfDir).count()
      println(f"[probe] $n rep$r: ${(System.nanoTime() - t0) / 1e9}%.1fs ($cnt rows)")
      // mirror Bench's per-rep hygiene: release blocks pinned by this rep
      val persistedAfter = spark.sparkContext.getPersistentRDDs
      (persistedAfter.keySet -- persistedBefore).foreach(id =>
        persistedAfter(id).unpersist(false))
    }
    spark.stop()
  }
}
