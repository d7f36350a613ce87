package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fast.FastBatch
import graft.gen.TranscriptGen
import graft.plan.Planner
import graft.streaming.MotifStream
import graft.transcripts.TranscriptEdges

/** End-to-end smoke drive of the streaming pipeline:
  * generate transcripts → write as N parquet chunks in event order →
  * readStream (one file per trigger) → AdjacencyDeltas → incremental WCO
  * triangle join → per-batch parquet sink, then cross-check the cumulative
  * match Z-set against a from-scratch batch enumeration, and exercise
  * restart-from-checkpoint halfway through.
  *
  * Usage: StreamSmoke <workDir> [nConvs] [turnsPerConv] [nTools]
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_smoke")
    val nConvs = if (args.length > 1) args(1).toInt else 40
    val turns = if (args.length > 2) args(2).toInt else 50
    val nTools = if (args.length > 3) args(3).toInt else 30
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-smoke")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dirIn = s"$work/in"; val dirOut = s"$work/out"
    val dirCp = s"$work/cp"; val dirState = s"$work/state"
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(work))

    // 1. deterministic transcripts, written as 8 chunks in arrival order
    val cfg = TranscriptGen.Config(nConvs, turns, nTools)
    val ts = TranscriptGen.generate(spark, cfg).toDF().cache()
    val nChunks = 8
    val chunked = ts.orderBy("turn_idx", "conv_id")
      .withColumn("chunk", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("turn_idx", "conv_id")) - 1)
        % nChunks)
    for (c <- 0 until nChunks)
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("overwrite").parquet(s"$dirIn/c=$c")
    // move into a flat streaming dir one file at a time order is not
    // guaranteed by the file source; fine for a smoke (Z-set is order-safe)

    val dict = TranscriptEdges.toolDict(ts).cache(); dict.count()

    def startPipeline() = {
      val stream = spark.readStream
        .schema(ts.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dirIn/c=*")
      MotifStream.start(stream, dict, "tool", Planner.triangle,
        watermarkDelay = "10 minutes", outDir = dirOut, checkpointDir = dirCp,
        stateDir = Some(dirState))
    }

    // 2. run half, stop mid-stream, restart from checkpoint
    val p1 = startPipeline()
    Thread.sleep(8000)
    p1.query.stop()
    println(s"[smoke] stopped after lastBatchId=${p1.state.lastBatchId}")
    val p2 = startPipeline()
    p2.query.processAllAvailable()
    p2.query.stop()
    println(s"[smoke] finished at lastBatchId=${p2.state.lastBatchId}")

    // 3. cumulative streamed matches vs batch recompute
    def consolidate(m: DataFrame): DataFrame =
      m.groupBy(m.columns.filter(_ != "w").map(col).toSeq: _*)
        .agg(sum("w").as("w")).filter(col("w") =!= 0L)
    def total(m: DataFrame): Long = m.agg(coalesce(sum("w"), lit(0L))).first().getLong(0)
    val streamedNet = consolidate(spark.read.parquet(s"$dirOut/batch=*"))
    val batchEdges = TranscriptEdges.toolToolEdges(ts).select("src", "dst", "w")
    val expected = FastBatch.enumerate(batchEdges, Planner.triangle)
    val sCount = total(streamedNet)
    val eCount = total(expected)
    val residual = consolidate(streamedNet.unionByName(
      expected.withColumn("w", -col("w")))).count()
    println(s"[smoke] streamed net matches=$sCount batch=$eCount residualRows=$residual")
    val verdict = if (residual == 0 && sCount == eCount && sCount > 0) "PASS" else "FAIL"
    println(s"[smoke] $verdict")
    spark.stop()
    if (verdict != "PASS") sys.exit(1)
  }
}
