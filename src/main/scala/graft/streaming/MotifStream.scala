package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.fast.FastGraphState
import graft.model.EdgeDelta

/** End-to-end incremental motif pipeline over a streaming transcript frame:
  *
  *   transcripts →(watermark on ts)→ dictionary encode →
  *   [[AdjacencyDeltas]] (flatMapGroupsWithState, emits ±1 edge deltas,
  *   retracting bridged edges on late turns) →
  *   foreachBatch → [[FastGraphState]] delta-query step →
  *   idempotent per-batch parquet sink.
  *
  * Exactly-once: Structured Streaming's checkpoint gives deterministic batch
  * ids and replay; the sink overwrites `outDir/batch=<id>`; the state
  * skips already-absorbed ids and commits state metadata only after the sink
  * ran — so every batch's output lands exactly once even across restarts.
  * (The reference gets the same guarantee from timely epochs + probes,
  * /root/reference/examples/motif.rs:140-151.)
  */
object MotifStream {

  final case class Pipeline(state: FastGraphState, query: StreamingQuery)

  /** Starts the pipeline. `transcripts` must be a streaming DataFrame with
    * the input_hint schema; `dict` a static key→id frame for `attr`. Motif
    * state lives as sharded executor RDDs with constant per-batch driver
    * cost. */
  def start(
      transcripts: DataFrame,
      dict: DataFrame,
      attr: String,
      motif: Seq[(Int, Int)],
      watermarkDelay: String,
      outDir: String,
      checkpointDir: String,
      stateDir: Option[String] = None): Pipeline = {
    val state = new FastGraphState(transcripts.sparkSession, motif, stateDir)
    val deltas: Dataset[EdgeDelta] =
      AdjacencyDeltas.stream(
        AdjacencyDeltas.encode(
          transcripts.withWatermark("ts", watermarkDelay), dict, attr))
    val q = deltas.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[EdgeDelta], batchId: Long) =>
        state.applyBatch(batchId, batch.toDF().select("src", "dst", "w"),
          m => m.write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
        ()
      }
      .start()
    Pipeline(state, q)
  }
}
