package graft.fast

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Input normalization for the motif engine: raw weighted edge frames
  * (src,dst[,w]) into the consolidated Z-set every plan reads. */
object EdgeIndex {
  /** Consolidates a raw weighted edge frame (src,dst[,w]) into a Z-set:
    * sum weights per (src,dst), drop zeros (reference consolidation,
    * src/index.rs:197-219). */
  def consolidate(edges: DataFrame): DataFrame =
    norm(edges).groupBy("src", "dst").agg(sum("w").as("w")).filter(col("w") =!= 0L)

  /** (src,dst[,w]) → (src,dst,w) with long types and default weight +1. */
  def norm(edges: DataFrame): DataFrame = {
    val w = if (edges.columns.contains("w")) col("w").cast("long") else lit(1L)
    edges.select(col("src").cast("long"), col("dst").cast("long"), w.as("w"))
  }
}
