package graft.fast

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Input normalization for the motif engine: raw weighted edge frames
  * (src,dst[,w]) into the long-typed rows every plan reads. Consolidation
  * (sum weights per (src,dst), drop zeros — reference src/index.rs:197-219)
  * happens in the index build, [[DeltaEngine.buildAdjs]]. */
object EdgeIndex {
  /** (src,dst[,w]) → (src,dst,w) with long types and default weight +1. */
  def norm(edges: DataFrame): DataFrame = {
    val w = if (edges.columns.contains("w")) col("w").cast("long") else lit(1L)
    edges.select(col("src").cast("long"), col("dst").cast("long"), w.as("w"))
  }
}
