package graft.fast

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row
import graft.plan.Planner.Pred

/** Batch motif enumeration on the fast RDD engine — the driver-facing form
  * of [[DeltaEngine.enumerateInternalRows]]/[[DeltaEngine.enumerateAggRdd]].
  *
  * This is the static-index serving mode of the reference
  * (/root/reference/static_graph/src/lib.rs:73-137,
  * /root/reference/static_graph/examples/triangles.rs:27-39): build the
  * node-sharded adjacency index once, then run the full count → argmin →
  * propose → intersect pipeline with the WHOLE edge set as the distributed
  * seed stream. FastBatchSpec and FastBatchAnswerSpec pin its output to a
  * brute-force nested-loop enumeration in both regimes. The execution shape
  * is a fixed pipeline of packed-block exchanges against persisted shards,
  * not shuffle joins per extension level.
  *
  * Every query starts with one parallel pass from the raw rows: the
  * node-sharded index is built by [[DeltaEngine.buildShardsFromRows]]
  * (packed ≤256KB blocks per target partition, per-shard run build that
  * sums duplicates and drops zeros), so its forward runs ARE the
  * consolidated edge set and their total length is the exact |E|. That
  * count, read off the persisted shards, picks one of TWO execution
  * regimes (the same deliberate size-gated strategy pick as Catalyst's
  * broadcast-vs-shuffle join decision):
  *  - `|E| <= localIndexMaxEdges`: the shards are collected once into a
  *    [[LocalIndex]] (no driver sort) and broadcast once; every seed
  *    partition runs the whole count/propose/intersect pipeline locally
  *    with ZERO exchanges ([[DeltaEngine.enumerateLocalRows]]), seeded by
  *    a stride over the index's own forward runs.
  *  - above the gate: nothing is collected; the node-sharded exchange
  *    pipeline (hub keys served from a broadcast hot replica with
  *    content-hash scatter routing), seeded by the shards' forward runs —
  *    the form that scales past single-machine index memory.
  * Both regimes emit identical rows (FastBatchSpec pins local == sharded).
  *
  * Scale notes (sharded regime): state shards by node id across `numParts`
  * partitions; Zipf hubs are served from a broadcast hot replica with
  * content-hash scatter routing (no partition concentrates hub traffic);
  * ordered predicates are galloped into the sorted candidate runs at
  * propose time, so symmetry-broken queries never generate the discarded
  * candidates.
  *
  * SHARDED-regime results are materialized EAGERLY (localCheckpoint) so the
  * shards can be released before returning; those frames are backed by
  * pinned block-manager blocks until the backing RDD is GC'd.
  * LOCAL-regime results are LAZY: the broadcast index re-serves any
  * consumption, so a single count pays one pipeline pass and pins no row
  * blocks.
  */
object FastBatch {

  /** Max consolidated edge count served by the zero-exchange broadcast-local
    * pipeline (~32 bytes/edge of index both directions — the default 4M
    * edges is ~128 MB of broadcast index, the same order as a generous
    * autoBroadcastJoinThreshold). Above it the node-sharded exchange
    * pipeline serves. Env-overridable for deployments with more (or less)
    * executor headroom; settable in-process for specs. */
  @volatile var localIndexMaxEdges: Long =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_INDEX_EDGES", "4000000").toLong

  /** Raw rows → packed shard build → exact gate on |E| → dispatch: `local`
    * runs against the one broadcast [[LocalIndex]] (seeds = a stride over
    * its forward runs, so every slice samples the whole hash-ordered set —
    * cheap insurance against hub-clustered slices); `sharded` is the
    * exchange pipeline over the shards. The driver collects only after the
    * exact count has passed the gate. */
  private def run[T](edges: DataFrame, motif: Seq[(Int, Int)],
                     predicates: Seq[Pred], numParts: Int, hotKeys: Int)
                    (local: (DeltaEngine, Broadcast[LocalIndex], RDD[(Long, Long, Long)]) => T)
                    (sharded: (DeltaEngine, RDD[Shard.T], DeltaEngine.HotProvider,
                               Broadcast[DeltaPack], RDD[(Long, Long, Long)]) => T): T = {
    val sc = edges.sparkSession.sparkContext
    val parts = if (numParts > 0) numParts else sc.defaultParallelism
    val engine = new DeltaEngine(motif, predicates, parts)
    val shards = engine.buildShardsFromRows(EdgeIndex.norm(edges).queryExecution.toRdd).persist()
    try {
      val cnt = shards.map(_.valuesIterator.map(_.fwdVs.length.toLong).sum).fold(0L)(_ + _)
      if (engine.numAttrs >= 3 && cnt <= localIndexMaxEdges) {
        val index = sc.broadcast(LocalIndex.fromShards(shards))
        shards.unpersist(false) // the index holds every run from here on
        val seeds = sc.parallelize(0 until parts, parts)
          .mapPartitions(_.flatMap(r => index.value.seeds(r, parts)))
        try local(engine, index, seeds)
        finally index.unpersist(false)
      } else {
        val hotK = if (hotKeys >= 0) hotKeys else 8 * parts
        val hot = sc.broadcast(DeltaEngine.buildHot(shards, hotK))
        val dp = sc.broadcast(DeltaPack.empty)
        val seeds = shards.mapPartitions(_.flatMap(_.iterator.flatMap { case (k, a) =>
          a.fwdVs.indices.iterator.map(i => (k, a.fwdVs(i), a.fwdWs(i)))
        }))
        try sharded(engine, shards, DeltaEngine.BcastHot(hot), dp, seeds)
        finally { hot.unpersist(false); dp.unpersist(false) }
      }
    } finally shards.unpersist(false)
  }

  /** Full enumeration: (x0..x{k-1}, w), each binding exactly once. */
  def enumerate(edges: DataFrame, motif: Seq[(Int, Int)],
                predicates: Seq[Pred] = Nil, numParts: Int = -1,
                hotKeys: Int = -1): DataFrame = {
    // LOCAL regime: returned LAZILY — the local-index broadcast re-serves any
    // later consumption (an unpersisted TorrentBroadcast re-fetches from the
    // driver-held value), so a consumer that counts once pays ONE pipeline
    // pass instead of materialize-millions-of-rows + rescan. SHARDED regime
    // stays eager: its lineage reaches back through unpersisted shards.
    val rows = run(edges, motif, predicates, numParts, hotKeys) {
      (engine, hot, seeds) => engine.enumerateLocalRows(hot, seeds)
    } { (engine, shards, hot, dp, seeds) =>
      eager(engine.enumerateInternalRows(shards, hot, dp, seeds))
    }
    matchFrame(edges, motif, rows)
  }

  /** Static-index, streamed-queries mode (the reference's q3-lean /
    * static_graph serving shape, /root/reference/examples/q3-lean.rs:50-66):
    * `queries` (src,dst[,w]) are treated as relation 0's bindings and
    * extended against the index built from `edges` (pinned to the
    * brute-force oracle by FastBatchSpec); query rows are NOT consolidated
    * — each input row produces its own extensions, weights multiplying
    * through. */
  def queryStatic(queries: DataFrame, edges: DataFrame, motif: Seq[(Int, Int)],
                  predicates: Seq[Pred] = Nil, numParts: Int = -1,
                  hotKeys: Int = -1): DataFrame = {
    def q = EdgeIndex.norm(queries).rdd
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rows = run(edges, motif, predicates, numParts, hotKeys) {
      // the index seeds are ignored: relation 0's bindings are the query
      // rows themselves, extended against the broadcast index; lazy for
      // the same reason as enumerate's local branch
      (engine, hot, _) => engine.enumerateLocalRows(hot, q)
    } { (engine, shards, hot, dp, _) =>
      eager(engine.enumerateInternalRows(shards, hot, dp, q))
    }
    matchFrame(edges, motif, rows)
  }

  /** Materializes a sharded-regime result and cuts its lineage BEFORE the
    * shards it reads are unpersisted. */
  private def eager[T](out: RDD[T]): RDD[T] = {
    out.localCheckpoint()
    out.count()
    out
  }

  private def matchFrame(edges: DataFrame, motif: Seq[(Int, Int)],
                         rows: RDD[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    org.apache.spark.sql.graftbridge.GraftBridge.internalCreateDataFrame(edges.sparkSession,
      rows, FastGraphState.matchSchema(motif.flatMap(t => Seq(t._1, t._2)).max + 1))

  /** FULL-emission row count: every match row flows through the complete
    * enumeration pipeline — including the UnsafeRow emit — and is counted
    * per partition without retention. This is the effort-bounded-emission
    * stress harness: total output can exceed executor memory many times
    * over and the job must still complete (sharded regime: chunked
    * [[DeltaEngine.BoundedStage]] emission; local regime: per-seed
    * iterator emission). [[enumerateAgg]] is the fast path that SKIPS row
    * materialization; this deliberately does not. */
  def enumerateRowCount(edges: DataFrame, motif: Seq[(Int, Int)],
                        predicates: Seq[Pred] = Nil, numParts: Int = -1,
                        hotKeys: Int = -1): Long =
    run(edges, motif, predicates, numParts, hotKeys) {
      (engine, hot, seeds) =>
        engine.enumerateLocalRows(hot, seeds)
          .mapPartitions { it =>
            var n = 0L
            while (it.hasNext) { it.next(); n += 1 }
            Iterator.single(n)
          }
          .fold(0L)(_ + _)
    } { (engine, shards, hot, dp, seeds) =>
      engine.enumerateInternalRows(shards, hot, dp, seeds)
        .mapPartitions { it =>
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          Iterator.single(n)
        }
        .fold(0L)(_ + _)
    }

  /** Count-only enumeration: one row (n = distinct bindings, total = net
    * Z-set weight) without materializing any match. */
  def enumerateAgg(edges: DataFrame, motif: Seq[(Int, Int)],
                   predicates: Seq[Pred] = Nil, numParts: Int = -1,
                   hotKeys: Int = -1): DataFrame = {
    val spark = edges.sparkSession
    val (n, total) = run(edges, motif, predicates, numParts, hotKeys) {
      (engine, hot, seeds) => engine.enumerateLocalAgg(hot, seeds)
    } { (engine, shards, hot, dp, seeds) => engine.enumerateAggRdd(shards, hot, dp, seeds) }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(Row(n, total)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total", org.apache.spark.sql.types.LongType))))
  }
}
