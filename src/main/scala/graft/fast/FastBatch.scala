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
  * TWO execution regimes, chosen by consolidated edge count (the same
  * deliberate size-gated strategy pick as Catalyst's broadcast-vs-shuffle
  * join decision):
  *  - `|E| <= localIndexMaxEdges`: the FULL adjacency index is built once
  *    driver-side and broadcast; every seed partition runs the whole
  *    count/propose/intersect pipeline locally with ZERO exchanges
  *    ([[DeltaEngine.enumerateLocalRows]]). Removes the per-hop packed
  *    shuffles entirely (guide §2.4/§3.1).
  *  - above the gate: the node-sharded exchange pipeline (hub keys served
  *    from a broadcast hot replica with content-hash scatter routing) —
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
    * pipeline (~32 bytes/edge of index both directions, plus the collected
    * seed array — the default 4M edges is ~128 MB of broadcast index, the
    * same order as a generous autoBroadcastJoinThreshold). Above it the
    * node-sharded exchange pipeline serves. Env-overridable for deployments
    * with more (or less) executor headroom; settable in-process for specs. */
  @volatile var localIndexMaxEdges: Long =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_INDEX_EDGES", "4000000").toLong

  /** Consolidate → gate on |E| → dispatch: `local` runs against the full
    * broadcast index (seeds = the consolidated edges, stride-reordered so
    * every slice samples the whole hash-ordered set — cheap insurance
    * against hub-clustered slices); `sharded` is the exchange pipeline. */
  private def run[T](edges: DataFrame, motif: Seq[(Int, Int)],
                     predicates: Seq[Pred], numParts: Int, hotKeys: Int)
                    (local: (DeltaEngine, Broadcast[DeltaEngine.HotMap],
                             RDD[(Long, Long, Long)]) => T)
                    (sharded: (DeltaEngine, RDD[Shard.T], DeltaEngine.HotProvider,
                               Broadcast[DeltaPack], RDD[(Long, Long, Long)]) => T): T = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val parts = if (numParts > 0) numParts else sc.defaultParallelism
    val engine = new DeltaEngine(motif, predicates, parts)
    val e = EdgeIndex.consolidate(edges).select("src", "dst", "w").rdd
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // read the gate once, clamped to the JVM's array-size limit: the packed
    // seed arrays below hold up to `gate` edges, and 2 × gate must not wrap
    val gate = localIndexMaxEdges.max(0L).min(Int.MaxValue - 8L)
    // ONE gate-and-collect job for the local regime: each partition packs
    // its edges into PRIMITIVE long arrays (no per-tuple boxing through the
    // collect) up to a per-partition cap of 2× the gate's fair share — the
    // driver-OOM bound the old count-before-collect protected (driver
    // receives ≤ 2 × localIndexMaxEdges edges ≈ 2× the budget, never an
    // unbounded graph). A partition that hits its cap stops consuming and
    // reports truncation; truncation OR a total above the gate falls back
    // to the sharded pipeline, whose shuffle files from this pass are
    // reused (only post-shuffle map work recomputes). Saves the separate
    // persist+count job — measured as part of the ~1-1.5 s of
    // core-count-independent driver time on every local-regime query.
    val packedTry =
      if (engine.numAttrs >= 3) {
        val capPer = (2L * gate /
          math.max(1, e.getNumPartitions) + 1024L).min(Int.MaxValue.toLong).toInt
        e.mapPartitions { it =>
          var n = 0
          var cap = math.min(1 << 10, capPer)
          var a = new Array[Long](cap); var b = new Array[Long](cap); var c = new Array[Long](cap)
          while (n < capPer && it.hasNext) {
            val t = it.next()
            if (n == cap) {
              cap = math.min(cap << 1, capPer)
              a = java.util.Arrays.copyOf(a, cap)
              b = java.util.Arrays.copyOf(b, cap)
              c = java.util.Arrays.copyOf(c, cap)
            }
            a(n) = t._1; b(n) = t._2; c(n) = t._3; n += 1
          }
          Iterator.single((java.util.Arrays.copyOf(a, n),
            java.util.Arrays.copyOf(b, n), java.util.Arrays.copyOf(c, n), it.hasNext))
        }.collect()
      } else Array.empty[(Array[Long], Array[Long], Array[Long], Boolean)]
    val cnt = packedTry.iterator.map(_._1.length.toLong).sum
    if (engine.numAttrs >= 3 && !packedTry.exists(_._4) && cnt <= gate) {
      // serve the seed list from ONE broadcast of the packed arrays —
      // tasks receive a (partition-id, stride) recipe instead of a
      // serialized slice of boxed tuples (guide §2.6/Amdahl: at 1.1M edges
      // the boxed collect + per-task tuple serialization were ~1s of
      // core-count-independent time on every local-regime query)
      val packed = packedTry
      val total = cnt.toInt
      val sa = new Array[Long](total); val da = new Array[Long](total); val wa = new Array[Long](total)
      var off = 0
      packed.foreach { case (a, b, c, _) =>
        System.arraycopy(a, 0, sa, off, a.length)
        System.arraycopy(b, 0, da, off, b.length)
        System.arraycopy(c, 0, wa, off, c.length)
        off += a.length
      }
      val hot = sc.broadcast(DeltaEngine.buildFullIndexPacked(sa, da, wa))
      val seedsB = sc.broadcast((sa, da, wa))
      // strided read: slice r samples the whole hash-scattered order (cheap
      // insurance against hub-clustered slices), directly off the broadcast
      val nParts = parts
      val seeds = sc.parallelize(0 until nParts, nParts).mapPartitions { pit =>
        pit.flatMap { r =>
          val (ss, ds, ws) = seedsB.value
          new Iterator[(Long, Long, Long)] {
            private var i = r
            override def hasNext: Boolean = i < ss.length
            override def next(): (Long, Long, Long) = {
              val t = (ss(i), ds(i), ws(i)); i += nParts; t
            }
          }
        }
      }
      try local(engine, hot, seeds)
      finally { hot.unpersist(false); seedsB.unpersist(false) }
    } else {
      // sharded regime: persist the consolidated set (it feeds BOTH the
      // shard build and the seed stream); the gate attempt's shuffle files
      // are reused, so this materialization skips the map stages
      e.persist()
      val shards = engine.buildShards(e).persist()
      shards.count()
      val hotK = if (hotKeys >= 0) hotKeys else 8 * parts
      val hot = sc.broadcast(DeltaEngine.buildHot(shards, hotK))
      val dp = sc.broadcast(DeltaPack.empty)
      try sharded(engine, shards, DeltaEngine.BcastHot(hot), dp, e)
      finally {
        shards.unpersist(false); e.unpersist(false)
        hot.unpersist(false); dp.unpersist(false)
      }
    }
  }

  /** Full enumeration: (x0..x{k-1}, w), each binding exactly once. */
  def enumerate(edges: DataFrame, motif: Seq[(Int, Int)],
                predicates: Seq[Pred] = Nil, numParts: Int = -1,
                hotKeys: Int = -1): DataFrame = {
    // LOCAL regime: returned LAZILY — the full-index broadcast re-serves any
    // later consumption (an unpersisted TorrentBroadcast re-fetches from the
    // driver-held value), so a consumer that counts once pays ONE pipeline
    // pass instead of materialize-millions-of-rows + rescan. SHARDED regime
    // stays eager: its lineage reaches back through unpersisted shards.
    val rows = run(edges, motif, predicates, numParts, hotKeys) {
      (engine, hot, seeds) => engine.enumerateLocalRows(hot, seeds)
    } { (engine, shards, hot, dp, e) =>
      eager(engine.enumerateInternalRows(shards, hot, dp, e))
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
    } { (engine, shards, hot, dp, e) =>
      engine.enumerateInternalRows(shards, hot, dp, e)
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
    } { (engine, shards, hot, dp, e) => engine.enumerateAggRdd(shards, hot, dp, e) }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(Row(n, total)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total", org.apache.spark.sql.types.LongType))))
  }
}
