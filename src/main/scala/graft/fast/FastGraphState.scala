package graft.fast

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq
import graft.plan.Planner.Pred

/** Incrementally-maintained motif state with CONSTANT per-batch driver cost.
  *
  * Exactly-once absorb, WAL before output, meta commit after sink,
  * compaction, lineage metrics and restart-from-stateDir. The state lives
  * as a persisted, hash-partitioned RDD of per-node adjacency shards and
  * the per-batch delta step is [[DeltaEngine]]'s fixed RDD pipeline — no
  * Catalyst planning in the loop. FastEngineSpec and IncrementalSpec pin
  * every batch's match delta to a brute-force nested-loop enumeration of
  * the graph before and after it.
  *
  * Scale design: state is sharded by node id across `numParts` partitions
  * (at cluster scale: ≥ executors × cores); the micro-batch delta is
  * broadcast (the streaming regime assumes |batch| ≪ |state|); prefixes
  * and proposals — the actual O(output) work — are exchanged between
  * shards exactly like the reference's timely workers. Lineage is
  * truncated with `localCheckpoint` every batch; durability comes from the
  * driver-side WAL + versioned base parquet, not RDD recompute.
  *
  * Layout under `stateDir`: `meta.json`, `base/v=N/` (parquet),
  * `wal/batch=N.bin` (24-byte-per-edge big-endian (src,dst,w) long triples,
  * fsync'd before any output), `metrics.jsonl`.
  */
final class FastGraphState(
    val spark: SparkSession,
    val motif: Seq[(Int, Int)],
    stateDir: Option[String] = None,
    numParts: Int = 0,
    maxTail: Int = 12,
    predicates: Seq[Pred] = Nil,
    lineageMetrics: Boolean = true,
    hotKeys: Int = -1,
    driverDegrees: Boolean = true,
    pipelineDepth: Int = 1,
    largeBatchThreshold: Int = 1 << 20,
    degMirrorMaxKeys: Long = 1L << 23) {

  private val sc = spark.sparkContext
  private val parts = if (numParts > 0) numParts else sc.defaultParallelism
  /** Size of the broadcast hot-hub replica (0 disables). */
  private val hotK = if (hotKeys >= 0) hotKeys else 8 * parts
  val engine = new DeltaEngine(motif, predicates, parts)

  private var shards: RDD[Shard.T] = engine.emptyShards(sc)
  /** Driver-held snapshot of the hottest keys' adjacency; replaced (never
    * mutated) per batch so in-flight references stay consistent. */
  private var hotAdj: DeltaEngine.HotMap = new DeltaEngine.HotMap()
  /** Hot-replica distribution state: the FULL replica is broadcast only at
    * (re)build/re-base time; per batch the executors fold the (already
    * broadcast) DeltaPack chain into their own cached copy — per-batch
    * broadcast bytes are independent of hub degree (see
    * [[DeltaEngine.ChainHot]]). */
  private val stateId = java.util.UUID.randomUUID().toString
  private var hotGen: Long = 0L
  private var hotBase: Broadcast[DeltaEngine.HotMap] = sc.broadcast(hotAdj)
  private var dpChain: Vector[Broadcast[DeltaPack]] = Vector.empty
  /** Driver-held EXACT signed-degree mirror (fwd, rev per key): folded from
    * the same DeltaPack degSums the shards fold, so the seed phase needs no
    * cluster job at all for its count stage. O(|V|) driver memory (16B/key)
    * — disable via `driverDegrees=false` for graphs whose key set outgrows
    * the driver; the engine then runs the seed phase fully distributed
    * (sharded degree lookup via the count-chain exchanges — one extra hop
    * per extender slot, no collect job, O(1) driver state). */
  private val degF = new java.util.HashMap[Long, java.lang.Long]()
  private val degR = new java.util.HashMap[Long, java.lang.Long]()
  /** The mirror is a BUDGETED accelerator, not an invariant: when the shard
    * key set outgrows `degMirrorMaxKeys` (~70 B/key of boxed driver heap),
    * the engine switches itself to the sharded-degree seed phase
    * (degFn=None → count-chain lookups, O(1) driver state) and never
    * rebuilds the mirror again. The switch only changes WHERE degrees are
    * read, never their values — FastEngineSpec pins result equality. */
  private var driverDegreesActive: Boolean = driverDegrees
  private def disableDriverDegrees(keys: Long): Unit = {
    driverDegreesActive = false
    degF.clear(); degR.clear()
    FastGraphState.log.warn(s"[fastgraph] driver degree mirror off ($keys keys > " +
      s"budget $degMirrorMaxKeys); sharded-degree seed phase active")
  }
  private def degFn: Option[(Long, Boolean) => Long] =
    if (!driverDegreesActive) None
    else Some((k, fwd) => {
      val v = (if (fwd) degF else degR).get(k)
      if (v == null) 0L else v.longValue()
    })
  private def foldDeg(m: java.util.HashMap[Long, java.lang.Long], k: Long, d: Long): Unit =
    if (d != 0L) {
      val cur = m.get(k)
      val next = (if (cur == null) 0L else cur.longValue()) + d
      if (next == 0L) m.remove(k) else m.put(k, java.lang.Long.valueOf(next))
    }
  private def foldDegMirror(dp: DeltaPack): Unit = if (driverDegreesActive) {
    dp.fwd.foreach { case (k, r) => foldDeg(degF, k, r.degSum) }
    dp.rev.foreach { case (k, r) => foldDeg(degR, k, r.degSum) }
    // the budget must bind on the HOT path too: a stream of small batches
    // that keeps minting new keys grows the mirror without ever passing
    // through a rebuild — check after every fold (HashMap.size is O(1))
    val sz = math.max(degF.size.toLong, degR.size.toLong)
    if (sz > degMirrorMaxKeys) disableDriverDegrees(sz)
  }
  /** Incremental mirror fold for the bulk path: per-touched-key degree
    * deltas (degree = Σw, [[DeltaPack.Run]].degSum semantics) aggregated
    * distributed and collected — O(|batch keys|) driver work, replacing the
    * round-4 full-state O(|V|) `rebuildDegMirror` collect per bulk batch. */
  private def foldDegMirrorDistributed(batch: RDD[(Long, Long, Long)]): Unit =
    if (driverDegreesActive) {
      batch.flatMap { case (s, d, w) => Iterator((s, (w, 0L)), (d, (0L, w))) }
        .reduceByKey((a: (Long, Long), b: (Long, Long)) => (a._1 + b._1, a._2 + b._2))
        .collect()
        .foreach { case (k, fr) => foldDeg(degF, k, fr._1); foldDeg(degR, k, fr._2) }
      val sz = math.max(degF.size.toLong, degR.size.toLong)
      if (sz > degMirrorMaxKeys) disableDriverDegrees(sz)
    }
  private def rebuildDegMirror(): Unit = if (driverDegreesActive) {
    // budget gate first: one cheap size job (no adjacency data moves)
    // decides whether an O(|V|) mirror is affordable at all
    val keys = shards.map(_.size.toLong).fold(0L)(_ + _)
    if (keys > degMirrorMaxKeys) { disableDriverDegrees(keys); return }
    degF.clear(); degR.clear()
    shards.flatMap(_.iterator.map { case (k, adj) => (k, adj.degFwd, adj.degRev) })
      .collect()
      .foreach { case (k, f, r) =>
        if (f != 0L) degF.put(k, java.lang.Long.valueOf(f))
        if (r != 0L) degR.put(k, java.lang.Long.valueOf(r))
      }
  }
  private var baseVersion: Long = 0L
  private var _lastBatchId: Long = -1L
  private var tailIds: Vector[Long] = Vector.empty
  /** Superseded shard RDDs tagged with the absorb sequence that replaced
    * them; unpersisted `retireLag` absorbs later. Lag = pipelineDepth + 1:
    * with k micro-batch jobs allowed in flight (see [[applyBatchStatsAsync]]),
    * the state read by the OLDEST in-flight job must survive until that job
    * has drained — dropping a localCheckpoint'ed RDD's blocks mid-job is
    * unrecoverable (its lineage was truncated by design). */
  private val retireLag = math.max(1, pipelineDepth) + 1
  private var retired: List[(Long, RDD[Shard.T])] = Nil
  private var absorbSeq: Long = 0L
  private var pendingBcast: List[Broadcast[_]] = Nil
  /** Persisted per-batch RDDs (distributed-absorb batches) still referenced
    * by the returned match frame; unpersisted on the next absorb. */
  private var pendingRdds: List[RDD[_]] = Nil
  /** Outstanding async stat jobs (see [[applyBatchStatsAsync]]): bounds the
    * pipelined window and lets close() drain before unpersisting state. */
  private val inflightStats =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.FutureAction[Seq[(Long, Long)]]]
  shards.persist(); shards.count()

  def lastBatchId: Long = _lastBatchId

  stateDir.foreach(recover)

  /** Bulk preload without emitting match deltas (reference
    * `Index::initialize`). Requires empty state. */
  def initialize(edges: DataFrame): Unit = {
    require(_lastBatchId == -1L && tailIds.isEmpty && baseVersion == 0L,
      "initialize requires empty state")
    val rdd = edges.select("src", "dst", "w").rdd
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    installShards(engine.buildShards(rdd))
    rebuildHot()
    rebuildDegMirror()
    stateDir.foreach { dir =>
      writeBase(dir)
      writeMeta(dir)
    }
  }

  /** (Re)selects the hot-hub replica: the `hotK` largest adjacencies by row
    * count. Runs at initialize / recover / compaction — hot-set membership
    * may drift between compactions (a perf heuristic only: membership never
    * affects results, because replica content is maintained exactly). */
  private def rebuildHot(): Unit = {
    hotAdj = DeltaEngine.buildHot(shards, hotK)
    rebaseHot()
  }

  /** Re-broadcasts the driver's current replica as the new chain base and
    * retires the old base + DeltaPack chain (unpersisted on the next
    * absorb, preserving the consume-before-next-applyBatch contract). */
  private def rebaseHot(): Unit = {
    pendingBcast = hotBase :: dpChain.toList ::: pendingBcast
    hotGen += 1
    hotBase = sc.broadcast(hotAdj)
    dpChain = Vector.empty
  }

  /** Installs the post-batch shards WITHOUT an eager materialization job:
    * the next batch's first job over the shards computes + caches them (one
    * cheap HAMT fold) and completes the localCheckpoint — saving one
    * scheduler round-trip per batch, which is real money at the batch=1000
    * latency floor. Consequence for unpersist discipline: the PREVIOUS
    * shards must stay alive until the new ones are materialized, i.e. until
    * the NEXT batch's job has run — so retirement is deferred two absorbs
    * (`retiringShards` → `pendingShards` → unpersist). */
  private def installShards(next: RDD[Shard.T], prepared: Boolean = false): Unit = {
    if (!prepared) {
      next.persist()
      next.localCheckpoint() // truncate lineage: recovery is WAL replay, not recompute
      // single-relation motifs never run a per-batch job over the shards
      // (seeds ARE the matches), so nothing would materialize `next` before
      // its ancestor retires — materialize eagerly in that case only
      if (engine.numAttrs == 2) next.count()
    }
    retired ::= (absorbSeq, shards)
    shards = next
  }

  /** Absorbs one micro-batch and returns consolidated match deltas
    * (x0..x{k-1}, w) as a DataFrame. Exactly-once: replayed batch ids
    * return empty without state change; `sink` runs before the absorb is
    * committed.
    *
    * Contract: consume (or persist) the
    * returned frame before the next `applyBatch` call — its plan reads the
    * pre-batch shard RDD, which is unpersisted on the next absorb. */
  def applyBatch(batchId: Long, deltas: DataFrame,
                 sink: DataFrame => Unit = _ => ()): DataFrame = {
    if (batchId <= _lastBatchId) return emptyMatches
    // threshold switch: a backfill/catch-up batch must not funnel through
    // the driver (collect + broadcast + O(|batch|) routing table). A bare
    // LocalRelation's row count is EXACT and free; for any other plan
    // `maxRows` is an UPPER BOUND and can only PROVE smallness — a filtered
    // LocalRelation reports its child's bound, and routing such a tiny
    // batch through the distributed path (shard rebuild + O(|V|) mirror
    // rebuild per batch) would silently cost orders of magnitude. When the
    // plan can't decide, ONE bounded collect does double duty: it both
    // sizes the batch and (when small) IS the driver-path collect — the
    // round-4 form ran a full count() job and then re-scanned the same
    // source in collectConsolidated, doubling every small parquet/stream-
    // sourced micro-batch's input scan. Driver exposure is bounded at
    // largeBatchThreshold+1 rows (~24 B each) even for a huge batch.
    val plan = deltas.queryExecution.optimizedPlan
    plan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.length > largeBatchThreshold => // exact, no job
        return applyBatchDistributed(batchId, deltas, sink)
      case _ =>
    }
    val provenSmall = plan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case p => p.maxRows.exists(_ <= largeBatchThreshold)
    }
    val arr =
      if (provenSmall) collectConsolidated(deltas)
      else collectConsolidated(deltas, limit = Some(largeBatchThreshold + 1))
    if (arr.length > largeBatchThreshold)
      return applyBatchDistributed(batchId, deltas, sink)
    val rdd = applyBatchRdd(batchId, arr, df => sink(df))
    toDF(rdd)
  }

  /** Distributed absorb for LARGE batches (backfill / catch-up): the batch
    * is consolidated, WAL'd (parquet, distributed write), folded into the
    * shards and delta-queried WITHOUT ever being materialized on the driver
    * — [[applyBatch]]'s collect + DeltaPack broadcast + per-seed routing
    * table are replaced by their distributed complements
    * ([[DeltaEngine.deltaStepDistributed]]). After the absorb the hot
    * replica, degree mirror and broadcast chain are rebuilt from the new
    * shards (amortized: this path is for batches that are a meaningful
    * fraction of the state). Exactly-once contract unchanged: WAL before
    * output, replayed ids are no-ops, meta commits after the sink. */
  def applyBatchDistributed(batchId: Long, deltas: DataFrame,
                            sink: DataFrame => Unit = _ => ()): DataFrame = {
    if (batchId <= _lastBatchId) return emptyMatches
    val w = if (deltas.columns.contains("w"))
      org.apache.spark.sql.functions.col("w").cast("long")
    else org.apache.spark.sql.functions.lit(1L)
    val raw = deltas.select(
        org.apache.spark.sql.functions.col("src").cast("long"),
        org.apache.spark.sql.functions.col("dst").cast("long"), w.as("w"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    toDF(absorbDistributed(batchId, raw, sink))
  }

  /** Shared distributed-absorb core over a raw (unconsolidated) edge RDD. */
  private def absorbDistributed(batchId: Long, raw: RDD[(Long, Long, Long)],
                                sink: DataFrame => Unit): RDD[(ArraySeq[Long], Long)] = {
    val t0 = System.nanoTime()
    absorbSeq += 1
    val (drop, keep) = retired.partition(_._1 <= absorbSeq - retireLag)
    drop.foreach(_._2.unpersist(false))
    retired = keep
    pendingBcast.foreach(_.unpersist(false)); pendingBcast = Nil
    pendingRdds.foreach(_.unpersist(false)); pendingRdds = Nil

    // consolidate to a canonical Z-set — the distributed complement of
    // DeltaPack's driver-side groupBy
    val batch = raw.map(e => ((e._1, e._2), e._3))
      .reduceByKey(new org.apache.spark.HashPartitioner(parts), _ + _)
      .map { case ((s, d), net) => (s, d, net) }
      .filter(_._3 != 0L)
      .persist()
    // write-ahead, distributed: the batch goes to parquet under wal/ before
    // any output, replacing the driver-funnel .bin WAL for this path (any
    // orphan .bin for this id from a crashed driver-path attempt is
    // cleared first — recovery must never replay both forms)
    stateDir.foreach { dir =>
      Files.createDirectories(Paths.get(dir, "wal"))
      Files.deleteIfExists(Paths.get(dir, "wal", s"batch=$batchId.bin"))
      spark.createDataFrame(batch.map(e => Row(e._1, e._2, e._3)),
          FastGraphState.edgeSchema)
        .write.mode("overwrite").parquet(walParquet(dir, batchId))
    }
    val post = engine.updateShardsDistributed(shards, batch)
    val matches = engine.deltaStepDistributed(sc, shards, post, batch)
    // persist + truncate + materialize the post generation BEFORE the sink
    // runs: a sink that executes a job would otherwise compute the full
    // distributed shard merge uncached, and rebuildHot/rebuildDegMirror
    // would recompute it a second time right after
    post.persist()
    post.localCheckpoint()
    post.count()
    if (sink != null) sink(toDF(matches))
    installShards(post, prepared = true)
    // the driver's replica never saw this batch: rebuild it from the new
    // shards (generation bump evicts executor hot caches; the DeltaPack
    // chain restarts empty). The degree mirror folds the batch's own
    // per-key deltas instead — no O(|V|) collect in the bulk path.
    rebuildHot()
    foldDegMirrorDistributed(batch)
    pendingRdds ::= batch // lineage feeds `matches`; dropped next absorb
    tailIds :+= batchId
    _lastBatchId = batchId
    if (tailIds.size >= maxTail) {
      if (stateDir.isDefined) compact()
      else tailIds = Vector.empty // hot already rebuilt above
    }
    stateDir.foreach { dir =>
      writeMeta(dir)
      if (lineageMetrics) {
        val part = engine.partitioner // local copy: the closure must not drag `this`
        val perPart = batch.map(e => part.getPartition(e._1))
          .countByValue().toSeq.sortBy(_._1)
        val rows = perPart.map(_._2).sum
        val ms = (System.nanoTime() - t0) / 1e6
        val partsJson = perPart.map { case (p, n) => s"""{"p":$p,"rows":$n}""" }
        val line =
          s"""{"batchId":$batchId,"inputRows":$rows,"distributed":true,"wallMs":$ms,"partitions":[${partsJson.mkString(",")}]}\n"""
        Files.writeString(Paths.get(dir, "metrics.jsonl"), line,
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
    matches
  }

  /** RDD-level absorb: returns the consolidated match-delta RDD; `sink`
    * (if any) receives the DataFrame view before commit. */
  def applyBatchRdd(batchId: Long, arr: Array[(Long, Long, Long)],
                    sink: DataFrame => Unit = null): RDD[(ArraySeq[Long], Long)] = {
    if (batchId <= _lastBatchId) return sc.emptyRDD[(ArraySeq[Long], Long)]
    // an oversized array batch would still broadcast O(|batch|) state and
    // build an O(|batch|·rels) routing table — route it through the
    // distributed absorb instead (it is already driver-resident, but the
    // executors are protected)
    if (arr.length > largeBatchThreshold)
      return absorbDistributed(batchId,
        sc.parallelize(ArraySeq.unsafeWrapArray(arr), parts), sink)
    val t0 = System.nanoTime()
    // lagged retirement: an RDD superseded at absorb s is dropped only at
    // absorb s + retireLag, by which point every job allowed to read it
    // (the in-flight window) has drained and its successor is materialized
    absorbSeq += 1
    val (drop, keep) = retired.partition(_._1 <= absorbSeq - retireLag)
    drop.foreach(_._2.unpersist(false))
    retired = keep
    // NOT destroy(): the checkpointed shard RDD object keeps its (dead)
    // closure field referencing the previous batch's broadcast, and task
    // serialization embeds the handle — destroying it poisons every later
    // job over the shards. unpersist drops executor copies now; the
    // ContextCleaner reclaims the handle once the old shard RDD (its only
    // referent after lineage truncation) is dropped below.
    pendingBcast.foreach(_.unpersist(false)); pendingBcast = Nil

    stateDir.foreach(dir => writeWal(dir, batchId, arr)) // write-ahead
    val pack = DeltaPack(arr)
    val dp = sc.broadcast(pack)
    // NO per-batch hot broadcast: tasks resolve the replica from the chain
    // (base snapshot + the dp broadcasts already in flight)
    val hotRef = DeltaEngine.ChainHot(stateId, hotGen, hotBase, dpChain)
    val matches = engine.deltaStep(sc, shards, hotRef, dp, pack, degFn)
    if (sink != null) sink(toDF(matches))
    installShards(engine.updateShards(shards, dp))
    hotAdj = DeltaEngine.foldHot(hotAdj, pack)
    foldDegMirror(pack)
    dpChain :+= dp
    // bound the fold chain even when compaction is far away: re-broadcast
    // the driver's folded replica and retire the chain
    if (dpChain.size >= FastGraphState.maxHotChain) rebaseHot()
    tailIds :+= batchId
    _lastBatchId = batchId
    if (tailIds.size >= maxTail) {
      if (stateDir.isDefined) compact()
      else { tailIds = Vector.empty; rebuildHot() }
    }
    stateDir.foreach { dir =>
      writeMeta(dir)
      appendMetrics(dir, batchId, arr, t0)
    }
    matches
  }

  /** Pipelined absorb — the fast-engine analog of the reference's
    * overlapping timely epochs: the driver-side absorb (WAL, broadcast,
    * state install — a few ms) runs synchronously, but the batch's match
    * job is SUBMITTED asynchronously and the per-partition (rows, net)
    * stats come back as a future. Callers may keep up to `pipelineDepth`
    * futures in flight and MUST drain the oldest before absorbing beyond
    * that window — the retirement lag sizes shard-snapshot lifetime to
    * exactly that window. Overlapping jobs are what give >8 cores real
    * work at small batch sizes, where a single 1000-edge batch cannot fill
    * the machine (measured: the whole sync batch is one ~300ms 3-stage
    * job at 32 cores). Exactly-once is unchanged (WAL + meta precede any
    * output, replayed ids return an immediately-complete empty future). */
  def applyBatchStatsAsync(batchId: Long, arr: Array[(Long, Long, Long)])
      : org.apache.spark.FutureAction[Seq[(Long, Long)]] = {
    // ENFORCE the documented window, don't just document it: an absorb
    // beyond pipelineDepth outstanding futures would have the oldest job
    // read a shard snapshot whose blocks this call is about to unpersist —
    // unrecoverable, because localCheckpoint already truncated its lineage.
    inflightStats.filterInPlace(!_.isCompleted)
    require(inflightStats.size < math.max(1, pipelineDepth),
      s"applyBatchStatsAsync: ${inflightStats.size} futures already in flight " +
        s"(pipelineDepth=$pipelineDepth) — await the oldest before absorbing further")
    val m = applyBatchRdd(batchId, arr)
    val stats = m.mapPartitions { it =>
      var n = 0L; var s = 0L
      for ((_, w) <- it) { n += 1; s += w }
      Iterator.single((n, s))
    }
    import org.apache.spark.rdd.RDD.rddToAsyncRDDActions
    val f = stats.collectAsync()
    inflightStats += f
    f
  }

  /** Current consolidated edge Z-set (tests / snapshot queries). */
  def edges: DataFrame = {
    val rows = shards.flatMap { shard =>
      shard.iterator.flatMap { case (k, adj) =>
        adj.fwdVs.indices.iterator.map(i => Row(k, adj.fwdVs(i), adj.fwdWs(i)))
      }
    }
    spark.createDataFrame(rows, FastGraphState.edgeSchema)
  }

  /** Rewrites the base parquet at the current state and clears the WAL tail
    * (amortized O(|E|) — the reference's merge_to). In-memory shards are
    * already fully consolidated; this only bounds recovery time. */
  def compact(): Unit = stateDir.foreach { dir =>
    val folded = tailIds
    val oldVersion = baseVersion
    tailIds = Vector.empty // cleared BEFORE meta persists (no double-count window)
    rebuildHot() // re-select hub membership at compaction boundaries
    writeBase(dir)
    writeMeta(dir)
    // post-commit GC (both WAL forms: driver .bin and distributed .parquet)
    rmrf(Paths.get(dir, "base", s"v=$oldVersion").toFile)
    folded.foreach { id =>
      Files.deleteIfExists(Paths.get(dir, "wal", s"batch=$id.bin"))
      rmrf(Paths.get(dir, "wal", s"batch=$id.parquet").toFile)
    }
  }

  def close(): Unit = {
    // drain (bounded) outstanding async jobs before dropping the state they
    // read; anything still running after the grace period is cancelled
    inflightStats.filterInPlace(!_.isCompleted)
    inflightStats.foreach { f =>
      try scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration(30, "s"))
      catch { case _: Throwable => f.cancel() }
    }
    inflightStats.clear()
    retired.foreach(_._2.unpersist(false)); retired = Nil
    pendingBcast.foreach(_.unpersist(false)); pendingBcast = Nil
    pendingRdds.foreach(_.unpersist(false)); pendingRdds = Nil
    hotBase.unpersist(false)
    dpChain.foreach(_.unpersist(false)); dpChain = Vector.empty
    DeltaEngine.HotCache.invalidate(stateId)
    shards.unpersist(false)
  }

  // ---- plumbing ----

  private def collectConsolidated(deltas: DataFrame,
                                  limit: Option[Int] = None): Array[(Long, Long, Long)] = {
    val sel = EdgeIndex.norm(deltas)
    // row order is irrelevant downstream (DeltaPack consolidates by key),
    // so a limit-probe collect is a valid batch when it comes in under it
    limit.fold(sel)(sel.limit).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  /** Match-delta RDD → DataFrame via direct UnsafeRow emit (same writer the
    * batch path uses; the external-Row conversion cost ~1µs/row). */
  private def toDF(matches: RDD[(ArraySeq[Long], Long)]): DataFrame = {
    val n = engine.numAttrs
    val rows = matches.mapPartitions { it =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
      val writer = new UnsafeRowWriter(n + 1)
      it.map { case (p, w) =>
        val arr: Array[Long] = p.unsafeArray match {
          case l: Array[Long] => l
          case _ => p.toArray
        }
        writer.reset()
        var a = 0
        while (a < n) { writer.write(a, arr(a)); a += 1 }
        writer.write(n, w)
        writer.getRow.copy(): InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.GraftBridge
      .internalCreateDataFrame(spark, rows, FastGraphState.matchSchema(n))
  }

  private def emptyMatches: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](),
      FastGraphState.matchSchema(engine.numAttrs))

  private def writeBase(dir: String): Unit = {
    baseVersion += 1
    edges.write.mode("overwrite").parquet(s"$dir/base/v=$baseVersion")
  }

  private def walParquet(dir: String, batchId: Long): String =
    s"$dir/wal/batch=$batchId.parquet"

  private def writeWal(dir: String, batchId: Long, arr: Array[(Long, Long, Long)]): Unit = {
    val path = Paths.get(dir, "wal", s"batch=$batchId.bin")
    Files.createDirectories(path.getParent)
    // a crash between a DISTRIBUTED absorb's parquet WAL and its meta
    // commit leaves an orphan parquet for this id; if the batch is then
    // re-delivered through THIS path, recovery would replay both forms —
    // clear the other form before committing ours
    rmrf(Paths.get(dir, "wal", s"batch=$batchId.parquet").toFile)
    val buf = ByteBuffer.allocate(arr.length * 24)
    for ((s, d, w) <- arr) { buf.putLong(s); buf.putLong(d); buf.putLong(w) }
    buf.flip()
    val ch = FileChannel.open(path, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try { ch.write(buf); ch.force(true) } finally ch.close()
  }

  private def readWal(dir: String, batchId: Long): Array[(Long, Long, Long)] = {
    val bytes = Files.readAllBytes(Paths.get(dir, "wal", s"batch=$batchId.bin"))
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 24)((buf.getLong, buf.getLong, buf.getLong))
  }

  private def writeMeta(dir: String): Unit = {
    val json =
      s"""{"baseVersion":$baseVersion,"lastBatchId":${_lastBatchId},"tailBatches":[${tailIds.mkString(",")}]}"""
    val tmp = Paths.get(dir, "meta.json.tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(dir, "meta.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def appendMetrics(dir: String, batchId: Long,
                            arr: Array[(Long, Long, Long)], t0: Long): Unit = {
    // per-partition lineage: delta rows routed to each state shard
    val perPart =
      if (lineageMetrics)
        arr.groupBy(e => engine.partitioner.getPartition(e._1))
          .toSeq.sortBy(_._1)
          .map { case (p, es) => s"""{"p":$p,"rows":${es.length}}""" }
      else Nil
    val ms = (System.nanoTime() - t0) / 1e6
    val line =
      s"""{"batchId":$batchId,"inputRows":${arr.length},"wallMs":$ms,"partitions":[${perPart.mkString(",")}]}\n"""
    Files.writeString(Paths.get(dir, "metrics.jsonl"), line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def recover(dir: String): Unit = {
    val metaPath = Paths.get(dir, "meta.json")
    if (!Files.exists(metaPath)) return
    val meta = Files.readString(metaPath)
    def longField(name: String): Long =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(meta).map(_.group(1).toLong).getOrElse(0L)
    baseVersion = longField("baseVersion")
    _lastBatchId = longField("lastBatchId")
    tailIds = """"tailBatches":\[([^\]]*)\]""".r.findFirstMatchIn(meta)
      .map(_.group(1)).filter(_.nonEmpty).map(_.split(",").map(_.toLong).toVector)
      .getOrElse(Vector.empty)
    val baseRdd: RDD[(Long, Long, Long)] =
      if (baseVersion > 0)
        spark.read.parquet(s"$dir/base/v=$baseVersion").select("src", "dst", "w")
          .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      else sc.emptyRDD
    // tail batches: driver-written .bin WALs replay from the driver,
    // distributed-absorb .parquet WALs replay as distributed reads
    val binIds = tailIds.filter(id =>
      Files.exists(Paths.get(dir, "wal", s"batch=$id.bin")))
    val pqIds = tailIds.filter(id =>
      Files.exists(Paths.get(dir, "wal", s"batch=$id.parquet")))
    val tailEdges = binIds.flatMap(id => readWal(dir, id))
    var all = if (tailEdges.isEmpty) baseRdd
              else baseRdd.union(sc.parallelize(tailEdges, math.max(1, parts / 4)))
    pqIds.foreach { id =>
      all = all.union(spark.read.parquet(walParquet(dir, id))
        .select("src", "dst", "w").rdd
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    val next = engine.buildShards(all)
    next.persist(); next.localCheckpoint(); next.count()
    shards.unpersist(false)
    shards = next
    rebuildHot()
    rebuildDegMirror()
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rmrf) }
    f.delete(); ()
  }
}

object FastGraphState {
  /** Longest DeltaPack chain a hot-replica resolve may fold before the
    * driver re-bases with a fresh full broadcast (bounds fresh-executor
    * catch-up work and retained broadcast count when compaction is rare). */
  val maxHotChain: Int = 48

  private val log = org.apache.logging.log4j.LogManager.getLogger(classOf[FastGraphState])

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("w", LongType)))

  def matchSchema(numAttrs: Int): StructType = StructType(
    (0 until numAttrs).map(i => StructField(s"x$i", LongType)) :+
      StructField("w", LongType))
}
