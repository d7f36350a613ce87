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
  * One absorb core, two batch sources. Like the reference, which folds
  * every batch into its index through one merge at batch boundaries
  * (`Index::merge_to`, src/index.rs:560-583), every absorb runs the same
  * steps: [[beginAbsorb]] (lagged retirement of superseded shard
  * generations, release of the previous absorb's broadcasts and batch
  * RDDs), write-ahead, delta step, `sink`, [[install]] of the next shard
  * generation, and [[commit]] (tail, compaction, meta, one lineage record).
  * Each form keeps only what follows from its batch source:
  *  - driver absorb ([[applyBatchRdd]]; [[applyBatch]] routes batches of up
  *    to `largeBatchThreshold` rows here): the batch is collected, WAL'd as
  *    `.bin`, broadcast as a [[DeltaPack]] into [[DeltaEngine.deltaStep]];
  *    the degree mirror and hot replica fold the pack;
  *  - bulk absorb ([[applyBatchDistributed]], and larger batches): the batch
  *    stays an RDD, WAL'd as parquet, into
  *    [[DeltaEngine.deltaStepDistributed]]; the mirror folds collected
  *    per-key deltas and the hot replica is rebuilt from the new shards.
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
  * fsync'd before any output) or `wal/batch=N.parquet` (bulk absorb),
  * `metrics.jsonl` (one lineage record per committed batch:
  * `batchId`, `inputRows` = consolidated rows, `distributed`, `wallMs`, and
  * `partitions` = consolidated rows per state shard, left empty unless
  * `lineageMetrics`).
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
    pipelineDepth: Int = 1,
    largeBatchThreshold: Int = 1 << 20,
    degMirrorMaxKeys: Long = 1L << 23) {

  private val sc = spark.sparkContext
  private val parts = if (numParts > 0) numParts else sc.defaultParallelism
  /** Size of the broadcast hot-hub replica (0 disables). Measured reason it
    * stays on: `perfbench/run.py --workload stream_b1000 --seconds 10`,
    * interleaved pairs on a 4-core host, `hotKeys = 0` moved `op_p50_ms`
    * 381 → 499, 412 → 472 and 548 → 600 ms (worse in 3 of 3 pairs, median
    * +21%); `stream_churn_b20000` was flat (4,666 → 4,580, 4,540 → 4,345 ms). */
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
    * [[DeltaEngine.ChainHot]]). Re-broadcasting the driver's folded replica
    * every batch instead measured 381 → 428, 412 → 477 and 548 → 426 ms
    * `stream_b1000` `op_p50_ms` (inside the spread); the chain stays for the
    * per-batch network bytes it saves, which local mode cannot show. */
  private val stateId = java.util.UUID.randomUUID().toString
  private var hotGen: Long = 0L
  private var hotBase: Broadcast[DeltaEngine.HotMap] = sc.broadcast(hotAdj)
  private var dpChain: Vector[Broadcast[DeltaPack]] = Vector.empty
  /** Driver-held EXACT signed-degree mirror (fwd, rev per key): folded from
    * the same DeltaPack degSums the shards fold, so the seed phase needs no
    * cluster job at all for its count stage. O(|V|) driver memory (16B/key).
    * Without it the engine runs the seed phase fully distributed (sharded
    * degree lookup via the count-chain exchanges — one extra hop per
    * extender slot, no collect job, O(1) driver state). Measured reason it
    * stays: with the mirror off, `stream_b1000` `op_p50_ms` went 383 → 537
    * and 435 → 579 ms (+40%, +33%) in interleaved `perfbench/run.py
    * --seconds 10` pairs on a 4-core host. */
  private val degF = new java.util.HashMap[Long, java.lang.Long]()
  private val degR = new java.util.HashMap[Long, java.lang.Long]()
  /** The mirror is a BUDGETED accelerator, not an invariant: when the shard
    * key set outgrows `degMirrorMaxKeys` (~70 B/key of boxed driver heap),
    * the engine switches itself to the sharded-degree seed phase
    * (degFn=None → count-chain lookups, O(1) driver state) and never
    * rebuilds the mirror again; a budget of 0 keeps the mirror off from the
    * first batch. The switch only changes WHERE degrees are read, never
    * their values — FastEngineSpec pins result equality. */
  private var mirrorActive: Boolean = degMirrorMaxKeys > 0
  private def degFn: Option[(Long, Boolean) => Long] =
    if (!mirrorActive) None
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
  private def checkMirrorBudget(keys: Long): Unit =
    if (keys > degMirrorMaxKeys) {
      mirrorActive = false
      degF.clear(); degR.clear()
      FastGraphState.log.warn(s"[fastgraph] driver degree mirror off ($keys keys > " +
        s"budget $degMirrorMaxKeys); sharded-degree seed phase active")
    }
  /** Folds per-key (fwd, rev) degree deltas into the mirror. The budget
    * binds after every fold too: a stream of small batches that keeps
    * minting new keys grows the mirror without ever passing through a
    * rebuild (HashMap.size is O(1)). */
  private def foldDegs(deltas: Iterable[(Long, Long, Long)]): Unit = if (mirrorActive) {
    deltas.foreach { case (k, f, r) => foldDeg(degF, k, f); foldDeg(degR, k, r) }
    checkMirrorBudget(math.max(degF.size.toLong, degR.size.toLong))
  }
  private def rebuildDegMirror(): Unit = if (mirrorActive) {
    // budget gate first: one cheap size job (no adjacency data moves)
    // decides whether an O(|V|) mirror is affordable at all
    val keys = shards.map(_.size.toLong).fold(0L)(_ + _)
    checkMirrorBudget(keys)
    if (mirrorActive) {
      degF.clear(); degR.clear()
      foldDegs(shards.flatMap(_.iterator.map { case (k, adj) => (k, adj.degFwd, adj.degRev) })
        .collect())
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
  /** Persisted per-batch RDDs (bulk-absorb batches) still referenced by the
    * returned match frame; unpersisted on the next absorb of either form. */
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
    install(engine.buildShards(edgeRdd(edges)), eager = false)
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

  // ---- the absorb core: begin, install, commit ----

  /** Begin step of every absorb. Lagged retirement: a shard generation
    * superseded at absorb s is dropped only at absorb s + retireLag, by
    * which point every job allowed to read it (the in-flight window) has
    * drained and its successor is materialized. The previous absorb's
    * broadcasts and batch RDDs go now: the match frame that read them has
    * been consumed, by the [[applyBatch]] contract. */
  private def beginAbsorb(): Unit = {
    absorbSeq += 1
    release(absorbSeq - retireLag)
  }

  /** Unpersists the shard generations retired at or before `retiredBy` and
    * every pending broadcast and batch RDD. NOT destroy(): a checkpointed
    * shard RDD object keeps its (dead) closure field referencing an earlier
    * batch's broadcast, and task serialization embeds the handle —
    * destroying it poisons every later job over the shards. unpersist drops
    * executor copies now; the ContextCleaner reclaims the handle once the
    * old shard RDD (its only referent after lineage truncation) is dropped. */
  private def release(retiredBy: Long): Unit = {
    val (drop, keep) = retired.partition(_._1 <= retiredBy)
    drop.foreach(_._2.unpersist(false))
    retired = keep
    pendingBcast.foreach(_.unpersist(false)); pendingBcast = Nil
    pendingRdds.foreach(_.unpersist(false)); pendingRdds = Nil
  }

  /** Makes `next` the current shard generation: persisted, lineage
    * truncated (recovery is WAL replay, not recompute), and the superseded
    * generation queued for lagged retirement. Unless `eager`, no
    * materialization job runs here: the next batch's first job over the
    * shards computes + caches them (one cheap HAMT fold) and completes the
    * localCheckpoint — saving one scheduler round-trip per batch, which is
    * real money at the batch=1000 latency floor. That is why the PREVIOUS
    * generation must outlive the next absorb (`retireLag` ≥ 2). */
  private def install(next: RDD[Shard.T], eager: Boolean): Unit = {
    next.persist()
    next.localCheckpoint()
    // single-relation motifs never run a per-batch job over the shards
    // (seeds ARE the matches), so nothing would materialize `next` before
    // its ancestor retires — materialize eagerly in that case too
    if (eager || engine.numAttrs == 2) next.count()
    retired ::= (absorbSeq, shards)
    shards = next
  }

  /** Commit step of every absorb, after the sink: the batch joins the WAL
    * tail (a full tail compacts when durable, otherwise is dropped with a
    * hot-set re-selection), then meta and the batch's lineage record are
    * written. A bulk absorb (`distributed`) never folded its batch into the
    * driver's replica, so the replica is rebuilt here — once, by the full
    * tail's re-selection when there is one. `perPart` (consolidated rows
    * per state shard) is only evaluated when durable. */
  private def commit(batchId: Long, distributed: Boolean, t0: Long)
                    (perPart: => Iterable[(Int, Long)]): Unit = {
    tailIds :+= batchId
    _lastBatchId = batchId
    if (tailIds.size >= maxTail) {
      if (stateDir.isDefined) compact()
      else { tailIds = Vector.empty; rebuildHot() }
    } else if (distributed) rebuildHot()
    stateDir.foreach { dir =>
      writeMeta(dir)
      val counts = perPart.toSeq.sortBy(_._1)
      val partsJson =
        if (lineageMetrics) counts.map { case (p, n) => s"""{"p":$p,"rows":$n}""" } else Nil
      val ms = (System.nanoTime() - t0) / 1e6
      val line = s"""{"batchId":$batchId,"inputRows":${counts.map(_._2).sum},""" +
        s""""distributed":$distributed,"wallMs":$ms,"partitions":[${partsJson.mkString(",")}]}""" + "\n"
      Files.writeString(Paths.get(dir, "metrics.jsonl"), line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
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
    // batch through the bulk absorb (eager shard install and hot rebuild
    // per batch) would silently cost orders of magnitude. When the plan
    // can't decide, ONE bounded collect does double duty: it both sizes the
    // batch and (when small) IS the driver-path collect, so the batch's
    // source is scanned once. Driver exposure is bounded at
    // largeBatchThreshold+1 rows (~24 B each) even for a huge batch.
    val plan = deltas.queryExecution.optimizedPlan
    val exactRows = plan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some(lr.data.length)
      case _ => None
    }
    if (exactRows.exists(_ > largeBatchThreshold)) // exact, no job
      return applyBatchDistributed(batchId, deltas, sink)
    val provenSmall = exactRows.isDefined || plan.maxRows.exists(_ <= largeBatchThreshold)
    // row order is irrelevant downstream (DeltaPack consolidates by key),
    // so a limit-probe collect is a valid batch when it comes in under it
    val sel = EdgeIndex.norm(deltas)
    val arr = (if (provenSmall) sel else sel.limit(largeBatchThreshold + 1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    if (arr.length > largeBatchThreshold)
      return applyBatchDistributed(batchId, deltas, sink)
    toDF(applyBatchRdd(batchId, arr, sink))
  }

  /** Distributed absorb for LARGE batches (backfill / catch-up): the batch
    * is consolidated, WAL'd (parquet, distributed write), folded into the
    * shards and delta-queried WITHOUT ever being materialized on the driver
    * — [[applyBatch]]'s collect + DeltaPack broadcast + per-seed routing
    * table are replaced by their distributed complements
    * ([[DeltaEngine.deltaStepDistributed]]). After the absorb the hot
    * replica and broadcast chain are rebuilt from the new shards
    * (amortized: this path is for batches that are a meaningful fraction of
    * the state) and the degree mirror folds the batch's per-key deltas.
    * Exactly-once contract unchanged: WAL before output, replayed ids are
    * no-ops, meta commits after the sink. */
  def applyBatchDistributed(batchId: Long, deltas: DataFrame,
                            sink: DataFrame => Unit = _ => ()): DataFrame = {
    if (batchId <= _lastBatchId) return emptyMatches
    toDF(absorbDistributed(batchId, edgeRdd(deltas), sink))
  }

  /** Bulk absorb over a raw (unconsolidated) edge RDD. */
  private def absorbDistributed(batchId: Long, raw: RDD[(Long, Long, Long)],
                                sink: DataFrame => Unit): RDD[Array[Long]] = {
    val t0 = System.nanoTime()
    beginAbsorb()
    // consolidate to a canonical Z-set — the distributed complement of
    // DeltaPack's driver-side groupBy
    val batch = raw.map(e => ((e._1, e._2), e._3))
      .reduceByKey(new org.apache.spark.HashPartitioner(parts), _ + _)
      .map { case ((s, d), net) => (s, d, net) }
      .filter(_._3 != 0L)
      .persist()
    pendingRdds ::= batch // lineage feeds `matches`; dropped next absorb
    // write-ahead, distributed: the batch goes to parquet under wal/ before
    // any output, replacing the driver-funnel .bin WAL for this path (any
    // orphan .bin for this id from a crashed driver-path attempt is
    // cleared first — recovery must never replay both forms)
    stateDir.foreach { dir =>
      Files.createDirectories(Paths.get(dir, "wal"))
      Files.deleteIfExists(walPath(dir, batchId, "bin"))
      spark.createDataFrame(batch.map(e => Row(e._1, e._2, e._3)),
          FastGraphState.edgeSchema)
        .write.mode("overwrite").parquet(walPath(dir, batchId, "parquet").toString)
    }
    val post = engine.updateShardsDistributed(shards, batch)
    val matches = engine.deltaStepDistributed(sc, shards, post, batch)
    // install (and materialize) the post generation BEFORE the sink runs:
    // a sink that executes a job would otherwise compute the full
    // distributed shard merge uncached, and commit's hot rebuild would
    // recompute it a second time. `matches` keeps its own pre-batch handle.
    install(post, eager = true)
    if (sink != null) sink(toDF(matches))
    // the driver's replica never saw this batch: commit rebuilds it from
    // the new shards (generation bump evicts executor hot caches; the
    // DeltaPack chain restarts empty). The degree mirror folds the batch's
    // per-key degree deltas (degree = Σw), aggregated distributed and
    // collected: O(|batch keys|) driver work, no O(|V|) collect.
    if (mirrorActive)
      foldDegs(batch.flatMap { case (s, d, w) => Iterator((s, (w, 0L)), (d, (0L, w))) }
        .reduceByKey((a: (Long, Long), b: (Long, Long)) => (a._1 + b._1, a._2 + b._2))
        .map { case (k, (f, r)) => (k, f, r) }.collect())
    val part = engine.partitioner // local copy: the closure must not drag `this`
    commit(batchId, distributed = true, t0)(
      batch.map(e => part.getPartition(e._1)).countByValue())
    matches
  }

  /** RDD-level absorb: returns the consolidated match delta as packed
    * blocks of `[x0..x{k-1}, w]` records (k = `numAttrs`, at most 32,768
    * longs a block, each binding once with its nonzero net weight — the
    * [[DeltaEngine]] output contract); `sink` (if any) receives the
    * DataFrame view before commit. Consumers stride the blocks: no match
    * is boxed between the final intersect hop and here, which took the
    * result stage of a `stream_churn_b20000` batch from 1,092 to 364 ms
    * executor CPU (traced seed-42 pair, 4 cores). */
  def applyBatchRdd(batchId: Long, arr: Array[(Long, Long, Long)],
                    sink: DataFrame => Unit = null): RDD[Array[Long]] = {
    if (batchId <= _lastBatchId) return sc.emptyRDD[Array[Long]]
    // an oversized array batch would still broadcast O(|batch|) state and
    // build an O(|batch|·rels) routing table — route it through the
    // distributed absorb instead (it is already driver-resident, but the
    // executors are protected)
    if (arr.length > largeBatchThreshold)
      return absorbDistributed(batchId,
        sc.parallelize(ArraySeq.unsafeWrapArray(arr), parts), sink)
    val t0 = System.nanoTime()
    beginAbsorb()
    stateDir.foreach(dir => writeWal(dir, batchId, arr)) // write-ahead
    val pack = DeltaPack(arr)
    val dp = sc.broadcast(pack)
    // NO per-batch hot broadcast: tasks resolve the replica from the chain
    // (base snapshot + the dp broadcasts already in flight)
    val hotRef = DeltaEngine.ChainHot(stateId, hotGen, hotBase, dpChain)
    val matches = engine.deltaStep(sc, shards, hotRef, dp, pack, degFn)
    if (sink != null) sink(toDF(matches))
    install(engine.updateShards(shards, dp), eager = false)
    hotAdj = DeltaEngine.foldHot(hotAdj, pack)
    foldDegs((pack.fwd.iterator.map { case (k, r) => (k, r.degSum, 0L) } ++
      pack.rev.iterator.map { case (k, r) => (k, 0L, r.degSum) }).toSeq)
    dpChain :+= dp
    // bound the fold chain even when compaction is far away: re-broadcast
    // the driver's folded replica and retire the chain
    if (dpChain.size >= FastGraphState.maxHotChain) rebaseHot()
    commit(batchId, distributed = false, t0)(
      pack.fwd.iterator.toSeq.groupMapReduce(kr => engine.partitioner.getPartition(kr._1))(
        _._2.vs.length.toLong)(_ + _))
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
    val rec = engine.numAttrs + 1
    val stats = m.mapPartitions { it =>
      var n = 0L; var s = 0L
      while (it.hasNext) {
        val block = it.next()
        var off = rec - 1
        while (off < block.length) { n += 1; s += block(off); off += rec }
      }
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
      Files.deleteIfExists(walPath(dir, id, "bin"))
      rmrf(walPath(dir, id, "parquet").toFile)
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
    release(Long.MaxValue)
    hotBase.unpersist(false)
    dpChain.foreach(_.unpersist(false)); dpChain = Vector.empty
    DeltaEngine.HotCache.invalidate(stateId)
    shards.unpersist(false)
  }

  // ---- plumbing ----

  /** The one distributed edge reader: (src,dst[,w]) rows as long triples. */
  private def edgeRdd(edges: DataFrame): RDD[(Long, Long, Long)] =
    EdgeIndex.norm(edges).rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** Packed match blocks → DataFrame: each record is written straight into
    * one reused UnsafeRow (the writer and reuse contract of the batch
    * path's `enumerateLocalRows`; the external-Row conversion cost
    * ~1µs/row). */
  private def toDF(matches: RDD[Array[Long]]): DataFrame = {
    val rec = engine.numAttrs + 1
    val rows = matches.mapPartitions { it =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
      val writer = new UnsafeRowWriter(rec)
      it.flatMap { block =>
        Iterator.range(0, block.length, rec).map { off =>
          writer.reset()
          var a = 0
          while (a < rec) { writer.write(a, block(off + a)); a += 1 }
          writer.getRow: InternalRow
        }
      }
    }
    org.apache.spark.sql.graftbridge.GraftBridge
      .internalCreateDataFrame(spark, rows, FastGraphState.matchSchema(rec - 1))
  }

  private def emptyMatches: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](),
      FastGraphState.matchSchema(engine.numAttrs))

  private def writeBase(dir: String): Unit = {
    baseVersion += 1
    edges.write.mode("overwrite").parquet(s"$dir/base/v=$baseVersion")
  }

  /** WAL of one batch: `bin` (driver absorb) or `parquet` (bulk absorb). */
  private def walPath(dir: String, batchId: Long, form: String): java.nio.file.Path =
    Paths.get(dir, "wal", s"batch=$batchId.$form")

  private def writeWal(dir: String, batchId: Long, arr: Array[(Long, Long, Long)]): Unit = {
    val path = walPath(dir, batchId, "bin")
    Files.createDirectories(path.getParent)
    // a crash between a DISTRIBUTED absorb's parquet WAL and its meta
    // commit leaves an orphan parquet for this id; if the batch is then
    // re-delivered through THIS path, recovery would replay both forms —
    // clear the other form before committing ours
    rmrf(walPath(dir, batchId, "parquet").toFile)
    val buf = ByteBuffer.allocate(arr.length * 24)
    for ((s, d, w) <- arr) { buf.putLong(s); buf.putLong(d); buf.putLong(w) }
    buf.flip()
    val ch = FileChannel.open(path, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try { ch.write(buf); ch.force(true) } finally ch.close()
  }

  private def readWal(dir: String, batchId: Long): Array[(Long, Long, Long)] = {
    val bytes = Files.readAllBytes(walPath(dir, batchId, "bin"))
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
      if (baseVersion > 0) edgeRdd(spark.read.parquet(s"$dir/base/v=$baseVersion"))
      else sc.emptyRDD
    // tail batches: driver-written .bin WALs replay from the driver,
    // bulk-absorb .parquet WALs replay as distributed reads
    def tail(form: String) = tailIds.filter(id => Files.exists(walPath(dir, id, form)))
    val binEdges = tail("bin").flatMap(readWal(dir, _))
    val bin = if (binEdges.isEmpty) Nil else Seq(sc.parallelize(binEdges, math.max(1, parts / 4)))
    val pq = tail("parquet").map(id =>
      edgeRdd(spark.read.parquet(walPath(dir, id, "parquet").toString)))
    install(engine.buildShards(sc.union(baseRdd +: (bin ++ pq))), eager = true)
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
