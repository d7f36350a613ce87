package graft.fast

import org.apache.spark.HashPartitioner
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import scala.collection.immutable.ArraySeq
import graft.plan.Planner
import graft.plan.Planner.{Pred, RelationPlan}
import graft.state.IndexState

/** Per-node adjacency state: consolidated, value-sorted neighbor runs with
  * signed multiplicities in both directions, plus cached signed degrees —
  * the Spark-executor-resident form of the reference's per-worker
  * forward/reverse index pair (/root/reference/src/motif.rs:49-65).
  *
  * `degOnly = true` marks a DEGREE-ONLY hot entry (runs empty, degrees
  * real): the bulk absorb path broadcasts these for hub keys so COUNT
  * lookups can scatter instead of concentrating on the hub's partition,
  * while adjacency lookups ignore the entry and stay key-routed to the
  * shard that actually holds the runs. */
final class Adj(
    val fwdVs: Array[Long], val fwdWs: Array[Long], val degFwd: Long,
    val revVs: Array[Long], val revWs: Array[Long], val degRev: Long,
    val degOnly: Boolean = false) extends Serializable {
  def vs(forward: Boolean): Array[Long] = if (forward) fwdVs else revVs
  def ws(forward: Boolean): Array[Long] = if (forward) fwdWs else revWs
  def deg(forward: Boolean): Long = if (forward) degFwd else degRev
}

/** One node-sharded index partition: an immutable HAMT so per-batch updates
  * are O(touched-keys × log n) persistent inserts with structural sharing —
  * never an O(|V|) rebuild. */
object Shard {
  type T = scala.collection.immutable.HashMap[Long, Adj]
  val empty: T = scala.collection.immutable.HashMap.empty
}

/** A table from primitive long keys to values, built once from distinct
  * keys: open addressing with Fibonacci hashing and linear probing at load
  * ≤ 1/2, a null value marking a free slot. A lookup never boxes its key
  * and building it never sorts. */
private[fast] final class KeyTable[V >: Null <: AnyRef] private (
    keys: Array[Long], vals: Array[V]) extends Serializable {
  private val shift = 64 - Integer.numberOfTrailingZeros(keys.length)

  /** Key `k`'s value, or null when `k` has none. */
  def get(k: Long): V = {
    val mask = keys.length - 1
    var i = KeyTable.slot(k, shift)
    var v = vals(i)
    while (v != null && keys(i) != k) { i = (i + 1) & mask; v = vals(i) }
    v
  }

  /** Every (key, value) pair, in slot order. */
  def iterator: Iterator[(Long, V)] =
    keys.indices.iterator.filter(vals(_) != null).map(i => (keys(i), vals(i)))
  def keysIterator: Iterator[Long] = keys.indices.iterator.filter(vals(_) != null).map(keys)
}

private[fast] object KeyTable {
  private def slot(k: Long, shift: Int): Int = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt

  /** The table over per-part (keys, values) arrays; a key occurs once
    * across all parts. */
  def apply[V >: Null <: AnyRef](parts: Iterable[(Array[Long], Array[V])])
                                (implicit ct: scala.reflect.ClassTag[V]): KeyTable[V] = {
    val n = parts.iterator.map(_._1.length).sum
    var cap = 2
    while (cap < 2L * n) cap <<= 1
    val keys = new Array[Long](cap)
    val vals = new Array[V](cap)
    val shift = 64 - Integer.numberOfTrailingZeros(cap)
    for ((ks, vs) <- parts; j <- ks.indices) {
      var i = slot(ks(j), shift)
      while (vals(i) != null) i = (i + 1) & (cap - 1)
      keys(i) = ks(j)
      vals(i) = vs(j)
    }
    new KeyTable(keys, vals)
  }
}

/** The local batch regime's FULL index, collected once from the shards and
  * broadcast once: every key's [[Adj]] in a [[KeyTable]]. Its forward runs
  * are the consolidated edge set, which [[seeds]] serves as the seed
  * stream. */
private[fast] final class LocalIndex private (t: KeyTable[Adj]) extends Serializable {
  /** Key `k`'s adjacency, or null when `k` has none. */
  def get(k: Long): Adj = t.get(k)

  /** The edges at positions r, r + stride, r + 2·stride, … of the forward
    * runs in slot order: each edge lands in exactly one of the `stride`
    * slices, and a hub's run is spread over all of them. */
  def seeds(r: Int, stride: Int): Iterator[(Long, Long, Long)] = {
    var pos = 0L
    t.iterator.flatMap { case (k, a) =>
      val vs = a.fwdVs
      val ws = a.fwdWs
      val first = java.lang.Math.floorMod(r - pos, stride.toLong).toInt
      pos += vs.length
      Iterator.range(first, vs.length, stride).map(j => (k, vs(j), ws(j)))
    }
  }
}

private[fast] object LocalIndex {
  /** The index over per-shard (keys, adjs) arrays. */
  def apply(parts: Array[(Array[Long], Array[Adj])]): LocalIndex =
    new LocalIndex(KeyTable(parts))

  /** Collects persisted shards into one index: one job, one (keys, adjs)
    * array pair per shard. */
  def fromShards(shards: RDD[Shard.T]): LocalIndex =
    apply(shards.map(s => (s.keysIterator.toArray, s.valuesIterator.toArray)).collect())
}

/** A micro-batch of edge deltas, broadcast to every index partition:
  * `edges` is the CONSOLIDATED batch in canonical (src,dst) order — the
  * shared seed list whose indices the driver's argmin routing table refers
  * to — and fwd/rev are per-endpoint value-sorted runs, in [[KeyTable]]s so
  * a lookup never boxes its key. The runs supply (a) the batch side of the
  * le staleness rule, read next to the base run by every inclusive lookup
  * ([[DeltaEngine.TwoRuns]]), and (b) the fold-in data for the post-step
  * index update. */
final class DeltaPack private[fast] (
    val edges: Array[(Long, Long, Long)],
    val fwd: KeyTable[DeltaPack.Run],
    val rev: KeyTable[DeltaPack.Run]) extends Serializable {
  def run(k: Long, forward: Boolean): DeltaPack.Run = {
    val r = (if (forward) fwd else rev).get(k)
    if (r == null) DeltaPack.emptyRun else r
  }
  def keys: Iterator[Long] = fwd.keysIterator ++ rev.keysIterator
  /** Key `k`'s runs and degree sums in both directions, as a delta for
    * [[DeltaEngine.mergeAdj]]. */
  private[fast] def adj(k: Long): Adj = {
    val f = run(k, forward = true)
    val r = run(k, forward = false)
    new Adj(f.vs, f.ws, f.degSum, r.vs, r.ws, r.degSum)
  }
}

object DeltaPack {
  /** Sorted (v, w) run for one key plus its net degree contribution. */
  final case class Run(vs: Array[Long], ws: Array[Long], degSum: Long) extends Serializable
  val emptyRun: Run = Run(Array.empty, Array.empty, 0L)
  val empty: DeltaPack = apply(Array.empty)

  /** A pack of `edges` over the (key, run) pairs of each direction. */
  private[fast] def apply(edges: Array[(Long, Long, Long)],
                          fwd: Iterable[(Long, Run)], rev: Iterable[(Long, Run)]): DeltaPack = {
    def table(kr: Iterable[(Long, Run)]) =
      KeyTable(Seq((kr.iterator.map(_._1).toArray, kr.iterator.map(_._2).toArray)))
    new DeltaPack(edges, table(fwd), table(rev))
  }

  /** Consolidates a raw batch (sum weights per (src,dst), drop zeros —
    * sound by Z-set bilinearity) through [[DeltaEngine.buildAdjs]]. The
    * forward walk visits sources ascending and each run's destinations
    * ascending, so it also yields the canonical (src,dst)-ordered seed
    * list. */
  def apply(raw: Array[(Long, Long, Long)]): DeltaPack = {
    val f = new DeltaEngine.Triples(raw.length)
    val r = new DeltaEngine.Triples(raw.length)
    raw.foreach { case (s, d, w) => f.add(s, d, w); r.add(d, s, w) }
    val edges = Array.newBuilder[(Long, Long, Long)]
    val fwd = scala.collection.mutable.ArrayBuffer.empty[(Long, Run)]
    val rev = scala.collection.mutable.ArrayBuffer.empty[(Long, Run)]
    DeltaEngine.buildAdjs(f, r) { (k, a) =>
      if (a.fwdVs.nonEmpty) {
        fwd += k -> Run(a.fwdVs, a.fwdWs, a.degFwd)
        var i = 0
        while (i < a.fwdVs.length) { edges += ((k, a.fwdVs(i), a.fwdWs(i))); i += 1 }
      }
      if (a.revVs.nonEmpty) rev += k -> Run(a.revVs, a.revWs, a.degRev)
    }
    apply(edges.result(), fwd, rev)
  }
}

/** Worst-case-optimal delta-query step over node-sharded executor state,
  * with NO per-batch Catalyst planning.
  *
  * Why this exists: a DataFrame form of `deltaStep` re-derives and
  * re-optimizes an ~18-join plan on the driver every micro-batch — measured
  * 3-6 s of single-threaded work per batch, which inverted core-count
  * scaling (local[32] slower than local[8], BENCH_r01). Here each batch is
  * a fixed pipeline of narrow RDD stages against a persisted,
  * hash-partitioned index — the Spark analog of the reference's
  * timely-dataflow workers exchanging prefixes between per-worker indices
  * (/root/reference/src/lib.rs:64-92). Per-batch driver cost is a few
  * milliseconds of task scheduling; all real work is distributed, so
  * throughput scales with cores. This is the documented
  * per-partition-imperative escape hatch: the logic (gallop intersection
  * against mutable keyed state reused across batches) has no declarative
  * DataFrame form with constant plan cost.
  *
  * EXCHANGE FORMAT: every count/propose/intersect hop ships per-target-
  * partition PACKED blocks of longs ((pid, Array[Long]) chunks, ≤256KB),
  * not record-at-a-time case classes. Record-at-a-time exchanges cost
  * ~6µs/record (serializer + per-record allocation, memory-bound, no core
  * scaling — BENCH_r02's ≥32-core latency inversion); packed blocks
  * serialize at memcpy speed under ANY spark.serializer. Record layouts:
  *   prefix  (pLen known per level): [rel, w, minDeg, minExt, p×pLen]
  *   proposal: [rel, w, minExt, p×pLen, nc, cands×nc, candWs×nc]
  *   edge (shard build, [[buildShards]]): [src, dst, w]
  *   match (final level, and the delta step's output): [x0..x{k-1}, w]
  * OUTPUT CONTRACT: [[deltaStep]] and [[deltaStepDistributed]] return
  * `RDD[Array[Long]]`, each element a block of whole match records (k + 1
  * longs each, at most 32,768 longs a block) with bindings in original
  * attribute order and each binding once with its nonzero net weight.
  * Matches stay packed from the final intersect hop to the consumer: no
  * per-match tuple, boxed key or boxed weight is made on the way.
  *
  * Semantics (pinned against a brute-force before/after enumeration by
  * FastEngineSpec): for each motif relation r, seed that relation's delta
  * dataflow with the batch; constraints from relations before r read
  * post-batch state ("le": the base run and the broadcast delta's run
  * read side by side by every kernel, a value's weight being the sum of
  * its two — no merged run is built, [[DeltaEngine.TwoRuns]]), relations
  * after r read pre-batch state ("lt") — the
  * derivatives' outputs sum to the exact match delta. Derivative r emits
  * only bindings whose r atom is in the batch, each at most once, so a
  * binding with a single changed atom has one producer and is already
  * final; only a binding with two or more changed atoms can come out of
  * several derivatives, and only those are consolidated
  * ([[consolidateProps]]). The bulk absorb broadcasts no batch to tell the
  * two apart, so there every match is consolidated. Extension = count →
  * argmin → propose → intersect per level, ties to the lowest extender id,
  * zero-degree prefixes pruned; inline predicates fire at the earliest
  * bound level.
  *
  * PREDICATE PUSHDOWN: ordered/range predicates whose late side is the
  * level's NEW attribute are applied at propose time as a gallop to the
  * allowed window of the value-sorted candidate run (the reference's
  * ordered enumeration via `gallop_gt` over sorted adjacency,
  * /root/reference/naive/src/lib.rs:70-115) — candidates outside the range
  * are never generated, instead of propose-then-discard. All predicates are
  * still re-checked at explode time, so slicing is a pure optimization.
  */
final class DeltaEngine(
    val motif: Seq[(Int, Int)],
    val predicates: Seq[Pred] = Nil,
    val numParts: Int) extends Serializable {

  val plans: IndexedSeq[RelationPlan] = Planner.planAll(motif)
  val numAttrs: Int = plans.head.numAttrs
  val numRels: Int = motif.size
  val partitioner = new HashPartitioner(numParts)

  import DeltaEngine._

  /** predTable(rel)(boundPositions - 2) = predicates fully bound exactly at
    * that prefix length, as (posA, posB, opCode). */
  private val predTable: IndexedSeq[IndexedSeq[Array[(Int, Int, Int)]]] =
    plans.map { plan =>
      (2 to numAttrs).map { bound =>
        predicates.collect {
          case pr if math.max(plan.inverse(pr.a), plan.inverse(pr.b)) == bound - 1 =>
            (plan.inverse(pr.a), plan.inverse(pr.b), DeltaEngine.opCode(pr.op))
        }.toArray
      }.toIndexedSeq
    }

  /** rangeTable(rel)(boundPositions - 2) = ordered predicates between the
    * newly bound position and an earlier one, normalized to a bound on the
    * NEW value: (earlierPos, rangeCode) with rangeCode ∈
    * {0: new < p(pos), 1: new <= p(pos), 2: new > p(pos), 3: new >= p(pos)}.
    * Drives the propose-time gallop slice of sorted candidate runs. */
  private val rangeTable: IndexedSeq[IndexedSeq[Array[(Int, Int)]]] =
    plans.map { plan =>
      (2 to numAttrs).map { bound =>
        val lastPos = bound - 1
        predicates.flatMap { pr =>
          val aPos = plan.inverse(pr.a)
          val bPos = plan.inverse(pr.b)
          if (math.max(aPos, bPos) != lastPos || math.min(aPos, bPos) == lastPos) None
          else if (aPos == lastPos) pr.op match { // new `op` p(bPos)
            case "<" => Some((bPos, 0)); case "<=" => Some((bPos, 1))
            case ">" => Some((bPos, 2)); case ">=" => Some((bPos, 3))
            case _ => None // "!=" is not a range; re-checked at explode
          } else pr.op match { // p(aPos) `op` new
            case "<" => Some((aPos, 2)); case "<=" => Some((aPos, 3))
            case ">" => Some((aPos, 0)); case ">=" => Some((aPos, 1))
            case _ => None
          }
        }.toArray
      }.toIndexedSeq
    }

  /** Window [from, until) of the sorted candidate run `vs` allowed by the
    * range predicates due when position `boundPositions-1` binds; prefix
    * values are read from `p(pOff + pos)`. */
  private[fast] def sliceRangeAt(rel: Int, boundPositions: Int, p: Array[Long],
                                 pOff: Int, vs: Array[Long]): (Int, Int) = {
    val rs = rangeTable(rel)(boundPositions - 2)
    var from = 0
    var until = vs.length
    var i = 0
    while (i < rs.length && from < until) {
      val (pos, code) = rs(i)
      val b = p(pOff + pos)
      code match {
        case 0 => until = math.min(until, IndexState.gallop(vs, b))
        case 1 => if (b != Long.MaxValue)
          until = math.min(until, IndexState.gallop(vs, b + 1))
        case 2 => from =
          if (b == Long.MaxValue) until else math.max(from, IndexState.gallop(vs, b + 1))
        case _ => from = math.max(from, IndexState.gallop(vs, b))
      }
      i += 1
    }
    (from, math.max(from, until))
  }

  /** predsOk for the final level without materializing the extended prefix:
    * `prs` is the level's `predTable` entry, looked up once per proposal,
    * and position `lastPos`'s value is supplied as `last`. */
  private def predsOkWithLast(prs: Array[(Int, Int, Int)], p: Array[Long], last: Long,
                              lastPos: Int): Boolean = {
    var i = 0
    while (i < prs.length) {
      val (pa, pb, op) = prs(i)
      val a = if (pa == lastPos) last else p(pa)
      val b = if (pb == lastPos) last else p(pb)
      if (!DeltaEngine.evalOp(op, a, b)) return false
      i += 1
    }
    true
  }

  private def predsOk(rel: Int, p: Array[Long], boundPositions: Int): Boolean = {
    val prs = predTable(rel)(boundPositions - 2)
    var i = 0
    while (i < prs.length) {
      val (pa, pb, op) = prs(i)
      if (!DeltaEngine.evalOp(op, p(pa), p(pb))) return false
      i += 1
    }
    true
  }

  // ---- executor-side lookups ----
  // Two state regimes share one code path:
  //  - BROADCAST (streaming micro-batch): `pre eq post` is the single
  //    pre-batch shard; an `inclusive` ("le") read takes the base run and
  //    the broadcast DeltaPack's run for the same key side by side
  //    ([[DeltaEngine.TwoRuns]]) — no merged run is built. Hot hub keys are
  //    checked FIRST: a scattered row lands on an arbitrary partition whose
  //    shard does not hold its key; the (pre-content) hot replica does.
  //  - DISTRIBUTED (bulk absorb): `post` is the physically updated shard
  //    co-partitioned with `pre`; `hot` holds DEGREE-ONLY hub entries
  //    (pre-batch degrees) and `dp` carries runs-empty degree deltas for
  //    those hubs, so count reads resolve hub degrees anywhere while
  //    adjacency reads ignore the entries and hit the shards (one run: the
  //    batch side is empty) — see [[deltaStepDistributed]] and
  //    [[buildDegOnlyHot]].

  private def degAt(pre: Shard.T, post: Shard.T, hot: HotMap, dp: DeltaPack, k: Long,
                    forward: Boolean, inclusive: Boolean): Long = {
    val shard = if (inclusive) post else pre
    val h = hot.get(k)
    val base =
      if (h != null) h.deg(forward)
      else shard.get(k) match { case Some(a) => a.deg(forward); case None => 0L }
    if (inclusive) base + dp.run(k, forward).degSum else base
  }

  /** Points `t` at key `k`'s runs for one constraint: the base run (hot
    * replica, else the shard generation the staleness rule picks) and,
    * for an inclusive read, the batch's run; an exclusive read gets an
    * empty batch side. */
  private def runsAt(pre: Shard.T, post: Shard.T, hot: HotMap, dp: DeltaPack, k: Long,
                     forward: Boolean, inclusive: Boolean, t: TwoRuns): Unit = {
    val h = hot.get(k)
    val a =
      if (h != null && !h.degOnly) h // degree-only ≠ adjacency
      else (if (inclusive) post else pre).getOrElse(k, null)
    if (a == null) { t.bvs = emptyRunArray; t.bws = emptyRunArray }
    else { t.bvs = a.vs(forward); t.bws = a.ws(forward) }
    if (inclusive) { val r = dp.run(k, forward); t.dvs = r.vs; t.dws = r.ws }
    else { t.dvs = emptyRunArray; t.dws = emptyRunArray }
  }

  /** Appends the proposal record of prefix `p(pOff until pOff + pLen)`
    * whose candidates are `t`'s two runs, each sliced to the window the
    * range predicates allow once position `pLen` binds, merged straight
    * into the block (weights summed on equal values, zero sums dropped).
    * Returns false, having written nothing, when that merge is empty. */
  private[fast] def putProposal(bb: BlockBuf, pid: Int, rel: Int, w: Long, minExt: Int,
                                p: Array[Long], pOff: Int, pLen: Int, t: TwoRuns): Boolean = {
    val (bFrom, bUntil) = sliceRangeAt(rel, pLen + 1, p, pOff, t.bvs)
    val (dFrom, dUntil) =
      if (t.dvs.length == 0) (0, 0) else sliceRangeAt(rel, pLen + 1, p, pOff, t.dvs)
    val nb = bUntil - bFrom
    val nd = dUntil - dFrom
    if (nd == 0) {
      if (nb > 0) putProp(bb, pid, rel, w, minExt, p, pOff, pLen, t.bvs, bFrom, t.bws, bFrom, nb)
      return nb > 0
    }
    val max = nb + nd
    val b = bb.reserve(pid, 4 + pLen + 2 * max)
    var o = bb.off(pid)
    b(o) = rel; b(o + 1) = w; b(o + 2) = minExt
    System.arraycopy(p, pOff, b, o + 3, pLen)
    val ncAt = o + 3 + pLen
    o = ncAt + 1
    val nc = mergeWindows(t.bvs, t.bws, bFrom, bUntil, t.dvs, t.dws, dFrom, dUntil, b, o, o + max)
    if (nc == 0) return false
    if (nc < max) System.arraycopy(b, o + max, b, o + nc, nc)
    b(ncAt) = nc
    bb.advance(pid, 4 + pLen + 2 * nc)
    true
  }

  /** Routing key for a lookup on `k`: cold keys go to their shard's
    * partition; HOT (replicated) keys scatter by prefix-content hash — the
    * skew treatment the north rule requires. Without it the Zipf hubs pull
    * whole levels onto one partition and core-count scaling inverts
    * (measured: the hub partition processed ~90% of a batch's bytes).
    * `adjacency = true` marks hops that will READ THE RUNS: degree-only
    * hot entries (bulk path) can serve only counts, so adjacency hops
    * stay key-routed for them. */
  private def routeKeyAt(k: Long, hot: HotMap, p: Array[Long], pOff: Int,
                         pLen: Int, salt: Int, adjacency: Boolean = false): Long = {
    val h = hot.get(k)
    if (h != null && !(adjacency && h.degOnly))
      DeltaEngine.scatterKeyAt(p, pOff, pLen, salt)
    else k
  }

  /** Target partition for count slot `i` of stage `s` (out-of-range slots
    * pass through, scattered for balance). */
  private def countPid(stages: IndexedSeq[IndexedSeq[Planner.Constraint]],
                       hot: HotMap, rel: Int, p: Array[Long], pOff: Int,
                       pLen: Int, s: Int, i: Int): Int = {
    val cs = stages(rel)
    val key =
      if (i < cs.size) routeKeyAt(p(pOff + cs(i).prefixPos), hot, p, pOff, pLen, s * 7 + i)
      else DeltaEngine.scatterKeyAt(p, pOff, pLen, s * 7 + i)
    DeltaEngine.partOf(key, numParts)
  }

  /** Target partition for intersect hop `j` of stage `s` (the j-th
    * non-proposing extender; pass-throughs scattered). Intersect READS the
    * extender's runs → adjacency routing. */
  private def isectPid(stages: IndexedSeq[IndexedSeq[Planner.Constraint]],
                       hot: HotMap, rel: Int, minExt: Int, p: Array[Long],
                       pOff: Int, pLen: Int, s: Int, j: Int): Int = {
    val cs = stages(rel)
    val key =
      if (j < cs.size - 1) {
        val o = if (j < minExt) j else j + 1
        routeKeyAt(p(pOff + cs(o).prefixPos), hot, p, pOff, pLen, s * 7 + 6 + j,
          adjacency = true)
      } else DeltaEngine.scatterKeyAt(p, pOff, pLen, s * 7 + 6 + j)
    DeltaEngine.partOf(key, numParts)
  }

  /** Level 0 without any prefix exchange OR cluster job: the seed set IS the
    * broadcast delta and every seed-level degree comes from the driver's
    * exact degree mirror, so the argmin routing table (one byte-ish per
    * seed×relation) is computed driver-side and broadcast, and each
    * partition emits exactly the proposals assigned to it, in place.
    * Replaces a parallelize + E count exchanges + a propose exchange — the
    * per-batch stage floor that capped core-count scaling at small batch
    * sizes. Requires the mirror (`degMirrorMaxKeys > 0`); without it
    * [[seedPfxBlocks]] + the count chain serve the same role with a
    * sharded degree hop instead of O(|V|) driver state. */
  private def seedPropose(sc: SparkContext, shards: RDD[Shard.T],
                          hot: DeltaEngine.HotProvider,
                          dp: Broadcast[DeltaPack], dpLocal: DeltaPack,
                          degMirror: (Long, Boolean) => Long): RDD[(Int, Array[Long])] = {
    val stage0 = plans.map(_.stages(0))
    val engine = this
    // driver: gather every (seed, rel, ext) degree from the exact mirror
    // (folded degSums — O(|touched keys|) driver work per batch, no cluster
    // job), then argmin in extender order: strictly smaller wins, ties keep
    // the lowest extender id. pruneZero → -1.
    val maxE0 = stage0.map(_.size).max
    val nE = dpLocal.edges.length
    val degs = Array.fill(nE * numRels * maxE0)(0L)
    var j = 0
    while (j < nE) {
      val (s0, d0, _) = dpLocal.edges(j)
      val p = Array(s0, d0)
      var r = 0
      while (r < numRels) {
        if (predsOk(r, p, 2)) {
          val cs = stage0(r)
          var i = 0
          while (i < cs.size) {
            val k = p(cs(i).prefixPos)
            val base = degMirror(k, cs(i).forward)
            degs((j * numRels + r) * maxE0 + i) =
              if (cs(i).inclusive) base + dpLocal.run(k, cs(i).forward).degSum
              else base
            i += 1
          }
        }
        r += 1
      }
      j += 1
    }
    val routing = Array.fill(nE * numRels)(-1)
    j = 0
    while (j < nE) {
      val (s0, d0, _) = dpLocal.edges(j)
      val p = Array(s0, d0)
      var r = 0
      while (r < numRels) {
        if (predsOk(r, p, 2)) {
          val cs = stage0(r)
          var best = Long.MaxValue
          var bestI = -1
          var i = 0
          while (i < cs.size) {
            val dgi = degs((j * numRels + r) * maxE0 + i)
            if (dgi < best) { best = dgi; bestI = i }
            i += 1
          }
          if (best > 0L) routing(j * numRels + r) = bestI // pruneZero
        }
        r += 1
      }
      j += 1
    }
    val routeB = sc.broadcast(routing)

    // (d) propose in place on the assigned partition, emitting proposal
    // blocks routed for intersect hop 0 (or kept local when the stage has a
    // single extender — nothing left to validate)
    shards.mapPartitionsWithIndex { (pid, it) =>
      val shard = it.next()
      val d = dp.value
      val h = hot.value
      val route = routeB.value
      val t = new TwoRuns
      boundedIt(engine.numParts, Iterator.range(0, d.edges.length)) { (j, bb) =>
        val (s0, d0, w) = d.edges(j)
        var r = 0
        while (r < engine.numRels) {
          val i = route(j * engine.numRels + r)
          if (i >= 0) {
            val p = Array(s0, d0)
            val cst = stage0(r)(i)
            val k = p(cst.prefixPos)
            val assigned =
              if (h.containsKey(k))
                DeltaEngine.partOf(DeltaEngine.scatterKeyAt(p, 0, 2, 3), engine.numParts) == pid
              else engine.partitioner.getPartition(k) == pid
            if (assigned) {
              runsAt(shard, shard, h, d, k, cst.forward, cst.inclusive, t)
              val tPid = if (maxE0 >= 2) isectPid(stage0, h, r, i, p, 0, 2, 0, 0) else pid
              putProposal(bb, tPid, r, w, i, p, 0, 2, t)
            }
          }
          r += 1
        }
      }
    }
  }

  /** The one level-0 seed writer, run inside a partition: every edge of
    * `edges` (zero weights skipped) becomes a stage-0 prefix record
    * [rel, w, minDeg = ∞, minExt = -1, src, dst] routed for count slot 0,
    * for relations 0 until `rels` (all relations for a delta step, relation
    * 0 alone for batch enumeration, whose plan enforces every relation).
    * Seed degrees are then gathered by the count chain against their
    * owning shards — no driver degree mirror needed. */
  private def seedPfxBlocks(edges: Iterator[(Long, Long, Long)], h: DeltaEngine.HotMap,
                            rels: Int): Iterator[(Int, Array[Long])] = {
    val stage0 = plans.map(_.stages(0))
    val p = new Array[Long](2)
    boundedIt(numParts, edges) { (e, bb) =>
      if (e._3 != 0L) {
        p(0) = e._1; p(1) = e._2
        var r = 0
        while (r < rels) {
          if (predsOk(r, p, 2))
            putPfx(bb, countPid(stage0, h, r, p, 0, 2, 0, 0), r, e._3, Long.MaxValue, -1, p, 0, 2)
          r += 1
        }
      }
    }
  }

  /** Count chain + propose for one level over distributed prefix blocks
    * (input routed for count slot 0; output = proposal blocks routed for
    * intersect hop 0, or kept local when the stage has a single extender). */
  private def countPropose(pre: RDD[Shard.T], post: RDD[Shard.T],
                           hot: DeltaEngine.HotProvider,
                           dp: Broadcast[DeltaPack],
                           cur: RDD[(Int, Array[Long])], s: Int): RDD[(Int, Array[Long])] = {
    val stages = plans.map(_.stages(s))
    val maxE = stages.map(_.size).max
    val pLen = s + 2
    val rec = pLen + 4
    val engine = this
    val np = numParts

    // count: thread the running argmin through one exchange per extender
    // slot (the reference's count chain, /root/reference/src/index.rs:343-384)
    var c = cur
    for (i <- 0 until maxE) {
      val last = i == maxE - 1
      c = c.partitionBy(DeltaEngine.identityPartitioner(np))
        .zipPartitions(pre, post, preservesPartitioning = false) { (it, sh1, sh2) =>
          val preSh = sh1.next()
          val postSh = sh2.next()
          val h = hot.value
          val d = dp.value
          new BoundedStage(np, it) {
            protected def processSome(block: Array[Long], off0: Int): Int = {
              var off = off0
              while (off < block.length && bb.completedChunks == 0) {
                val rel = block(off).toInt
                val w = block(off + 1)
                var minDeg = block(off + 2)
                var minExt = block(off + 3).toInt
                val pOff = off + 4
                val cs = stages(rel)
                if (i < cs.size) {
                  val cst = cs(i)
                  val deg = engine.degAt(preSh, postSh, h, d, block(pOff + cst.prefixPos),
                    cst.forward, cst.inclusive)
                  if (deg < minDeg) { minDeg = deg; minExt = i }
                }
                if (!last) {
                  val pid = engine.countPid(stages, h, rel, block, pOff, pLen, s, i + 1)
                  putPfx(bb, pid, rel, w, minDeg, minExt, block, pOff, pLen)
                } else if (minDeg > 0L) { // pruneZero (net multiplicities non-negative)
                  // route for the propose lookup on the argmin extender's
                  // key — propose READS the runs → adjacency routing
                  val k = block(pOff + cs(minExt).prefixPos)
                  val key = engine.routeKeyAt(k, h, block, pOff, pLen, s * 7 + 5,
                    adjacency = true)
                  putPfx(bb, DeltaEngine.partOf(key, np), rel, w, minDeg, minExt,
                    block, pOff, pLen)
                }
                off += rec
              }
              off
            }
          }
        }
    }

    // propose from the argmin extender's adjacency run, sliced to the
    // window allowed by this level's range predicates (gallop pushdown)
    c.partitionBy(DeltaEngine.identityPartitioner(np))
      .zipPartitions(pre, post, preservesPartitioning = false) { (it, sh1, sh2) =>
        val preSh = sh1.next()
        val postSh = sh2.next()
        val h = hot.value
        val d = dp.value
        val t = new TwoRuns
        new BoundedStage(np, it) {
          protected def processSome(block: Array[Long], off0: Int): Int = {
            var off = off0
            while (off < block.length && bb.completedChunks == 0) {
              val rel = block(off).toInt
              val w = block(off + 1)
              val minExt = block(off + 3).toInt
              val pOff = off + 4
              val cst = stages(rel)(minExt)
              engine.runsAt(preSh, postSh, h, d, block(pOff + cst.prefixPos),
                cst.forward, cst.inclusive, t)
              val pid =
                if (maxE >= 2) engine.isectPid(stages, h, rel, minExt, block, pOff, pLen, s, 0)
                else curPid
              engine.putProposal(bb, pid, rel, w, minExt, block, pOff, pLen, t)
              off += rec
            }
            off
          }
        }
      }
  }

  /** Intersect chain for level `s`: validate each proposal against every
    * non-proposing extender, galloping the index run. Input = proposal
    * blocks (routed for hop 0 when any hop exists); output = decoded
    * proposals, already on their final partition (no further exchange). */
  private def intersectChain(pre: RDD[Shard.T], post: RDD[Shard.T],
                             hot: DeltaEngine.HotProvider,
                             dp: Broadcast[DeltaPack],
                             props: RDD[(Int, Array[Long])], s: Int): RDD[Prop] = {
    val stages = plans.map(_.stages(s))
    val maxE = stages.map(_.size).max
    val nIsect = maxE - 1
    val pLen = s + 2
    val engine = this
    val np = numParts

    if (nIsect == 0)
      return props.mapPartitions(_.flatMap(b => decodeProps(b._2, pLen)))

    var cur = props
    for (j <- 0 until nIsect - 1) {
      cur = cur.partitionBy(DeltaEngine.identityPartitioner(np))
        .zipPartitions(pre, post, preservesPartitioning = false) { (it, sh1, sh2) =>
          val preSh = sh1.next()
          val postSh = sh2.next()
          val h = hot.value
          val d = dp.value
          val t = new TwoRuns
          new BoundedStage(np, it) {
            protected def processSome(block: Array[Long], off0: Int): Int = {
              var off = off0
              while (off < block.length && bb.completedChunks == 0) {
                val rel = block(off).toInt
                val w = block(off + 1)
                val minExt = block(off + 2).toInt
                val pOff = off + 3
                val ncOff = pOff + pLen
                val nc = block(ncOff).toInt
                val cOff = ncOff + 1
                val wOff = cOff + nc
                val cs = stages(rel)
                if (j < cs.size - 1) {
                  val o = if (j < minExt) j else j + 1
                  val cst = cs(o)
                  engine.runsAt(preSh, postSh, h, d, block(pOff + cst.prefixPos),
                    cst.forward, cst.inclusive, t)
                  val m = intersectTwo(block, cOff, block, wOff, nc, t)
                  if (m > 0) {
                    val pid = engine.isectPid(stages, h, rel, minExt, block, pOff, pLen, s, j + 1)
                    putProp(bb, pid, rel, w, minExt, block, pOff, pLen, t.vs, 0, t.ws, 0, m)
                  }
                } else {
                  val pid = engine.isectPid(stages, h, rel, minExt, block, pOff, pLen, s, j + 1)
                  putProp(bb, pid, rel, w, minExt, block, pOff, pLen, block, cOff, block, wOff, nc)
                }
                off = wOff + nc
              }
              off
            }
          }
        }
    }
    // final hop: decode straight to Prop objects, consumed in place by
    // explode / the packed output stage (both narrow). An inclusive hop
    // reads the batch run of its atom, so it records per survivor whether
    // that run holds it, and [[markMulti]] need not walk that atom again.
    val j = nIsect - 1
    cur.partitionBy(DeltaEngine.identityPartitioner(np))
      .zipPartitions(pre, post, preservesPartitioning = false) { (it, sh1, sh2) =>
        val preSh = sh1.next()
        val postSh = sh2.next()
        val h = hot.value
        val d = dp.value
        val t = new TwoRuns
        it.flatMap { case (_, block) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Prop]
          var off = 0
          while (off < block.length) {
            val rel = block(off).toInt
            val w = block(off + 1)
            val minExt = block(off + 2).toInt
            val pOff = off + 3
            val ncOff = pOff + pLen
            val nc = block(ncOff).toInt
            val cOff = ncOff + 1
            val wOff = cOff + nc
            off = wOff + nc
            def p = java.util.Arrays.copyOfRange(block, pOff, pOff + pLen)
            val cs = stages(rel)
            if (j < cs.size - 1) {
              val o = if (j < minExt) j else j + 1
              val cst = cs(o)
              engine.runsAt(preSh, postSh, h, d, block(pOff + cst.prefixPos),
                cst.forward, cst.inclusive, t)
              val m = intersectTwo(block, cOff, block, wOff, nc, t)
              if (m > 0)
                out += Prop(rel, p, w, minExt,
                  java.util.Arrays.copyOf(t.vs, m), java.util.Arrays.copyOf(t.ws, m),
                  if (cst.inclusive) hitCode(cst.prefixPos, cst.forward) else -1,
                  if (cst.inclusive && t.dvs.length > 0) java.util.Arrays.copyOf(t.hit, m)
                  else null)
            } else {
              out += Prop(rel, p, w, minExt,
                java.util.Arrays.copyOfRange(block, cOff, cOff + nc),
                java.util.Arrays.copyOfRange(block, wOff, wOff + nc))
            }
          }
          out.iterator
        }
      }
  }

  /** Explode validated level-`s` proposals into next-level prefix blocks,
    * routed for level s+1's count slot 0. */
  private def explodeToPfxBlocks(props: RDD[Prop], hot: DeltaEngine.HotProvider,
                                 s: Int): RDD[(Int, Array[Long])] = {
    val boundAfter = s + 3
    val nextStages = plans.map(_.stages(s + 1))
    val engine = this
    val np = numParts
    props.mapPartitions { it =>
      val h = hot.value
      boundedIt(np, it) { (prop, bb) =>
        var i = 0
        while (i < prop.cands.length) {
          val w = prop.w * prop.candWs(i)
          if (w != 0L) {
            val p2 = java.util.Arrays.copyOf(prop.p, prop.p.length + 1)
            p2(prop.p.length) = prop.cands(i)
            if (engine.predsOk(prop.rel, p2, boundAfter)) {
              val pid = engine.countPid(nextStages, h, prop.rel, p2, 0, p2.length, s + 1, 0)
              putPfx(bb, pid, prop.rel, w, Long.MaxValue, -1, p2, 0, p2.length)
            }
          }
          i += 1
        }
      }
    }
  }

  /** Runs one batch's delta step. Returns the CONSOLIDATED motif match
    * deltas as packed blocks of `[x0..x{k-1}, w]` records (bindings
    * un-permuted to original attribute order, net weight ≠ 0), each binding
    * once. Only bindings with two or more atoms in the broadcast batch are
    * summed by [[consolidateProps]]; the rest have one producer. */
  def deltaStep(sc: SparkContext, shards: RDD[Shard.T], hot: DeltaEngine.HotProvider,
                dp: Broadcast[DeltaPack], dpLocal: DeltaPack,
                degMirror: Option[(Long, Boolean) => Long] = None): RDD[Array[Long]] = {
    if (numAttrs == 2) {
      val seeds = dpLocal.edges
      val nSlices = math.max(1, math.min(numParts, seeds.length / 64 + 1))
      return edgeMatches(sc.parallelize(ArraySeq.unsafeWrapArray(seeds), nSlices))
    }
    // level 0 fused over the broadcast seed set (driver degree mirror), or
    // fully distributed via the count chain when the mirror is disabled:
    // each partition seeds its deterministic stride of the broadcast batch
    val level0 = degMirror match {
      case Some(f) => seedPropose(sc, shards, hot, dp, dpLocal, f)
      case None =>
        val engine = this
        val np = numParts
        val seeds = shards.mapPartitionsWithIndex { (pid, it) =>
          it.next() // shard content unused — only the partition's identity
          val d = dp.value
          engine.seedPfxBlocks(Iterator.range(pid, d.edges.length, np).map(d.edges),
            hot.value, engine.numRels)
        }
        countPropose(shards, shards, hot, dp, seeds, 0)
    }
    consolidateProps(extend(shards, shards, hot, dp, level0), Some(dp))
  }

  /** The one level loop: intersect level 0's proposal blocks, then run
    * count → propose → intersect for every later level. `pre`/`post` are
    * the state generations read by exclusive ("lt") and inclusive ("le")
    * constraints (the same RDD outside the bulk absorb). Returns the last
    * level's validated proposals. */
  private def extend(pre: RDD[Shard.T], post: RDD[Shard.T], hot: DeltaEngine.HotProvider,
                     dp: Broadcast[DeltaPack], level0: RDD[(Int, Array[Long])]): RDD[Prop] = {
    var pr = intersectChain(pre, post, hot, dp, level0, 0)
    for (s <- 1 to numAttrs - 3)
      pr = intersectChain(pre, post, hot, dp,
        countPropose(pre, post, hot, dp, explodeToPfxBlocks(pr, hot, s - 1), s), s)
    pr
  }

  /** Single-edge motif (no extension stage): the consolidated seeds ARE
    * the matches. The planner rejects a second relation on two attributes,
    * so each seed yields at most one binding and no shuffle is needed. */
  private def edgeMatches(seeds: RDD[(Long, Long, Long)]): RDD[Array[Long]] = {
    val inv = plans.head.inverse.toArray
    val engine = this
    seeds.mapPartitions { it =>
      boundedIt(1, it) { case ((s, d, w), bb) =>
        val p = Array(s, d)
        if (w != 0L && engine.predsOk(0, p, 2)) {
          val b = bb.reserve(0, 3)
          val o = bb.off(0)
          b(o) = p(inv(0)); b(o + 1) = p(inv(1)); b(o + 2) = w
          bb.advance(0, 3)
        }
      }.map(_._2)
    }
  }

  /** Final level: explode straight into per-target-partition PACKED blocks
    * of [x0..x{k-1}, w] longs — the output exchange then moves ~P² big
    * primitive arrays instead of millions of tiny records. Measured:
    * record-at-a-time consolidation cost ~6µs/match (Kryo + per-record
    * allocation, memory-bound, no core scaling); packed blocks serialize at
    * memcpy speed with ZERO map-side allocation per match.
    *
    * Only matches that two derivatives can emit are consolidated.
    * Derivative r emits a binding only when its r atom is in the
    * consolidated batch, and at most once (its seeds and runs are
    * consolidated), so a binding none of whose OTHER atoms is in the batch
    * has one producer and already carries its net weight. [[markMulti]]
    * flags the rest — including a binding whose other atom is the seed's own
    * edge (a self-loop or repeated node), since that edge is in the batch.
    * Flagged matches are hash-routed by binding and summed in a
    * [[SpillConsolidator]]; every other match is packed under the tag
    * `np + map partition`, and the reduce side passes each such block on
    * whole, with no per-record work. `dp` is the broadcast batch, or None
    * when there is none (the bulk absorb, whose DeltaPack holds degrees
    * only): then every match is consolidated. Both sides are
    * effort-bounded: the map side streams chunks through [[boundedIt]],
    * and the consolidator's in-memory table is capped (sorted runs spill to
    * local disk and k-way merge), so a match-delta set larger than task
    * memory still completes.
    *
    * The output stays packed: the direct blocks as they arrived, then the
    * consolidator's blocks, none over 32,768 longs. A tuple per match here
    * (boxed key and weight, plus a boxed hash-map entry per summed match)
    * made this stage 1,092 of the 2,702 ms executor CPU per
    * `stream_churn_b20000` batch; packed, it is 364 of 1,838 ms (traced
    * seed-42 pair, 4 cores). */
  private def consolidateProps(pr: RDD[Prop],
                               dp: Option[Broadcast[DeltaPack]]): RDD[Array[Long]] = {
    val inverses = plans.map(_.inverse.toArray)
    val n = numAttrs
    val lastPos = n - 1
    val np = numParts
    val packed: RDD[(Int, Array[Long])] =
      pr.mapPartitionsWithIndex { (part, it) =>
        val d = dp.map(_.value).orNull
        val direct = np + part % np
        var mark = new Array[Boolean](64)
        boundedIt(2 * np, it) { (prop, bb) =>
          val inv = inverses(prop.rel)
          val prs = predTable(prop.rel)(n - 2)
          if (mark.length < prop.cands.length) mark = new Array[Boolean](prop.cands.length)
          val allMulti = d == null || markMulti(prop, d, mark)
          var i = 0
          while (i < prop.cands.length) {
            val w = prop.w * prop.candWs(i)
            if (w != 0L) {
              val cand = prop.cands(i)
              if (prs.length == 0 || predsOkWithLast(prs, prop.p, cand, lastPos)) {
                var a = 0
                val pid =
                  if (allMulti || mark(i)) {
                    var h = 0L
                    while (a < n) {
                      val v = if (inv(a) == lastPos) cand else prop.p(inv(a))
                      h = h * 0x9e3779b97f4a7c15L + v + 1
                      a += 1
                    }
                    h ^= h >>> 32
                    ((h % np) + np).toInt % np
                  } else direct
                val buf = bb.reserve(pid, n + 1)
                var off = bb.off(pid)
                a = 0
                while (a < n) {
                  buf(off) = if (inv(a) == lastPos) cand else prop.p(inv(a))
                  off += 1; a += 1
                }
                buf(off) = w
                bb.advance(pid, n + 1)
              }
            }
            i += 1
          }
        }
      }
    val rec = n + 1
    packed
      .partitionBy(DeltaEngine.identityPartitioner(np))
      .mapPartitions({ it =>
        val m = new SpillConsolidator(n, SpillConsolidator.defaultMaxEntries(n))
        it.flatMap { case (pid, block) =>
          if (pid >= np) Iterator.single(block)
          else {
            var off = 0
            while (off < block.length) { m.add(block, off); off += rec }
            Iterator.empty
          }
        } ++ m.result()
      }, preservesPartitioning = false)
  }

  /** Other-atom table of [[markMulti]]: for each relation r, every motif
    * atom t ≠ r as its (source, destination) prefix positions in r's plan. */
  private val otherAtoms: IndexedSeq[Array[(Int, Int)]] =
    plans.map { plan =>
      motif.indices.filter(_ != plan.seedRelation).map { t =>
        (plan.inverse(motif(t)._1), plan.inverse(motif(t)._2))
      }.toArray
    }

  /** Classifies a final-level proposal against the broadcast batch `d`:
    * true when some other atom of every candidate's binding is in `d` (an
    * atom inside the prefix, tested once); otherwise `mark(i)` tells whether
    * candidate i's binding has one (an atom on the last attribute: the batch
    * run of its bound endpoint — forward when that endpoint is the source —
    * merge-walked against the sorted candidates, galloping over gaps). The
    * atom whose batch run the final intersect hop already read
    * ([[Prop.hitAtom]]) is not walked again: its `hits` seed `mark`. */
  private def markMulti(prop: Prop, d: DeltaPack, mark: Array[Boolean]): Boolean = {
    val lastPos = numAttrs - 1
    val cands = prop.cands
    if (prop.hits != null) System.arraycopy(prop.hits, 0, mark, 0, cands.length)
    else java.util.Arrays.fill(mark, 0, cands.length, false)
    val atoms = otherAtoms(prop.rel)
    var t = 0
    while (t < atoms.length) {
      val (sp, dpos) = atoms(t)
      if (sp != lastPos && dpos != lastPos) {
        if (java.util.Arrays.binarySearch(d.run(prop.p(sp), forward = true).vs, prop.p(dpos)) >= 0)
          return true
      } else if (hitCode(if (dpos == lastPos) sp else dpos, dpos == lastPos) != prop.hitAtom) {
        val forward = dpos == lastPos
        val run = d.run(prop.p(if (forward) sp else dpos), forward).vs
        var i = 0
        var off = 0
        while (i < cands.length && off < run.length) {
          off = IndexState.gallop(run, cands(i), off)
          if (off < run.length && run(off) == cands(i)) mark(i) = true
          i += 1
        }
      }
      t += 1
    }
    false
  }

  /** Distributed delta step for LARGE batches — drops every |batch| ≪
    * |state| assumption of [[deltaStep]]: the CONSOLIDATED batch stays an
    * RDD (never collected, never broadcast), seeds flow through the count
    * chain like batch enumeration, and the le/lt staleness rule reads two
    * physically co-partitioned shard generations — `postShards`
    * (= `preShards` + batch, built by [[updateShardsDistributed]]) for
    * inclusive ("le") constraints, `preShards` for the rest — instead of
    * reading a broadcast DeltaPack's runs next to the base. Output is identical to
    * `deltaStep` on the same batch (pinned by FastEngineSpec): post = pre ⊎
    * delta by construction, so every lookup sees byte-equal state. With no
    * broadcast batch to classify against, every match goes through the
    * consolidating exchange ([[consolidateProps]] with `dp = None`).
    *
    * Hub skew is handled with DEGREE-ONLY hot entries
    * ([[DeltaEngine.buildDegOnlyHot]]): a full adjacency replica cannot be
    * broadcast here (its pre-batch runs would serve stale inclusive reads,
    * and hub adjacency deltas can be as large as the batch), but hub
    * DEGREES are O(1) scalars — count hops scatter hub traffic and answer
    * from the broadcast (pre degree + batch degree-delta), while
    * propose/intersect hops stay key-routed to the shards that hold the
    * runs. */
  def deltaStepDistributed(sc: SparkContext, preShards: RDD[Shard.T],
                           postShards: RDD[Shard.T],
                           batch: RDD[(Long, Long, Long)]): RDD[Array[Long]] = {
    if (numAttrs == 2) return edgeMatches(batch)
    // degree-only hub broadcast: COUNT hops on hub keys scatter and answer
    // from these O(hotK)-scalar structures; adjacency hops stay key-routed
    // (degOnly entries are invisible to runsAt). Replaces the earlier
    // hot-disabled regime where hub count traffic concentrated on the
    // hub's partition for the whole bulk absorb.
    val (degHot, degPack) =
      DeltaEngine.buildDegOnlyHot(preShards, batch, 8 * numParts)
    val hot = DeltaEngine.BcastHot(sc.broadcast(degHot))
    val dp = sc.broadcast(degPack)
    val engine = this
    val seeds = batch.mapPartitions(it => engine.seedPfxBlocks(it, hot.value, engine.numRels))
    consolidateProps(extend(preShards, postShards, hot, dp,
      countPropose(preShards, postShards, hot, dp, seeds, 0)), None)
  }

  /** Folds a distributed consolidated batch into the shards WITHOUT any
    * driver materialization or broadcast: the batch is built into delta
    * shards under the same partitioner, then merged key-by-key with the
    * base by [[DeltaEngine.mergeAdj]]. Partitioning preserved. */
  def updateShardsDistributed(shards: RDD[Shard.T],
                              batch: RDD[(Long, Long, Long)]): RDD[Shard.T] =
    shards.zipPartitions(buildShards(batch), preservesPartitioning = true) { (a, b) =>
      var next = a.next()
      b.next().foreach { case (k, d) =>
        val adj = DeltaEngine.mergeAdj(next.getOrElse(k, DeltaEngine.emptyAdj), d)
        next =
          if (adj.fwdVs.isEmpty && adj.revVs.isEmpty) next.removed(k)
          else next.updated(k, adj)
      }
      Iterator.single(next)
    }

  // ---- batch (static-index) enumeration ----

  /** Batch enumeration over a static CONSOLIDATED edge set against
    * initialized shards — the fast-engine analog of the reference's
    * static-index serving mode (reference static_graph/src/lib.rs:73-137).
    * Seeds are the distributed edge RDD itself (relation 0's bindings);
    * every constraint reads the same fully-built index (`dp` must be the
    * empty DeltaPack) — none of deltaStep's |delta| ≪ |state| broadcast
    * assumptions apply. Relation 0's plan alone enforces every motif
    * relation, and one pipeline over a consolidated Z-set emits each
    * binding exactly once, so the output needs NO consolidation shuffle. */
  private def staticMatches(shards: RDD[Shard.T], hot: DeltaEngine.HotProvider,
                            dp: Broadcast[DeltaPack],
                            edges: RDD[(Long, Long, Long)]): RDD[Prop] = {
    val engine = this
    val seeds = edges.mapPartitions(it => engine.seedPfxBlocks(it, hot.value, 1))
    extend(shards, shards, hot, dp, countPropose(shards, shards, hot, dp, seeds, 0))
  }

  /** Partition-local count→argmin→propose→intersect over ONE seed against a
    * FULL in-memory [[LocalIndex]] — the zero-exchange batch pipeline used
    * when the consolidated graph fits the broadcast budget (see
    * [[FastBatch.localIndexMaxEdges]]). Lookup math is identical to the
    * sharded exchange pipeline ([[staticMatches]]): same argmin/pruneZero
    * count, same range-predicate gallop slice at propose, same weighted
    * run intersections, same predsOk/predsOkWithLast gates — only the
    * routing exchanges are gone, because every key resolves in `h`.
    * `emit(prefix, lastCand, weight)` fires once per match. */
  private def localVisitSeed(h: LocalIndex, s0: Long, d0: Long, w0: Long,
                             emit: (Array[Long], Long, Long) => Unit,
                             agg: DeltaEngine.LongAgg = null): Unit = {
    val stages = plans(0).stages
    val n = numAttrs
    // Count-only fast path (enumerateLocalAgg with no final-level ne/!=
    // predicates): the LAST level's final intersection is never
    // materialized — the deferred run is counted with a zero-allocation
    // galloping intersect instead of intersectRuns' two result arrays +
    // copyOf per prefix (for clique4 at sf0.1 that is ~86M allocations
    // across 21.6M final-level calls). Exactness: the counting intersect
    // applies the identical nonzero-product rule as intersectRuns + the
    // emit loop's w2 != 0 check.
    val lastPreds = predTable(0)(n - 2)
    val countLastOk = agg != null && lastPreds.isEmpty

    // `inhVs/inhWs`: the parent level's final candidate run, reusable as
    // the pre-computed intersection of every inherited constraint (see
    // localInheritOk) — clique-shaped levels then intersect |C| + deg(new)
    // instead of re-intersecting every inherited adjacency from scratch.
    def extend(p: Array[Long], w: Long, level: Int,
               inhVs: Array[Long], inhWs: Array[Long]): Unit = {
      val cs = stages(level)
      // count/argmin + pruneZero: ALWAYS over the real extender degrees, so
      // pruning is bit-identical with or without inheritance
      var minDeg = Long.MaxValue
      var minExt = -1
      var i = 0
      while (i < cs.size) {
        val cst = cs(i)
        val a = h.get(p(cst.prefixPos))
        val deg = if (a == null) 0L else a.deg(cst.forward)
        if (deg < minDeg) { minDeg = deg; minExt = i }
        i += 1
      }
      if (minDeg <= 0L) return // pruneZero (net multiplicities non-negative)
      // In the count-only fast path the FINAL level's last pending
      // intersection is deferred into a zero-allocation counting intersect
      // (dvs/dws) instead of materializing result arrays per prefix.
      val deferLast = countLastOk && level == stages.size - 1
      var cvs: Array[Long] = null
      var cws: Array[Long] = null
      var dvs: Array[Long] = null
      var dws: Array[Long] = null
      if (inhVs != null) {
        // propose from the inherited intersection: slice it by this level's
        // range predicates, then intersect only the non-inherited extenders
        cvs = inhVs; cws = inhWs
        val (from, until) = sliceRangeAt(0, level + 3, p, 0, cvs)
        if (until <= from) return
        if (from > 0 || until < cvs.length) {
          cvs = java.util.Arrays.copyOfRange(cvs, from, until)
          cws = java.util.Arrays.copyOfRange(cws, from, until)
        }
        val extra = localExtras(level)
        val lim = if (deferLast && extra.length > 0) extra.length - 1 else extra.length
        var j = 0
        while (j < lim && cvs.length > 0) {
          val cst = extra(j)
          val a = h.get(p(cst.prefixPos))
          val r =
            if (a == null) (Array.empty[Long], Array.empty[Long])
            else DeltaEngine.intersectRuns(cvs, cws, a.vs(cst.forward), a.ws(cst.forward))
          cvs = r._1; cws = r._2
          j += 1
        }
        if (deferLast && extra.length > 0 && cvs.length > 0) {
          val cst = extra(extra.length - 1)
          val a = h.get(p(cst.prefixPos))
          dvs = if (a == null) DeltaEngine.emptyRunArray else a.vs(cst.forward)
          dws = if (a == null) DeltaEngine.emptyRunArray else a.ws(cst.forward)
        }
      } else {
        val ac = cs(minExt)
        val am = h.get(p(ac.prefixPos))
        cvs = am.vs(ac.forward)
        cws = am.ws(ac.forward)
        val (from, until) = sliceRangeAt(0, level + 3, p, 0, cvs)
        if (until <= from) return
        if (from > 0 || until < cvs.length) {
          cvs = java.util.Arrays.copyOfRange(cvs, from, until)
          cws = java.util.Arrays.copyOfRange(cws, from, until)
        }
        val others = cs.size - 1
        val lim = if (deferLast && others > 0) others - 1 else others
        var j = 0
        while (j < lim && cvs.length > 0) {
          val o = if (j < minExt) j else j + 1
          val cst = cs(o)
          val a = h.get(p(cst.prefixPos))
          val r =
            if (a == null) (Array.empty[Long], Array.empty[Long])
            else DeltaEngine.intersectRuns(cvs, cws, a.vs(cst.forward), a.ws(cst.forward))
          cvs = r._1; cws = r._2
          j += 1
        }
        if (deferLast && others > 0 && cvs.length > 0) {
          val o = if (others - 1 < minExt) others - 1 else others
          val cst = cs(o)
          val a = h.get(p(cst.prefixPos))
          dvs = if (a == null) DeltaEngine.emptyRunArray else a.vs(cst.forward)
          dws = if (a == null) DeltaEngine.emptyRunArray else a.ws(cst.forward)
        }
      }
      if (cvs.length == 0) return
      if (level == stages.size - 1) {
        if (deferLast) {
          if (dvs != null) DeltaEngine.countIntersect(cvs, cws, dvs, dws, w, agg)
          else {
            var c = 0
            while (c < cvs.length) {
              val w2 = w * cws(c)
              if (w2 != 0L) { agg.cnt += 1L; agg.tot += w2 }
              c += 1
            }
          }
          return
        }
        var c = 0
        while (c < cvs.length) {
          val w2 = w * cws(c)
          if (w2 != 0L && predsOkWithLast(lastPreds, p, cvs(c), n - 1)) emit(p, cvs(c), w2)
          c += 1
        }
      } else {
        val pass = localInheritOk(level)
        var c = 0
        while (c < cvs.length) {
          val w2 = w * cws(c)
          if (w2 != 0L) {
            val p2 = java.util.Arrays.copyOf(p, p.length + 1)
            p2(p.length) = cvs(c)
            if (predsOk(0, p2, level + 3))
              extend(p2, w2, level + 1,
                if (pass) cvs else null, if (pass) cws else null)
          }
          c += 1
        }
      }
    }

    if (w0 != 0L) {
      val p = Array(s0, d0)
      if (predsOk(0, p, 2)) extend(p, w0, 0, null, null)
    }
  }

  /** localInheritOk(l): level l's final candidate run C (= the intersection
    * of ALL of stage l's constraint runs, weights multiplied through) may be
    * handed to level l+1 as the pre-computed intersection of the inherited
    * constraints. Exactness requires (a) level l applied no range-predicate
    * slice (C is the full intersection) and (b) every stage-l constraint
    * recurs verbatim in stage l+1 — then stage l+1's candidate set is
    * C ∩ (non-inherited runs), with identical weights. Clique levels
    * qualify; the argmin/pruneZero decision is computed from the real
    * extender degrees either way, so pruning is unchanged. */
  private val localInheritOk: Array[Boolean] = {
    val st = plans(0).stages
    Array.tabulate(st.size) { l =>
      l + 1 < st.size &&
        rangeTable(0)(l + 1).isEmpty &&
        st(l).forall(c => st(l + 1).contains(c))
    }
  }

  /** localExtras(l): stage l's constraints NOT inherited from stage l-1
    * (only consulted when the parent passed its run down). */
  private val localExtras: Array[Array[Planner.Constraint]] = {
    val st = plans(0).stages
    Array.tabulate(st.size) { l =>
      if (l == 0) st(l).toArray
      else st(l).diff(st(l - 1)).toArray
    }
  }

  /** Zero-exchange batch enumeration against a full broadcast index: each
    * seed partition runs the whole pipeline locally (broadcast-hash-join
    * regime). Requires `numAttrs >= 3`; output rows identical to
    * [[enumerateInternalRows]] (FastBatchSpec pins it). */
  private[fast] def enumerateLocalRows(full: Broadcast[LocalIndex],
                         seeds: RDD[(Long, Long, Long)]): RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
    require(numAttrs >= 3, "local batch enumeration needs at least one extension stage")
    val n = numAttrs
    val engine = this
    val inv = plans(0).inverse.toArray
    seeds.mapPartitions { it =>
      val h = full.value
      val writer = new UnsafeRowWriter(n + 1)
      // Packed-long match buffer, reused across seeds (grown rarely), and a
      // SINGLE reused UnsafeRow yielded per match: Spark's scan contract
      // lets a source reuse its row object (RDDScanExec re-projects and
      // buffering operators copy), so the previous per-match
      // `writer.getRow.copy()` — one byte[] + UnsafeRow allocation per row,
      // 21.6M for the sf0.1 triangle set — was pure garbage-pressure. The
      // buffer is still bounded by ONE seed's match count, never the
      // partition's (the local analog of the chunked BoundedStage emit).
      var buf = new Array[Long](1 << 12)
      it.flatMap { case (s0, d0, w0) =>
        var m = 0
        engine.localVisitSeed(h, s0, d0, w0, (p, cand, w) => {
          if (m + n + 1 > buf.length) buf = java.util.Arrays.copyOf(buf, buf.length << 1)
          var a = 0
          while (a < n) {
            buf(m + a) = if (inv(a) == n - 1) cand else p(inv(a))
            a += 1
          }
          buf(m + n) = w
          m += n + 1
        })
        val total = m
        new Iterator[InternalRow] {
          private var off = 0
          override def hasNext: Boolean = off < total
          override def next(): InternalRow = {
            writer.reset()
            var a = 0
            while (a <= n) { writer.write(a, buf(off + a)); a += 1 }
            off += n + 1
            writer.getRow
          }
        }
      }
    }
  }

  /** Zero-exchange (distinct match count, net weight) — the count-only twin
    * of [[enumerateLocalRows]]; no row is materialized. */
  private[fast] def enumerateLocalAgg(full: Broadcast[LocalIndex],
                        seeds: RDD[(Long, Long, Long)]): (Long, Long) = {
    require(numAttrs >= 3, "local batch enumeration needs at least one extension stage")
    val engine = this
    seeds.mapPartitions { it =>
      val h = full.value
      val agg = new DeltaEngine.LongAgg
      // the emit closure is the fallback for final levels with ne-style
      // predicates; levels without them take the deferred counting intersect
      while (it.hasNext) {
        val (s0, d0, w0) = it.next()
        engine.localVisitSeed(h, s0, d0, w0,
          (_, _, w) => { agg.cnt += 1L; agg.tot += w }, agg)
      }
      Iterator.single((agg.cnt, agg.tot))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** Batch-enumerated match rows (x0..x{k-1} un-permuted, weight), emitted
    * directly as UnsafeRows — one compact allocation per match, no external
    * Row boxing (measured: the Row + ArraySeq emit path cost ~1µs/match and
    * dominated full-enumeration wall time once the pipeline got fast). */
  def enumerateInternalRows(shards: RDD[Shard.T], hot: DeltaEngine.HotProvider,
                            dp: Broadcast[DeltaPack],
                            edges: RDD[(Long, Long, Long)]): RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
    val n = numAttrs
    val engine = this
    if (n == 2)
      return edges.mapPartitions { it =>
        val writer = new UnsafeRowWriter(3)
        it.flatMap { case (s0, d0, w) =>
          if (w != 0L && engine.predsOk(0, Array(s0, d0), 2)) {
            writer.reset()
            writer.write(0, s0); writer.write(1, d0); writer.write(2, w)
            Iterator.single(writer.getRow.copy(): InternalRow)
          } else Iterator.empty
        }
      }
    val inv = plans(0).inverse.toArray
    val prs = predTable(0)(n - 2)
    staticMatches(shards, hot, dp, edges).mapPartitions { it =>
      val writer = new UnsafeRowWriter(n + 1)
      it.flatMap { prop =>
        var i = 0
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        while (i < prop.cands.length) {
          val w = prop.w * prop.candWs(i)
          val cand = prop.cands(i)
          if (w != 0L && engine.predsOkWithLast(prs, prop.p, cand, n - 1)) {
            writer.reset()
            var a = 0
            while (a < n) {
              writer.write(a, if (inv(a) == n - 1) cand else prop.p(inv(a)))
              a += 1
            }
            writer.write(n, w)
            out += writer.getRow.copy()
          }
          i += 1
        }
        out.iterator
      }
    }
  }

  /** Batch-enumerated (distinct match count, net Z-set weight) WITHOUT
    * materializing any match row — the count-only fast path. */
  def enumerateAggRdd(shards: RDD[Shard.T], hot: DeltaEngine.HotProvider,
                      dp: Broadcast[DeltaPack],
                      edges: RDD[(Long, Long, Long)]): (Long, Long) = {
    val n = numAttrs
    val engine = this
    val prs = predTable(0)(n - 2)
    val perPart =
      if (n == 2)
        edges.mapPartitions { it =>
          var cnt = 0L; var tot = 0L
          while (it.hasNext) {
            val (s0, d0, w) = it.next()
            if (w != 0L && engine.predsOk(0, Array(s0, d0), 2)) { cnt += 1; tot += w }
          }
          Iterator.single((cnt, tot))
        }
      else staticMatches(shards, hot, dp, edges).mapPartitions { it =>
        var cnt = 0L; var tot = 0L
        while (it.hasNext) {
          val prop = it.next()
          var i = 0
          while (i < prop.cands.length) {
            val w = prop.w * prop.candWs(i)
            if (w != 0L && engine.predsOkWithLast(prs, prop.p, prop.cands(i), n - 1)) {
              cnt += 1; tot += w
            }
            i += 1
          }
        }
        Iterator.single((cnt, tot))
      }
    perPart.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** Folds the broadcast delta into the sharded index (copy-on-write per
    * touched key — the reference's `Index::update`,
    * /root/reference/src/index.rs:226-260). Partitioning preserved. */
  def updateShards(shards: RDD[Shard.T], dp: Broadcast[DeltaPack]): RDD[Shard.T] =
    shards.mapPartitionsWithIndex({ (pid, it) =>
      var next = it.next()
      val d = dp.value
      val touched = d.keys.filter(k => partitioner.getPartition(k) == pid).toSet
      for (k <- touched) {
        val adj = DeltaEngine.mergeAdj(next.getOrElse(k, DeltaEngine.emptyAdj), d.adj(k))
        next =
          if (adj.fwdVs.isEmpty && adj.revVs.isEmpty) next.removed(k)
          else next.updated(k, adj)
      }
      Iterator.single(next)
    }, preservesPartitioning = true)

  /** Builds sharded state from an edge RDD (duplicates and zero weights
    * are consolidated by [[DeltaEngine.buildAdjs]], per partition). Each
    * input partition ships its edges as packed ≤256KB blocks
    * ([[DeltaEngine.putEdge]]), never as one boxed record per direction. */
  def buildShards(edges: RDD[(Long, Long, Long)]): RDD[Shard.T] = {
    val np = numParts
    shardsFromBlocks(edges.mapPartitions(it => DeltaEngine.edgeBlocks(np, it)))
  }

  /** [[buildShards]] over raw (src, dst, w) long rows (`EdgeIndex.norm`'s
    * layout), read straight off the `InternalRow`s. */
  private[fast] def buildShardsFromRows(
      rows: RDD[org.apache.spark.sql.catalyst.InternalRow]): RDD[Shard.T] = {
    val np = numParts
    shardsFromBlocks(rows.mapPartitions { it =>
      DeltaEngine.boundedIt(np, it) { (r, bb) =>
        DeltaEngine.putEdge(bb, np, r.getLong(0), r.getLong(1), r.getLong(2))
      }
    })
  }

  private def shardsFromBlocks(blocks: RDD[(Int, Array[Long])]): RDD[Shard.T] = {
    val np = numParts
    blocks.partitionBy(DeltaEngine.identityPartitioner(np))
      .mapPartitionsWithIndex { (pid, it) =>
        Iterator.single(DeltaEngine.shardOf(pid, np, it.map(_._2)))
      }
  }

  /** Empty sharded state (numParts empty maps). */
  def emptyShards(sc: SparkContext): RDD[Shard.T] =
    sc.parallelize(Seq.empty[Int], numParts).mapPartitions(_ => Iterator.single(Shard.empty))
}

object DeltaEngine {
  /** Broadcast replica of the hottest keys' adjacency (Zipf hubs): lookups
    * on these keys run wherever the row already is, so no partition ever
    * concentrates hub traffic. Maintained by [[FastGraphState]] in lockstep
    * with the shards (same merge rules, copy-on-write snapshot per batch). */
  type HotMap = java.util.HashMap[Long, Adj]

  /** Task-side source of the hot replica. Two regimes:
    *  - [[BcastHot]]: a plain broadcast snapshot (batch enumeration; the
    *    replica is built once and never changes).
    *  - [[ChainHot]]: streaming. The driver broadcasts the FULL replica only
    *    at (re)build time (initialize / recover / compaction); per batch it
    *    ships nothing hot-specific — executors fold the already-broadcast
    *    batch DeltaPacks into a locally cached copy ([[HotCache]]). This
    *    makes per-batch broadcast bytes independent of hub degree: at
    *    LiveJournal-scale hubs the old full-replica re-broadcast was
    *    hundreds of MB of driver→executor traffic per batch for state the
    *    executors could derive themselves. */
  sealed trait HotProvider extends Serializable { def value: HotMap }

  final case class BcastHot(b: Broadcast[HotMap]) extends HotProvider {
    def value: HotMap = b.value
  }

  /** `gen` identifies the base snapshot (bumped per rebuild); `chain` holds
    * the broadcast DeltaPacks absorbed since that rebuild, in fold order —
    * `base` folded by all of `chain` IS the current replica. A fresh
    * executor (or one that missed batches) reconstructs from `base` +
    * whatever chain suffix it has not folded yet, so late joiners are
    * correct, not just lucky. */
  final case class ChainHot(id: String, gen: Long, base: Broadcast[HotMap],
                            chain: IndexedSeq[Broadcast[DeltaPack]]) extends HotProvider {
    def value: HotMap = HotCache.resolve(this)
  }

  /** Per-executor fold cache for [[ChainHot]]: keyed by (state, gen, epoch)
    * so tasks of OVERLAPPING micro-batches (pipelined epochs) each resolve
    * their own snapshot without thrashing — the last few epochs are
    * retained, older ones evicted. Folding is copy-on-write so an earlier
    * epoch's map, if still referenced by a straggler task, is never
    * mutated. */
  object HotCache {
    private val retain = 4
    /** Global entry cap: on a long-lived executor serving many states, the
      * last replica snapshot of a CLOSED state would otherwise live for the
      * JVM (invalidate() only runs in the driver JVM). Exceeding the cap
      * evicts entries of OTHER (state, generation) keys first — correctness
      * is unaffected, an evicted live entry just re-folds from its base on
      * the next resolve. */
    private val maxEntries = 16
    private final class Entry(val m: HotMap, @volatile var at: Long)
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(String, Long, Int), Entry]()

    /** Idle TTL: entries untouched this long are swept on ANY state's next
      * resolve — so a CLOSED state's replicas expire on executor JVMs that
      * never see the driver's invalidate(), without waiting for cache-cap
      * pressure and without a generation bump. Eviction is always safe
      * (re-fold from base + chain); the TTL only bounds idle retention.
      * Override (ms) with `spark.graft.hotcache.ttlMs` for tests. */
    private def ttlMs: Long = {
      val env = org.apache.spark.SparkEnv.get
      (if (env != null) env.conf.getOption("spark.graft.hotcache.ttlMs") else None)
        .orElse(sys.props.get("spark.graft.hotcache.ttlMs"))
        .map(_.toLong).getOrElse(10L * 60 * 1000)
    }

    private def sweep(now: Long): Unit = {
      val cutoff = now - ttlMs
      val it = cache.entrySet().iterator()
      while (it.hasNext) if (it.next().getValue.at < cutoff) it.remove()
    }

    /** Entry count for one state id (spec observability). */
    private[fast] def entryCount(id: String): Int = {
      var n = 0
      val it = cache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == id) n += 1
      n
    }

    def resolve(ref: ChainHot): HotMap = {
      val want = ref.chain.size
      val now = System.currentTimeMillis()
      val hit = cache.get((ref.id, ref.gen, want))
      if (hit != null) { hit.at = now; return hit.m }
      cache.synchronized {
        sweep(now)
        val again = cache.get((ref.id, ref.gen, want))
        if (again != null) { again.at = now; return again.m }
        // fold forward from the nearest retained earlier epoch (or base)
        var epoch = 0
        var m = ref.base.value
        var e = want - 1
        while (e > 0 && epoch == 0) {
          val c = cache.get((ref.id, ref.gen, e))
          if (c != null) { epoch = e; m = c.m }
          e -= 1
        }
        while (epoch < want) {
          m = foldHot(m, ref.chain(epoch).value)
          epoch += 1
        }
        cache.put((ref.id, ref.gen, want), new Entry(m, now))
        if (want - retain >= 0) cache.remove((ref.id, ref.gen, want - retain))
        // a new generation (rebase/compaction) supersedes all OLDER-gen
        // snapshots of this state — drop them, or every executor leaks one
        // full replica copy per generation for the life of the JVM.
        // Strictly-lower only: a straggler task of a previous generation
        // must not evict the current generation's entries.
        val it = cache.keySet().iterator()
        while (it.hasNext) {
          val k = it.next()
          if (k._1 == ref.id && k._2 < ref.gen) it.remove()
        }
        // bound the cache globally: drop foreign-state entries and THIS
        // state's strictly-older generations until under the cap (arbitrary
        // victim order is fine — evicted live entries rebuild from base +
        // chain on their next resolve). Never touch this state's entries at
        // gen >= the resolving gen: a STRAGGLER task of an older generation
        // must not evict the snapshots current-batch tasks are using (the
        // same invariant as the gen-eviction loop above).
        if (cache.size() > maxEntries) {
          val it2 = cache.keySet().iterator()
          while (cache.size() > maxEntries && it2.hasNext) {
            val k = it2.next()
            if (!(k._1 == ref.id && k._2 >= ref.gen)) it2.remove()
          }
        }
        m
      }
    }

    /** Drop a state's entries (called from the driver's close() in local
      * mode; on a cluster entries are bounded by live states per executor). */
    def invalidate(id: String): Unit = {
      val it = cache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == id) it.remove()
    }
  }

  /** Folds one batch delta into a hot snapshot, copy-on-write, with
    * [[mergeAdj]] — replica membership is fixed; only existing keys' runs
    * are advanced. Used by the driver (its local copy) and by [[HotCache]]
    * (executor copies), keeping both in lockstep with the shards. */
  def foldHot(hot: HotMap, dp: DeltaPack): HotMap = {
    if (hot.isEmpty) return hot
    val next = new HotMap(hot)
    val it = hot.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      val d = dp.adj(k)
      if (d.fwdVs.nonEmpty || d.revVs.nonEmpty) next.put(k, mergeAdj(next.get(k), d))
    }
    next
  }

  /** The one run merge: folds a delta's forward and reverse runs and
    * degree sums into `old` (runs merged by [[mergeRuns]], so equal values
    * sum and zeros drop). Whether an emptied key stays is the caller's
    * rule. */
  private[fast] def mergeAdj(old: Adj, d: Adj): Adj = {
    val (fvs, fws) =
      if (d.fwdVs.isEmpty) (old.fwdVs, old.fwdWs)
      else mergeRuns(old.fwdVs, old.fwdWs, d.fwdVs, d.fwdWs)
    val (rvs, rws) =
      if (d.revVs.isEmpty) (old.revVs, old.revWs)
      else mergeRuns(old.revVs, old.revWs, d.revVs, d.revWs)
    new Adj(fvs, fws, old.degFwd + d.degFwd, rvs, rws, old.degRev + d.degRev)
  }

  /** Selects the `hotK` largest adjacencies (by stored row count) from the
    * shards as the hot-hub replica — used at initialize / recover /
    * compaction and by batch enumeration. Membership is a perf heuristic
    * only; replica CONTENT is always exact.
    *
    * `maxBytes` bounds the DRIVER-side rebuild spike (and the broadcast):
    * hub keys are admitted largest-first until their estimated stored size
    * (~32B per (v,w) pair across both directions) exhausts the budget —
    * at LiveJournal-scale hubs an unbounded top-K collect was a multi-GB
    * driver allocation per compaction. Keys that miss the cut simply stay
    * shard-served (correct, just not scatter-routed). */
  def buildHot(shards: RDD[Shard.T], hotK: Int,
               maxBytes: Long = 512L << 20): HotMap = {
    val m = new HotMap()
    if (hotK <= 0) return m
    val top = shards.flatMap(_.iterator.map { case (k, adj) =>
        (k, adj.fwdVs.length + adj.revVs.length)
      }).top(hotK)(Ordering.by(_._2))
    var pairBudget = math.max(1L, maxBytes / 32)
    val keys = scala.collection.mutable.HashSet.empty[Long]
    top.foreach { case (k, n) =>
      if (n <= pairBudget) { keys += k; pairBudget -= n }
    }
    if (keys.isEmpty) return m
    val keySet = keys.toSet
    val entries = shards.flatMap(_.iterator.filter(e => keySet.contains(e._1))).collect()
    entries.foreach { case (k, adj) => m.put(k, adj) }
    m
  }

  /** The (pid, block) stream of [[putEdge]] records for `edges`. */
  private[fast] def edgeBlocks(np: Int, edges: Iterator[(Long, Long, Long)])
      : Iterator[(Int, Array[Long])] =
    boundedIt(np, edges)((e, bb) => putEdge(bb, np, e._1, e._2, e._3))

  /** Appends edge (s, d, w) as one [s, d, w] record to the block of each
    * partition that owns an endpoint — once when both endpoints share a
    * partition. [[shardOf]] reads the direction back off the endpoints'
    * partitions, so blocks carry no direction flag. */
  private[fast] def putEdge(bb: BlockBuf, np: Int, s: Long, d: Long, w: Long): Unit = {
    val ps = partOf(s, np)
    val pd = partOf(d, np)
    putTriple(bb, ps, s, d, w)
    if (pd != ps) putTriple(bb, pd, s, d, w)
  }

  private def putTriple(bb: BlockBuf, pid: Int, s: Long, d: Long, w: Long): Unit = {
    val b = bb.reserve(pid, 3)
    val o = bb.off(pid)
    b(o) = s; b(o + 1) = d; b(o + 2) = w
    bb.advance(pid, 3)
  }

  /** Shard `pid` of `np` from its [[putEdge]] blocks: edges whose source
    * it owns become forward triples, edges whose destination it owns
    * reverse ones, and [[buildAdjs]] consolidates both. */
  private[fast] def shardOf(pid: Int, np: Int, blocks: Iterator[Array[Long]]): Shard.T = {
    val bs = blocks.toArray
    val n = bs.iterator.map(_.length / 3).sum
    val fwd = new Triples(n)
    val rev = new Triples(n)
    var i = 0
    while (i < bs.length) {
      val b = bs(i)
      bs(i) = null
      var o = 0
      while (o < b.length) {
        val s = b(o); val d = b(o + 1); val w = b(o + 2)
        if (partOf(s, np) == pid) fwd.add(s, d, w)
        if (partOf(d, np) == pid) rev.add(d, s, w)
        o += 3
      }
      i += 1
    }
    val shard = scala.collection.immutable.HashMap.newBuilder[Long, Adj]
    buildAdjs(fwd, rev)((k, adj) => shard.addOne(k -> adj))
    shard.result()
  }

  /** Parallel (key, value, weight) arrays holding `n` triples, growable by
    * [[add]]: one direction's input to [[buildAdjs]]. */
  private[fast] final class Triples(var ks: Array[Long], var vs: Array[Long],
                                    var ws: Array[Long], var n: Int) {
    def this(cap: Int) = this(new Array[Long](cap), new Array[Long](cap), new Array[Long](cap), 0)
    def add(k: Long, v: Long, w: Long): Unit = {
      if (n == ks.length) {
        val cap = math.max(16, n << 1)
        ks = java.util.Arrays.copyOf(ks, cap)
        vs = java.util.Arrays.copyOf(vs, cap)
        ws = java.util.Arrays.copyOf(ws, cap)
      }
      ks(n) = k; vs(n) = v; ws(n) = w; n += 1
    }
  }

  /** The one run builder (the reference's `consolidate_tail`,
    * reference src/index.rs:197-219): sorts the forward and reverse
    * triples IN PLACE by (key, value), then walks both in one merge over
    * ascending keys, slicing each key's consolidated, value-sorted runs
    * (equal values summed, zero weights dropped) and their weight sums
    * into one [[Adj]] for `emit`. Keys whose runs are both empty are
    * skipped.
    *
    * Primitive arrays throughout: a boxed HashMap[Long,
    * ArrayBuffer[(Long,Long)]] build allocates >2 tuples per edge (measured
    * 0.4-1.1s warm / 3.2s cold for a 557K-edge local index; this form is
    * ~20x less allocation and sorts primitives). */
  private[fast] def buildAdjs(fwd: Triples, rev: Triples)(emit: (Long, Adj) => Unit): Unit = {
    val nf = fwd.n
    val nr = rev.n
    sortByKeyValue(fwd.ks, fwd.vs, fwd.ws, nf)
    sortByKeyValue(rev.ks, rev.vs, rev.ws, nr)
    var i = 0
    var j = 0
    while (i < nf || j < nr) {
      val k =
        if (i >= nf) rev.ks(j)
        else if (j >= nr) fwd.ks(i)
        else math.min(fwd.ks(i), rev.ks(j))
      var fVs: Array[Long] = emptyRunArray; var fWs: Array[Long] = emptyRunArray; var fDeg = 0L
      if (i < nf && fwd.ks(i) == k) {
        var end = i
        while (end < nf && fwd.ks(end) == k) end += 1
        val run = consolidateRun(fwd.vs, fwd.ws, i, end)
        fVs = run._1; fWs = run._2; fDeg = run._3
        i = end
      }
      var rVs: Array[Long] = emptyRunArray; var rWs: Array[Long] = emptyRunArray; var rDeg = 0L
      if (j < nr && rev.ks(j) == k) {
        var end = j
        while (end < nr && rev.ks(end) == k) end += 1
        val run = consolidateRun(rev.vs, rev.ws, j, end)
        rVs = run._1; rWs = run._2; rDeg = run._3
        j = end
      }
      if (fVs.nonEmpty || rVs.nonEmpty) emit(k, new Adj(fVs, fWs, fDeg, rVs, rWs, rDeg))
    }
  }

  /** Consolidates the sorted [from,until) slice of a (value, weight) run:
    * values are already ascending; sums weights of equal values and drops
    * zero-weight entries. Returns (values, weights, weightSum). */
  private def consolidateRun(vs: Array[Long], ws: Array[Long],
                             from: Int, until: Int): (Array[Long], Array[Long], Long) = {
    val outV = new Array[Long](until - from)
    val outW = new Array[Long](until - from)
    var o = 0
    var deg = 0L
    var p = from
    while (p < until) {
      val v = vs(p)
      var w = 0L
      while (p < until && vs(p) == v) { w += ws(p); p += 1 }
      if (w != 0L) { outV(o) = v; outW(o) = w; o += 1; deg += w }
    }
    if (o == outV.length) (outV, outW, deg)
    else (java.util.Arrays.copyOf(outV, o), java.util.Arrays.copyOf(outW, o), deg)
  }

  /** In-place quicksort of the parallel arrays (k, v, w)[0,n) by the
    * composite key (k, v); insertion sort below 32 elements, Hoare
    * partition with median-of-three pivot (balanced on heavily duplicated
    * keys), recursion on the smaller half only. */
  private[fast] def sortByKeyValue(k: Array[Long], v: Array[Long], w: Array[Long],
                                   n: Int): Unit = {
    @inline def less(a: Int, pk: Long, pv: Long): Boolean =
      k(a) < pk || (k(a) == pk && v(a) < pv)
    @inline def greater(a: Int, pk: Long, pv: Long): Boolean =
      k(a) > pk || (k(a) == pk && v(a) > pv)
    @inline def swap(a: Int, b: Int): Unit = {
      val tk = k(a); k(a) = k(b); k(b) = tk
      val tv = v(a); v(a) = v(b); v(b) = tv
      val tw = w(a); w(a) = w(b); w(b) = tw
    }
    def insertion(lo: Int, hi: Int): Unit = {
      var a = lo + 1
      while (a <= hi) {
        val ck = k(a); val cv = v(a); val cw = w(a)
        var b = a - 1
        while (b >= lo && (k(b) > ck || (k(b) == ck && v(b) > cv))) {
          k(b + 1) = k(b); v(b + 1) = v(b); w(b + 1) = w(b); b -= 1
        }
        k(b + 1) = ck; v(b + 1) = cv; w(b + 1) = cw
        a += 1
      }
    }
    def qsort(lo0: Int, hi0: Int): Unit = {
      var lo = lo0
      var hi = hi0
      while (hi - lo >= 32) {
        val mid = lo + (hi - lo) / 2
        // median-of-three into mid
        if (greater(lo, k(mid), v(mid))) swap(lo, mid)
        if (greater(mid, k(hi), v(hi))) {
          swap(mid, hi)
          if (greater(lo, k(mid), v(mid))) swap(lo, mid)
        }
        val pk = k(mid); val pv = v(mid)
        var a = lo - 1
        var b = hi + 1
        var done = false
        while (!done) {
          do a += 1 while (less(a, pk, pv))
          do b -= 1 while (greater(b, pk, pv))
          if (a >= b) done = true else swap(a, b)
        }
        // recurse on the smaller side, loop on the larger
        if (b - lo < hi - b) { qsort(lo, b); lo = b + 1 }
        else { qsort(b + 1, hi); hi = b }
      }
      insertion(lo, hi)
    }
    if (n > 1) qsort(0, n - 1)
  }

  /** Degree-only hot structures for the DISTRIBUTED bulk absorb: hub keys
    * (largest stored adjacencies ∪ most-frequent batch endpoints) get
    * their PRE-batch signed degrees broadcast as `degOnly` [[Adj]] entries
    * plus a runs-empty [[DeltaPack]] carrying each hub's batch degree
    * delta — exactly what COUNT hops need to scatter hub traffic, while
    * adjacency hops stay key-routed to the shards that hold the runs.
    * Everything broadcast here is O(hotK) scalars, so the bulk path keeps
    * its no-O(|batch|)-broadcast guarantee. Costs 3-4 small jobs per bulk
    * absorb (amortized: this path serves backfill batches). */
  def buildDegOnlyHot(preShards: RDD[Shard.T], batch: RDD[(Long, Long, Long)],
                      hotK: Int): (HotMap, DeltaPack) = {
    val m = new HotMap()
    if (hotK <= 0) return (m, DeltaPack.empty)
    val stateTop = preShards.flatMap(_.iterator.map { case (k, a) =>
        (k, a.fwdVs.length + a.revVs.length, a.degFwd, a.degRev)
      }).top(hotK)(Ordering.by(_._2))
    val batchTop = batch.flatMap(e => Iterator((e._1, 1L), (e._2, 1L)))
      .reduceByKey(_ + _).top(hotK)(Ordering.by(_._2)).map(_._1)
    val known = stateTop.map(_._1).toSet
    val missing = batchTop.filterNot(known).toSet
    val extra =
      if (missing.isEmpty) Array.empty[(Long, Int, Long, Long)]
      else preShards.flatMap(_.iterator.collect {
        case (k, a) if missing.contains(k) =>
          (k, a.fwdVs.length + a.revVs.length, a.degFwd, a.degRev)
      }).collect()
    (stateTop ++ extra).foreach { case (k, _, dF, dR) =>
      m.put(k, new Adj(Array.empty, Array.empty, dF,
        Array.empty, Array.empty, dR, degOnly = true))
    }
    // batch-borne hubs absent from the state still scatter (pre degree 0)
    missing.foreach { k =>
      if (!m.containsKey(k))
        m.put(k, new Adj(Array.empty, Array.empty, 0L,
          Array.empty, Array.empty, 0L, degOnly = true))
    }
    val keys = known ++ missing
    val keysB = batch.sparkContext.broadcast(keys)
    val deltas = batch.flatMap { case (s, d, w) =>
      val ks = keysB.value
      val a = if (ks.contains(s)) Iterator.single((s, (w, 0L))) else Iterator.empty
      val b = if (ks.contains(d)) Iterator.single((d, (0L, w))) else Iterator.empty
      a ++ b
    }.reduceByKey((x, y) => (x._1 + y._1, x._2 + y._2)).collect()
    keysB.unpersist(false)
    val fwd = deltas.toSeq.filter(_._2._1 != 0L)
      .map { case (k, (f, _)) => k -> DeltaPack.Run(Array.empty, Array.empty, f) }
    val rev = deltas.toSeq.filter(_._2._2 != 0L)
      .map { case (k, (_, r)) => k -> DeltaPack.Run(Array.empty, Array.empty, r) }
    (m, DeltaPack(Array.empty, fwd, rev))
  }

  /** Deterministic balance key for rows whose lookup key is hot-replicated:
    * mixes the prefix content so records spread evenly; `salt` decorrelates
    * consecutive hops. Window form so packed blocks never allocate. */
  def scatterKeyAt(p: Array[Long], off: Int, len: Int, salt: Int): Long = {
    var h = salt * 0x9e3779b97f4a7c15L + 0x165667b19e3779f9L
    var i = off
    val end = off + len
    while (i < end) {
      h = (h ^ p(i)) * 0xff51afd7ed558ccdL
      h ^= h >>> 33
      i += 1
    }
    h
  }

  /** Per-target-partition packed long-block builder: records are appended
    * into ≤`chunkLongs`-long chunks (256KB — big enough for memcpy-speed
    * shuffle, small enough to stay out of G1's humongous regions).
    *
    * Chunks that FILL are queued and handed out incrementally via [[drain]]
    * (see [[BoundedStage]]/[[boundedIt]]), so a producing task's live memory
    * is bounded by `np` partial chunks plus whatever the consumer has not
    * pulled yet — never the stage's whole output. */
  private[fast] final class BlockBuf(np: Int, chunkLongs: Int = 32768) {
    private val bufs = new Array[Array[Long]](np)
    private val lens = new Array[Int](np)
    private val done = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Long])]
    /** Buffer with ≥ `need` free longs for `pid`; write at `off(pid)`. */
    def reserve(pid: Int, need: Int): Array[Long] = {
      var b = bufs(pid)
      if (b == null || lens(pid) + need > b.length) {
        if (b != null && lens(pid) > 0) done += ((pid, filled(pid)))
        b = new Array[Long](math.max(chunkLongs, need))
        bufs(pid) = b
        lens(pid) = 0
      }
      b
    }
    /** `pid`'s current chunk cut to its filled length; an exactly full
      * chunk is handed over as it is. */
    private def filled(pid: Int): Array[Long] =
      if (lens(pid) == bufs(pid).length) bufs(pid)
      else java.util.Arrays.copyOf(bufs(pid), lens(pid))
    def off(pid: Int): Int = lens(pid)
    def advance(pid: Int, n: Int): Unit = lens(pid) += n
    /** Chunks completed and not yet drained — stages use this as their
      * yield criterion (process until ≥1 chunk is ready, then hand it to
      * the consumer). */
    def completedChunks: Int = done.size
    /** Hands over the chunks completed so far (ownership transfers to the
      * caller; internal queue is cleared). Allocation-free when empty. */
    def drain(): Iterator[(Int, Array[Long])] =
      if (done.isEmpty) Iterator.empty
      else {
        val out = done.toArray
        done.clear()
        out.iterator
      }
    /** Terminal flush: emits partial chunks too. Call once, after all input. */
    def result(): Iterator[(Int, Array[Long])] = {
      var pid = 0
      while (pid < np) {
        if (lens(pid) > 0) done += ((pid, filled(pid)))
        bufs(pid) = null
        lens(pid) = 0
        pid += 1
      }
      done.iterator
    }
  }

  /** Effort-bounded stage emission over packed-block input: the stage
    * processes records and yields completed output chunks as they fill, so
    * a task's live memory is bounded by `np` partial chunks + ~1 completed
    * chunk + one record's output regardless of total stage size — the Spark
    * analog of the reference's bounded activation loop, which retires ≤4096
    * queued records per activation precisely so full enumerations whose
    * output exceeds memory still complete
    * (/root/reference/src/extender.rs:259-262,
    * /root/reference/static_graph/src/lib.rs:106-118). Spark's shuffle
    * writer consumes this iterator record-by-record, streaming each
    * completed chunk to the shuffle file before the next is built.
    *
    * Subclasses implement [[processSome]]: starting at `block(off)`, decode
    * records in the subclass's OWN tight loop until the block is exhausted
    * or `bb.completedChunks > 0`, then return the new offset. The loop
    * lives in the subclass so the per-record path stays monomorphic and
    * JIT-inlined — a per-RECORD virtual `process` call here was measured
    * costing 2× end-to-end at low core counts (the dispatch boundary is now
    * crossed once per 256KB output chunk, not once per record). */
  private[fast] abstract class BoundedStage(np: Int, input: Iterator[(Int, Array[Long])])
      extends Iterator[(Int, Array[Long])] {
    protected val bb = new BlockBuf(np)
    /** Partition id the current input block arrived on (-1 before input). */
    protected var curPid: Int = -1
    private var block: Array[Long] = null
    private var off = 0
    private var pending: Iterator[(Int, Array[Long])] = Iterator.empty
    private var finished = false
    /** Process records from `off` until block end or a chunk completes;
      * return the new offset. */
    protected def processSome(block: Array[Long], off: Int): Int
    final def hasNext: Boolean = {
      while (!pending.hasNext && !finished) {
        if (block != null && off < block.length) {
          off = processSome(block, off)
          pending = bb.drain()
        } else if (input.hasNext) {
          val kv = input.next()
          curPid = kv._1
          block = kv._2
          off = 0
        } else { finished = true; pending = bb.result() }
      }
      pending.hasNext
    }
    final def next(): (Int, Array[Long]) = {
      if (!hasNext) throw new NoSuchElementException
      pending.next()
    }
  }

  /** [[BoundedStage]]'s generic sibling for non-block inputs (seed arrays,
    * Prop streams): one input element processed per pull, completed chunks
    * yielded incrementally. Live memory is bounded by `np` partial chunks +
    * one element's output (itself bounded by the largest adjacency run). */
  private[fast] def boundedIt[A](np: Int, input: Iterator[A])
                                (process: (A, BlockBuf) => Unit): Iterator[(Int, Array[Long])] =
    new Iterator[(Int, Array[Long])] {
      private val bb = new BlockBuf(np)
      private var pending: Iterator[(Int, Array[Long])] = Iterator.empty
      private var finished = false
      def hasNext: Boolean = {
        while (!pending.hasNext && !finished) {
          if (input.hasNext) {
            // several elements per drain round (until a chunk completes):
            // keeps the dispatch overhead per element amortized while the
            // live-output bound stays ~1 chunk + one element's output
            while (input.hasNext && bb.completedChunks == 0)
              process(input.next(), bb)
            pending = bb.drain()
          } else { finished = true; pending = bb.result() }
        }
        pending.hasNext
      }
      def next(): (Int, Array[Long]) = {
        if (!hasNext) throw new NoSuchElementException
        pending.next()
      }
    }

  /** Append a prefix record [rel, w, minDeg, minExt, p×pLen]. */
  private[fast] def putPfx(bb: BlockBuf, pid: Int, rel: Int, w: Long,
                           minDeg: Long, minExt: Int,
                           p: Array[Long], pOff: Int, pLen: Int): Unit = {
    val b = bb.reserve(pid, 4 + pLen)
    var o = bb.off(pid)
    b(o) = rel; b(o + 1) = w; b(o + 2) = minDeg; b(o + 3) = minExt
    o += 4
    System.arraycopy(p, pOff, b, o, pLen)
    bb.advance(pid, 4 + pLen)
  }

  /** Append a proposal record [rel, w, minExt, p×pLen, nc, cands, candWs]
    * whose `nc` candidates are read from `vs(vOff..)` and weights from
    * `ws(wOff..)` (candidate arrays or a source block window alike). */
  private[fast] def putProp(bb: BlockBuf, pid: Int, rel: Int, w: Long, minExt: Int,
                            p: Array[Long], pOff: Int, pLen: Int,
                            vs: Array[Long], vOff: Int, ws: Array[Long], wOff: Int,
                            nc: Int): Unit = {
    val b = bb.reserve(pid, 3 + pLen + 1 + 2 * nc)
    var o = bb.off(pid)
    b(o) = rel; b(o + 1) = w; b(o + 2) = minExt
    o += 3
    System.arraycopy(p, pOff, b, o, pLen)
    o += pLen
    b(o) = nc
    o += 1
    System.arraycopy(vs, vOff, b, o, nc)
    System.arraycopy(ws, wOff, b, o + nc, nc)
    bb.advance(pid, 3 + pLen + 1 + 2 * nc)
  }

  /** Decode every proposal record in `block` (prefix length `pLen`). */
  private[fast] def decodeProps(block: Array[Long], pLen: Int): Iterator[Prop] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Prop]
    var off = 0
    while (off < block.length) {
      val rel = block(off).toInt
      val w = block(off + 1)
      val minExt = block(off + 2).toInt
      val pOff = off + 3
      val ncOff = pOff + pLen
      val nc = block(ncOff).toInt
      val cOff = ncOff + 1
      val wOff = cOff + nc
      off = wOff + nc
      out += Prop(rel,
        java.util.Arrays.copyOfRange(block, pOff, pOff + pLen), w, minExt,
        java.util.Arrays.copyOfRange(block, cOff, cOff + nc),
        java.util.Arrays.copyOfRange(block, wOff, wOff + nc))
    }
    out.iterator
  }

  /** Proposed-but-unexploded extension set: the factorized intermediate the
    * reference also carries (proposals stay a list until validated).
    * Top-level (NOT inner to the engine) so shuffled records never drag an
    * `$outer` engine reference through serialization. */
  final case class Prop(rel: Int, p: Array[Long], w: Long, minExt: Int,
                        cands: Array[Long], candWs: Array[Long],
                        hitAtom: Int = -1, hits: Array[Boolean] = null)

  /** [[Prop.hitAtom]] of the atom a final-hop constraint reads: the bound
    * endpoint's prefix position and the run's direction. A Prop whose
    * `hitAtom` names an atom carries, in `hits`, whether the batch run of
    * that atom holds each candidate (null: it holds none). */
  private[fast] def hitCode(prefixPos: Int, forward: Boolean): Int =
    2 * prefixPos + (if (forward) 1 else 0)

  val emptyAdj = new Adj(Array.empty, Array.empty, 0L, Array.empty, Array.empty, 0L)

  /** Partition of a raw long key, matching HashPartitioner over boxed
    * Longs: nonNegativeMod(Long.hashCode(k), n). */
  def partOf(k: Long, n: Int): Int = {
    val h = (k ^ (k >>> 32)).toInt
    val m = h % n
    if (m < 0) m + n else m
  }

  /** Partitioner for pre-routed (pid, block) pairs; a pid tagged with
    * `+ n` (the direct blocks of `consolidateProps`) lands on pid - n. */
  def identityPartitioner(n: Int): org.apache.spark.Partitioner =
    new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = key.asInstanceOf[Int] % n
    }

  def opCode(op: String): Int = op match {
    case "<" => 0; case "<=" => 1; case ">" => 2; case ">=" => 3; case "!=" => 4
    case other => throw new IllegalArgumentException(s"unsupported predicate op: $other")
  }
  def evalOp(op: Int, a: Long, b: Long): Boolean = op match {
    case 0 => a < b; case 1 => a <= b; case 2 => a > b; case 3 => a >= b; case _ => a != b
  }

  /** Merges two consolidated value-sorted (v, w) runs, summing weights on
    * equal values and dropping zeros. */
  def mergeRuns(vs1: Array[Long], ws1: Array[Long],
                vs2: Array[Long], ws2: Array[Long]): (Array[Long], Array[Long]) = {
    val vs = new Array[Long](vs1.length + vs2.length)
    val ws = new Array[Long](vs1.length + vs2.length)
    var i = 0; var j = 0; var o = 0
    while (i < vs1.length && j < vs2.length) {
      if (vs1(i) < vs2(j)) { vs(o) = vs1(i); ws(o) = ws1(i); i += 1; o += 1 }
      else if (vs1(i) > vs2(j)) { vs(o) = vs2(j); ws(o) = ws2(j); j += 1; o += 1 }
      else {
        val w = ws1(i) + ws2(j)
        if (w != 0L) { vs(o) = vs1(i); ws(o) = w; o += 1 }
        i += 1; j += 1
      }
    }
    while (i < vs1.length) { vs(o) = vs1(i); ws(o) = ws1(i); i += 1; o += 1 }
    while (j < vs2.length) { vs(o) = vs2(j); ws(o) = ws2(j); j += 1; o += 1 }
    (java.util.Arrays.copyOf(vs, o), java.util.Arrays.copyOf(ws, o))
  }

  /** Mutable (count, net-weight) accumulator for the count-only local
    * pipeline — one per partition, so the final level never allocates. */
  final class LongAgg { var cnt = 0L; var tot = 0L }

  private[fast] val emptyRunArray = new Array[Long](0)

  /** Counting twin of [[intersectRuns]]: accumulates (matches, Σ wPrefix *
    * cw * aw) into `agg` without materializing the intersection. The
    * nonzero rules mirror intersectRuns (zero products dropped) followed by
    * the emit loop's w2 != 0 check, so counts are bit-identical with the
    * materializing path. */
  private[fast] def countIntersect(cvs: Array[Long], cws: Array[Long],
                                   avs: Array[Long], aws: Array[Long],
                                   wPrefix: Long, agg: LongAgg): Unit = {
    if (cvs.length == 0 || avs.length == 0) return
    if (cvs.length < avs.length / 4) {
      var i = 0; var off = 0
      while (i < cvs.length && off < avs.length) {
        val c = cvs(i)
        off = IndexState.gallop(avs, c, off)
        if (off < avs.length && avs(off) == c) {
          val pw = cws(i) * aws(off)
          if (pw != 0L) {
            val w2 = wPrefix * pw
            if (w2 != 0L) { agg.cnt += 1L; agg.tot += w2 }
          }
          off += 1
        }
        i += 1
      }
    } else {
      var i = 0; var j = 0
      while (i < cvs.length && j < avs.length) {
        val c = cvs(i)
        if (c < avs(j)) i += 1
        else if (c > avs(j)) j += 1
        else {
          val pw = cws(i) * aws(j)
          if (pw != 0L) {
            val w2 = wPrefix * pw
            if (w2 != 0L) { agg.cnt += 1L; agg.tot += w2 }
          }
          i += 1; j += 1
        }
      }
    }
  }

  /** Weighted intersection of a candidate run against an index run —
    * galloping the index side when candidates are few (the reference's
    * adaptive intersect, reference static_graph/src/graph.rs:110).
    * Output weight = candW × indexW. */
  def intersectRuns(cvs: Array[Long], cws: Array[Long],
                    avs: Array[Long], aws: Array[Long]): (Array[Long], Array[Long]) = {
    val nc = cvs.length
    if (nc == 0 || avs.isEmpty) return (Array.empty, Array.empty)
    val vs = new Array[Long](math.min(nc, avs.length))
    val ws = new Array[Long](vs.length)
    var o = 0
    if (nc < avs.length / 4) {
      var i = 0; var off = 0
      while (i < nc && off < avs.length) {
        val c = cvs(i)
        off = IndexState.gallop(avs, c, off)
        if (off < avs.length && avs(off) == c) {
          val w = cws(i) * aws(off)
          if (w != 0L) { vs(o) = c; ws(o) = w; o += 1 }
          off += 1
        }
        i += 1
      }
    } else {
      var i = 0; var j = 0
      while (i < nc && j < avs.length) {
        val c = cvs(i)
        if (c < avs(j)) i += 1
        else if (c > avs(j)) j += 1
        else {
          val w = cws(i) * aws(j)
          if (w != 0L) { vs(o) = c; ws(o) = w; o += 1 }
          i += 1; j += 1
        }
      }
    }
    (java.util.Arrays.copyOf(vs, o), java.util.Arrays.copyOf(ws, o))
  }

  /** The runs one lookup reads, side by side: the base run `bvs/bws` (hot
    * replica or shard) and the batch's [[DeltaPack]] run `dvs/dws` for the
    * same key and direction (empty on an exclusive read), plus reusable
    * output space for [[intersectTwo]]; one per task, so no lookup
    * allocates. A value's weight is `wb + wd` (0 where absent) and a zero
    * sum means absent — the run [[mergeRuns]] would build, which is never
    * built here (the reference also sums per-tier counts instead of
    * merging tiers, reference src/index.rs:455-547). */
  private[fast] final class TwoRuns {
    var bvs: Array[Long] = emptyRunArray
    var bws: Array[Long] = emptyRunArray
    var dvs: Array[Long] = emptyRunArray
    var dws: Array[Long] = emptyRunArray
    /** [[intersectTwo]]'s output: surviving candidates, their weights, and
      * whether each was found in the batch run. */
    var vs: Array[Long] = new Array[Long](64)
    var ws: Array[Long] = new Array[Long](64)
    var hit: Array[Boolean] = new Array[Boolean](64)
    def reserve(n: Int): Unit = if (vs.length < n) {
      val cap = math.max(n, vs.length << 1)
      vs = new Array[Long](cap); ws = new Array[Long](cap); hit = new Array[Boolean](cap)
    }
  }

  /** Merges the windows `[bFrom, bUntil)` and `[dFrom, dUntil)` of two
    * consolidated value-sorted runs into `out`: values at `out(vOff..)`,
    * weights at `out(wOff..)`, equal values summed and zero sums dropped.
    * Returns the count written. */
  private[fast] def mergeWindows(bvs: Array[Long], bws: Array[Long], bFrom: Int, bUntil: Int,
                                 dvs: Array[Long], dws: Array[Long], dFrom: Int, dUntil: Int,
                                 out: Array[Long], vOff: Int, wOff: Int): Int = {
    var i = bFrom; var j = dFrom; var o = 0
    while (i < bUntil && j < dUntil) {
      val b = bvs(i); val d = dvs(j)
      if (b < d) { out(vOff + o) = b; out(wOff + o) = bws(i); i += 1; o += 1 }
      else if (b > d) { out(vOff + o) = d; out(wOff + o) = dws(j); j += 1; o += 1 }
      else {
        val w = bws(i) + dws(j)
        if (w != 0L) { out(vOff + o) = b; out(wOff + o) = w; o += 1 }
        i += 1; j += 1
      }
    }
    while (i < bUntil) { out(vOff + o) = bvs(i); out(wOff + o) = bws(i); i += 1; o += 1 }
    while (j < dUntil) { out(vOff + o) = dvs(j); out(wOff + o) = dws(j); j += 1; o += 1 }
    o
  }

  /** Weighted intersection of `nc` sorted candidates — values at
    * `cArr(cOff..)`, weights at `cwArr(cwOff..)` — against `t`'s two runs
    * read side by side: each candidate is looked up in both runs
    * (galloping a run that is long next to the candidates, stepping
    * otherwise) and survives with weight `cw × (wb + wd)` when that is
    * nonzero. Writes survivors to `t.vs`/`t.ws` and, per survivor, whether
    * the batch run holds it to `t.hit`; returns their count. */
  private[fast] def intersectTwo(cArr: Array[Long], cOff: Int, cwArr: Array[Long], cwOff: Int,
                                 nc: Int, t: TwoRuns): Int = {
    val bvs = t.bvs; val bws = t.bws; val dvs = t.dvs; val dws = t.dws
    val nb = bvs.length; val nd = dvs.length
    if (nc == 0 || nb + nd == 0) return 0
    t.reserve(math.min(nc, nb + nd))
    val vs = t.vs; val ws = t.ws; val hit = t.hit
    val gb = nc < nb / 4
    val gd = nc < nd / 4
    var i = 0; var bo = 0; var d = 0; var o = 0
    while (i < nc && (bo < nb || d < nd)) {
      val c = cArr(cOff + i)
      if (gb) bo = IndexState.gallop(bvs, c, bo) else while (bo < nb && bvs(bo) < c) bo += 1
      if (gd) d = IndexState.gallop(dvs, c, d) else while (d < nd && dvs(d) < c) d += 1
      val inB = bo < nb && bvs(bo) == c
      val inD = d < nd && dvs(d) == c
      val w = (if (inB) bws(bo) else 0L) + (if (inD) dws(d) else 0L)
      if (w != 0L) {
        val cw = cwArr(cwOff + i) * w
        if (cw != 0L) { vs(o) = c; ws(o) = cw; hit(o) = inD; o += 1 }
      }
      i += 1
    }
    o
  }
}
