package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration
import org.apache.spark.FutureAction
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
import graft.SparkEntry
import graft.fast.{FastBatch, FastGraphState}
import graft.plan.Planner
import graft.transcripts.TranscriptEdges
import Main.{Args, M, Outcome}

trait Workload {
  def name: String
  def session(args: Args): SparkSession
  def run(spark: SparkSession, args: Args, sessionS: Double, trace: Option[Trace]): Outcome
}

object Workloads {
  val all: Seq[Workload] = Seq(StreamB1000, StreamChurn, Batch)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap

  /** Seed whose outputs are pinned in `expected.json`, and the generator
    * seed of the inputs that other seeds relabel. */
  val DefaultSeed = 42L

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Incremental triangle maintenance over the transcript tool→tool stream
  * (generated once, its tool ids permuted by the seed), on
  * `FastGraphState` configured as `graft.Bench.streamBenchMaster` configures
  * it (maxTail 8, pipeline depth 4, durable WAL, the same partition rule). */
abstract class StreamWorkload extends Workload {
  val convs: Int
  val turns = 50
  val tools = 2000
  val depth = 4
  /** Edges inserted per batch. */
  val batchEdges: Int
  /** Share of the stream preloaded before the measured window. */
  val preloadShare = 0.9
  /** Timed set-ups per run; `setup_s` reports their median. */
  val setupReps = 3
  /** Batches absorbed before the measured window, so the delta-step code is
    * compiled and the shard snapshots and hub replicas are cached. */
  val warmupBatches: Int

  /** Batches in stream order. */
  def batches(preload: Fixtures.Edges, tail: Fixtures.Edges): IndexedSeq[Array[(Long, Long, Long)]]

  /** Whether latency runs from a fixed schedule (open loop) or from submission. */
  val openLoop: Boolean

  /** Absorbs the warm-up batches, then submits batches until the measured
    * window closes; returns the window's start (ns). */
  def drive(ctx: StreamCtx): Long

  def session(args: Args): SparkSession =
    Main.builder(args)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.referenceTracking", "false")
      .config("spark.storage.memoryMapThreshold", "1g")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()

  /** Mutable state of one measured stream. */
  final class StreamCtx(val state: FastGraphState, val batches: IndexedSeq[Array[(Long, Long, Long)]],
                        val seconds: Int, val trace: Option[Trace], val stateDir: Path) {
    val dueNs = mutable.ArrayBuffer.empty[Long]
    val startNs = mutable.ArrayBuffer.empty[Long]
    val syncEndNs = mutable.ArrayBuffer.empty[Long]
    val doneNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    /** Index of the first measured batch (the ones before warm up). */
    var first = 0
    val results = mutable.ArrayBuffer.empty[FutureAction[Seq[(Long, Long)]]]
    val spanIds = mutable.ArrayBuffer.empty[Long]
    val walBytes = mutable.ArrayBuffer.empty[Double]
    var compactions = 0
    private var baseVersion = 0L
    private val inflight = mutable.Queue.empty[FutureAction[Seq[(Long, Long)]]]

    def readBaseVersion(): Long = {
      val p = stateDir.resolve("meta.json")
      if (!Files.exists(p)) 0L
      else "\"baseVersion\":(\\d+)".r.findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong).getOrElse(0L)
    }

    def inFlight: Int = inflight.size
    def drainOne(): Unit = { Await.ready(inflight.dequeue(), Duration.Inf); () }
    def drainAll(): Unit = while (inflight.nonEmpty) drainOne()

    /** Absorbs batch `i`, which was due at `due`. */
    def submit(i: Int, due: Long): Unit = {
      val t0 = System.nanoTime()
      val span = trace.map(_.begin("FastGraphState.applyBatchStatsAsync"))
      val f = state.applyBatchStatsAsync(i.toLong, batches(i))
      val t1 = System.nanoTime()
      span.foreach(id => trace.get.end(id))
      f.onComplete(_ => doneNs.put(i, System.nanoTime()))(ExecutionContext.parasitic)
      dueNs += due; startNs += t0; syncEndNs += t1
      results += f; inflight += f
      span.foreach(spanIds += _)
      if (trace.isDefined && i >= first) {
        val wal = stateDir.resolve(s"wal/batch=$i.bin")
        if (Files.exists(wal)) walBytes += Files.size(wal).toDouble
        val v = readBaseVersion()
        if (i > first && v > baseVersion) compactions += (v - baseVersion).toInt
        baseVersion = v
      }
    }
  }

  def run(spark: SparkSession, args: Args, sessionS: Double, trace: Option[Trace]): Outcome = {
    val tIn0 = System.nanoTime()
    val fx = Fixtures.relabel(Fixtures.transcriptStream(spark, args.work, convs, turns, tools, Workloads.DefaultSeed),
      TranscriptEdges.toolBase, tools, args.seed)
    val preN = (fx.size * preloadShare).toInt
    val preload = fx.slice(0, preN)
    val tail = fx.slice(preN, fx.size)
    val all = batches(preload, tail)
    // read from an in-memory broadcast, so each set-up times the engine's
    // initialize and not a scan of the input
    val preDF = preload.toDF(spark, Main.cores)
    val inputS = Workloads.elapsedS(tIn0)
    val parts = math.max(2, math.min(Main.cores, batchEdges / 2500 + 7))
    val stateDir = args.work.resolve(s"state/$name")

    val setups = (1 to setupReps).map { r =>
      Main.rmrf(stateDir.toFile)
      val t0 = System.nanoTime()
      val st = new FastGraphState(spark, Planner.triangle, Some(stateDir.toString),
        numParts = parts, maxTail = 8, lineageMetrics = true, pipelineDepth = depth)
      Trace.around(trace, "FastGraphState.initialize")(st.initialize(preDF))
      val s = Workloads.elapsedS(t0)
      if (r < setupReps) st.close()
      (s, st)
    }
    val setupS = sessionS + Stats.median(setups.map(_._1))
    val state = setups.last._2

    val tB0 = System.nanoTime()
    val (n0, total0) = aggTriangles(preDF)
    val beforeS = Workloads.elapsedS(tB0)
    val gc0 = Main.gcMs()
    val ctx = new StreamCtx(state, all, args.seconds, trace, stateDir)
    ctx.first = warmupBatches
    val tRun0 = drive(ctx)
    ctx.drainAll()
    val runS = Workloads.elapsedS(tRun0)
    val gcRun = Main.gcMs() - gc0
    trace.foreach(_.drain())

    val sent = ctx.results.size
    val perBatch = ctx.results.map(f => f.value.get.toOption.map(s => (s.map(_._1).sum, s.map(_._2).sum)))
    val failed = perBatch.count(_.isEmpty)
    val net = perBatch.flatten.map(_._2).sum
    val measured = ctx.first until sent
    val lastDone = measured.flatMap(i => Option(ctx.doneNs.get(i))).maxOption.getOrElse(System.nanoTime())
    // a closed loop's last depth-1 batches drain with less contention, so
    // latency is taken over the batches that ran with the pipeline full
    val steady = if (openLoop) measured else measured.dropRight(depth - 1)
    val latMs = steady.flatMap(i => Option(ctx.doneNs.get(i)).map(d => (d - ctx.dueNs(i)) / 1e6))
    val wallS = (lastDone - tRun0) / 1e9
    // engine time: the union of each measured batch's [absorb call, stats
    // future done], so idle time between due batches does not count
    val busyS = Layers.covered(measured.flatMap(i => Option(ctx.doneNs.get(i)).map(d => (ctx.startNs(i) / 1e9, d / 1e9))))
    val edgesSent = measured.map(all(_).length.toLong).sum
    val changesMeasured = measured.flatMap(perBatch(_)).map(_._1).sum
    state.close()

    // correctness: the streamed Z-set must equal the batch recompute, and
    // both batch totals must equal the brute-force oracle
    val tC0 = System.nanoTime()
    val streamed = all.take(sent).flatten
    val after = Fixtures.Edges(preload.src ++ streamed.map(_._1), preload.dst ++ streamed.map(_._2),
      preload.w ++ streamed.map(_._3))
    val (n1, total1) = aggTriangles(after.toDF(spark, Main.cores))
    val afterS = Workloads.elapsedS(tC0)
    val (on0, ot0) = new Oracle.Dense(tools, TranscriptEdges.toolBase, preload.src, preload.dst, preload.w).triangle
    val (on1, ot1) = new Oracle.Dense(tools, TranscriptEdges.toolBase, after.src, after.dst, after.w).triangle
    val checkS = Workloads.elapsedS(tC0)
    val mismatches = mutable.ArrayBuffer.empty[String]
    if (net != total1 - total0)
      mismatches += s"Z-set invariant: streamed net $net != enumerateAgg after-before ${total1 - total0}"
    if ((n0, total0) != (on0, ot0)) mismatches += s"preload triangles ($n0,$total0) != oracle ($on0,$ot0)"
    if ((n1, total1) != (on1, ot1)) mismatches += s"final triangles ($n1,$total1) != oracle ($on1,$ot1)"
    Expected.checkStream(name, args.seed, perBatch.map(_.getOrElse((-1L, -1L))).toSeq).foreach(mismatches += _)

    val e2e = Seq(
      "setup_s" -> M(setupS, "s"),
      "op_p50_ms" -> M(Stats.median(latMs), "ms"),
      "matches_per_s" -> M(changesMeasured / busyS, "1/s"))
    val layers = trace.map(t => Layers.stream(t, ctx, latMs, changesMeasured, gcRun)).getOrElse(Nil)
    val latName = if (openLoop) "stream_latency" else "batch_latency"
    Outcome(e2e, layers, sent, math.min(sent, failed + mismatches.size), mismatches.toSeq, Seq(
      "workload" -> name, "seed" -> args.seed, "edges_preloaded" -> preN.toLong,
      "warmup_batches" -> warmupBatches, "batches" -> measured.size, "edges_streamed" -> edgesSent, "measured_s" -> runS, "engine_busy_s" -> busyS,
      "session_s" -> sessionS, "input_s" -> inputS, "setup_reps_s" -> setups.map(_._1),
      "setup_cold_s" -> (sessionS + setups.head._1), "setup_s" -> setupS,
      "agg_before_s" -> beforeS, "agg_after_s" -> afterS, "check_s" -> checkS,
      "match_changes" -> changesMeasured, "net_weight" -> net, "triangles_before" -> total0,
      "triangles_after" -> total1, s"${latName}_p50_ms" -> Stats.quantile(latMs, 0.5),
      s"${latName}_p90_ms" -> Stats.quantile(latMs, 0.9), s"${latName}_max_ms" -> latMs.maxOption.getOrElse(0.0),
      "stream_updates_per_s" -> edgesSent / wallS, "stream_match_changes_per_s" -> changesMeasured / wallS,
      "peak_rss_mb" -> Main.peakRssMb(), "failed_ratio" -> (failed.toDouble / math.max(1, sent)),
      "batch_latencies_ms" -> latMs.map(x => math.round(x)),
      "per_batch" -> perBatch.map(_.map(p => Seq(p._1, p._2)).getOrElse(Nil))))
  }

  /** (bindings, Σ weight) of the triangle motif via the batch engine. */
  def aggTriangles(edges: DataFrame): (Long, Long) = {
    val r = FastBatch.enumerateAgg(edges, Planner.triangle).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}

/** Open loop at the reference's batch size: 1000-edge batches are due at a
  * fixed rate, about half of what a closed loop sustains on a 4-core host,
  * and each batch's latency runs from its due time. */
object StreamB1000 extends StreamWorkload {
  val name = "stream_b1000"
  val convs = 20000
  val batchEdges = 1000
  val openLoop = true
  val warmupBatches = 6
  /** Offered load, batches per second. */
  val rate = 1.6

  def batches(preload: Fixtures.Edges, tail: Fixtures.Edges): IndexedSeq[Array[(Long, Long, Long)]] =
    tail.tuples.grouped(batchEdges).toIndexedSeq

  def drive(ctx: StreamCtx): Long = {
    (0 until ctx.first).foreach { i =>
      if (ctx.inFlight >= depth) ctx.drainOne()
      ctx.submit(i, System.nanoTime())
    }
    ctx.drainAll()
    val n = math.min(ctx.batches.size - ctx.first, math.ceil(rate * ctx.seconds).toInt)
    val t0 = System.nanoTime()
    for (k <- 0 until n) {
      val i = ctx.first + k
      val due = t0 + (k * 1e9 / rate).toLong
      while (ctx.inFlight >= depth) ctx.drainOne()
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      ctx.submit(i, due)
    }
    t0
  }
}

/** Closed-loop catch-up with constant state size: each batch inserts the
  * next 10,000 stream edges and retracts the 10,000 oldest live ones, with
  * four batches in flight. The 20K-conversation stream is split 50/50 so
  * the tail holds 49 such batches. */
object StreamChurn extends StreamWorkload {
  val name = "stream_churn_b20000"
  val convs = 20000
  val batchEdges = 10000
  val openLoop = false
  val warmupBatches = 2
  override val preloadShare = 0.5

  def batches(preload: Fixtures.Edges, tail: Fixtures.Edges): IndexedSeq[Array[(Long, Long, Long)]] =
    (0 until tail.size / batchEdges).map { i =>
      val ins = tail.slice(i * batchEdges, (i + 1) * batchEdges).tuples
      val del = preload.slice(i * batchEdges, (i + 1) * batchEdges).tuples.map(t => (t._1, t._2, -t._3))
      ins ++ del
    }

  /** After the warm-up batches drain, a catch-up from an empty pipeline to
    * an empty pipeline: `depth` batches in flight, new batches for
    * `seconds`, and the window closes when the last one completes. */
  def drive(ctx: StreamCtx): Long = {
    (0 until ctx.first).foreach { i =>
      if (ctx.inFlight >= depth) ctx.drainOne()
      ctx.submit(i, System.nanoTime())
    }
    ctx.drainAll()
    val t0 = System.nanoTime()
    var i = ctx.first
    while (i < ctx.batches.size && System.nanoTime() - t0 < ctx.seconds * 1000000000L) {
      while (ctx.inFlight >= depth) ctx.drainOne()
      ctx.submit(i, System.nanoTime())
      i += 1
    }
    t0
  }
}

/** Queries bound to one generated input, and the (bindings, Σ weight) each
  * must give. */
final case class Bound(queries: Seq[(String, () => (Long, Long))], expected: Map[String, (Long, Long)],
                       info: Seq[(String, Any)])

/** Motif queries consumed the way the legacy bench consumes them, in rounds
  * of every query once. */
abstract class BatchWorkload extends Workload {
  val setupReps = 3

  /** The queries on the workload's input, or on a sample of the same shape
    * that set-up runs to compile and warm every query path. */
  def bind(spark: SparkSession, args: Args, sample: Boolean): Bound

  def session(args: Args): SparkSession =
    Main.builder(args).config("spark.sql.adaptive.enabled", "true").getOrCreate()

  def run(spark: SparkSession, args: Args, sessionS: Double, trace: Option[Trace]): Outcome = {
    val warm = bind(spark, args, sample = true)
    val setupChecks = mutable.ArrayBuffer.empty[String]
    val setups = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime()
      warm.queries.foreach { case (q, f) =>
        val got = f()
        if (got != warm.expected(q)) setupChecks += s"$q on the sample: got $got, expected ${warm.expected(q)}"
      }
      Workloads.elapsedS(t0)
    }
    val setupS = sessionS + Stats.median(setups)
    val Bound(qs, expected, info) = bind(spark, args, sample = false)

    /** One query rep: (seconds, result, trace span id). */
    def once(q: String, f: () => (Long, Long), round: Int): (Double, Option[(Long, Long)], Long) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      var spanId = -1L
      val t0 = System.nanoTime()
      val r = try {
        Some(trace.fold(f())(_.span(s"query:$q") { id => spanId = id; f() }))
      } catch { case e: Throwable =>
        System.out.println(s"[perfbench] $q round $round FAILED: ${e.toString.linesIterator.next()}")
        None
      }
      val s = Workloads.elapsedS(t0)
      val after = spark.sparkContext.getPersistentRDDs
      (after.keySet -- before).foreach(id => after(id).unpersist(false))
      (s, r, spanId)
    }

    // one untimed round on the full input: the first pass over it runs well
    // below speed (code paths and partition sizes the sample did not reach),
    // and whether it fell inside the window would depend on the host's speed
    val warmupChecks = qs.flatMap { case (q, f) =>
      val (_, r, _) = once(q, f, 0)
      if (r.contains(expected(q))) None else Some(s"$q warm-up round: got ${r.getOrElse("a failure")}, expected ${expected(q)}")
    }

    val gc0 = Main.gcMs()
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[Seq[(String, Double, Option[(Long, Long)], Long)]]
    while (rounds.size < 2 || System.nanoTime() - t0 < args.seconds * 1000000000L)
      rounds += qs.map { case (q, f) => val (s, r, id) = once(q, f, rounds.size + 1); (q, s, r, id) }
    val runS = Workloads.elapsedS(t0)
    val gcRun = Main.gcMs() - gc0
    trace.foreach(_.drain())

    val results = rounds.flatten
    val failed = results.count(r => r._3.isEmpty || !r._3.contains(expected(r._1)))
    val traced = trace.map { t =>
      rounds.toSeq.map(_.map { case (q, s, r, id) => Layers.query(t, id, s * 1000, r.map(_._1).getOrElse(0L)) })
    }
    // trace accounting: each query's layer self times must sum to its measured time
    val accounting = traced.toSeq.flatMap { rs =>
      rounds.flatten.map(_._1).zip(rs.flatten).collect {
        case (q, l) if math.abs(l.self.values.sum / l.e2eMs - 1) > Layers.maxSelfDev =>
          f"trace accounting: $q self times sum to ${l.self.values.sum}%.1f ms of ${l.e2eMs}%.1f ms measured"
      }
    }
    val mismatches = results.collect {
      case (q, _, Some(got), _) if got != expected(q) => s"$q: got $got, expected ${expected(q)}"
    }.distinct ++ setupChecks.distinct ++ warmupChecks ++ Expected.checkBatch(name, args.seed, expected) ++ accounting.distinct
    val roundMs = rounds.map(_.map(_._2).sum * 1000).toSeq
    val matchesPerRound = qs.map(q => expected(q._1)._1).sum.toDouble
    val perQuery = qs.map { case (q, _) => s"${q}_s" -> Stats.median(results.filter(_._1 == q).map(_._2)) }
    // how far a slowdown confined to the sharded regime moves op_p50_ms
    val shardedShare = Stats.median(rounds.map(r => r.filter(_._1.startsWith("sharded.")).map(_._2).sum / r.map(_._2).sum))
    val e2e = Seq(
      "setup_s" -> M(setupS, "s"),
      "op_p50_ms" -> M(Stats.median(roundMs), "ms"),
      "matches_per_s" -> M(Stats.median(roundMs.map(ms => matchesPerRound / (ms / 1000))), "1/s"))
    // per query: median self time of each layer, and the query's own time
    val selfDetail = traced.toSeq.flatMap { rs =>
      val byQuery = rounds.flatten.map(_._1).zip(rs.flatten)
      qs.map { case (q, _) =>
        val reps = byQuery.filter(_._1 == q).map(_._2)
        val self = Layers.selfLayers.map(k => k -> Stats.median(reps.map(_.self.getOrElse(k, 0.0)))).filter(_._2 != 0)
        s"self_ms.$q" -> (self.toMap + ("e2e" -> Stats.median(reps.map(_.e2eMs))))
      }
    }
    val layers = traced.map(rs => Layers.batch(rs, roundMs, gcRun)).getOrElse(Nil)
    Outcome(e2e, layers, results.size, failed, mismatches.toSeq, Seq(
      "workload" -> name, "seed" -> args.seed, "rounds" -> rounds.size, "measured_s" -> runS,
      "session_s" -> sessionS, "setup_reps_s" -> setups, "setup_cold_s" -> (sessionS + setups.head),
      "setup_s" -> setupS,
      "round_p50_ms" -> Stats.median(roundMs), "sharded_share_of_round" -> shardedShare, "peak_rss_mb" -> Main.peakRssMb(),
      "failed_ratio" -> (failed.toDouble / math.max(1, results.size))) ++ perQuery ++ info ++
      expected.toSeq.sortBy(_._1).map { case (q, v) => s"expected.$q" -> Seq(v._1, v._2) } ++ selfDetail)
  }

  def rowsAndWeight(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("w"), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}

/** Catalog motif queries in both batch regimes, in rounds of every query
  * once:
  *  - the local regime: the entries `wco_triangle`, `wco_triangle_count`,
  *    `wco_cycle3`, `wco_clique4_ordered` and `seed_k4_count`, called by name
  *    through `SparkEntry.queries` on a `lineitem`-derived graph (about 195K
  *    consolidated edges over 2000 nodes, under the 4M-edge gate);
  *  - the sharded regime: the calls the `wco_triangle` and
  *    `wco_triangle_count` entries make, on an R-MAT graph (its node ids
  *    permuted by the seed) whose edge count sits 5% above a gate lowered
  *    through the public `FastBatch.localIndexMaxEdges`, so each query pays
  *    the gate's collect-and-discard and then runs `buildShards`, `buildHot`
  *    and the exchange pipeline. */
object Batch extends BatchWorkload {
  val name = "batch"
  val rows = 200000
  val scale = 14
  val draws = 120000
  val localNames = Seq("wco_triangle", "wco_triangle_count", "wco_cycle3", "wco_clique4_ordered", "seed_k4_count")
  private val defaultGate = FastBatch.localIndexMaxEdges

  def bind(spark: SparkSession, args: Args, sample: Boolean): Bound = {
    val local = bindLocal(spark, args, if (sample) rows / 10 else rows)
    val sharded = if (sample) bindSharded(spark, args, 11, 8000) else bindSharded(spark, args, scale, draws)
    Bound(local.queries ++ sharded.queries, local.expected ++ sharded.expected, local.info ++ sharded.info)
  }

  private def bindLocal(spark: SparkSession, args: Args, n: Int): Bound = {
    val dir = Fixtures.lineitem(spark, args.work, n, args.seed).toString
    val (ok, pk) = Fixtures.lineitemRows(n, args.seed)
    val keys = ok.indices.iterator.map(i => (ok(i) % SparkEntry.K, pk(i) % SparkEntry.K))
      .filter(t => t._1 != t._2).map(t => t._1 * SparkEntry.K + t._2).toArray.distinct
    val g = new Oracle.Dense(SparkEntry.K.toInt, 0L, keys.map(_ / SparkEntry.K), keys.map(_ % SparkEntry.K),
      Array.fill(keys.length)(1L))
    val (tri, _) = g.triangle
    val cyc = g.cycle3
    val (k4, k4o) = g.clique4
    val expected = Map(
      "wco_triangle" -> (tri, tri), "wco_triangle_count" -> (tri, tri), "wco_cycle3" -> (cyc, cyc),
      "wco_clique4_ordered" -> (k4o, k4o), "seed_k4_count" -> (k4, k4))
    def entry(q: String): DataFrame = {
      FastBatch.localIndexMaxEdges = defaultGate
      SparkEntry.queries(q)(spark, dir)
    }
    val qs = localNames.map { q =>
      q -> (q match {
        case "wco_triangle_count" => () => { val r = entry(q).collect()(0); (r.getLong(0), r.getLong(1)) }
        case "seed_k4_count" => () => { val k = entry(q).collect()(0).getLong(0); (k, k) }
        case _ => () => rowsAndWeight(entry(q))
      })
    }
    Bound(qs, expected, Seq("local_edges" -> keys.length.toLong))
  }

  private def bindSharded(spark: SparkSession, args: Args, sc: Int, dr: Int): Bound = {
    val e = Fixtures.relabel(Fixtures.rmat(args.work, sc, dr, Workloads.DefaultSeed), 0L, 1 << sc, args.seed)
    val path = Fixtures.parquet(spark, args.work.resolve(s"cache/rmat_${sc}_${dr}_relabel${args.seed}.parquet"), e).toString
    val gate = e.size.toLong * 20 / 21
    val tri = Oracle.sparseTriangles(e.src, e.dst)
    def g = {
      FastBatch.localIndexMaxEdges = gate
      spark.read.parquet(path).select("src", "dst")
    }
    val qs = Seq(
      "sharded.wco_triangle" -> (() => rowsAndWeight(FastBatch.enumerate(g, Planner.triangle))),
      "sharded.wco_triangle_count" -> (() => {
        val r = FastBatch.enumerateAgg(g, Planner.triangle).collect()(0); (r.getLong(0), r.getLong(1))
      }))
    Bound(qs, Map("sharded.wco_triangle" -> (tri, tri), "sharded.wco_triangle_count" -> (tri, tri)),
      Seq("sharded_edges" -> e.size.toLong, "sharded_gate_edges" -> gate))
  }
}
