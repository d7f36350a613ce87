package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.gen.TranscriptGen
import graft.plan.Planner
import graft.transcripts.TranscriptEdges

/** Round benchmark. Emits ONE JSON line.
  *
  * Phase A — headline driver queries on SPARK_GRAFT_SF_DIR (wall seconds
  * each, `queries` field).
  *
  * Phase B — the BASELINE.md streaming protocol: the deterministic SF=0.1
  * transcript fixture (1M turns → ~980K tool-adjacency edge updates over a
  * Zipf-skewed 2000-node graph) is preloaded 90% into the incremental
  * triangle engine, then the remaining ~98K updates stream in event-time
  * order in batches of 1000. The identical job runs at local[8] and
  * local[32] (shuffle partitions = cores); we report edge-updates/s,
  * match-changes/s, per-batch latency p50/p95, the cross-level totals
  * equality gate, and scaling efficiency (thr32/thr8)/(32/8) — the
  * sandbox evidence for the north rule's N→4N executor criterion. */
object Bench {

  /** Shuffle/spill dir on tmpfs when available: micro-batch stages create
    * many small shuffle files and overlayfs metadata ops measurably inflate
    * task time at high core counts (cluster deployments get fast local SSDs
    * via spark.local.dir; this is the sandbox equivalent). */
  private def localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val d = new java.io.File("/dev/shm")
      if (d.isDirectory && d.canWrite) Some("/dev/shm/graft-spark-local") else None
    }

  private def withLocalDir(b: SparkSession.Builder): SparkSession.Builder =
    localDir.fold(b)(d => b.config("spark.local.dir", d))

  /** Teardown must never decide the round's exit code. BENCH_r04 died with
    * rc=1 because the local-cluster session's scheduler backend was torn
    * down twice (our stop racing Spark's shutdown hook after the
    * local-cluster workers exited) and `SparkContext.stop` threw
    * `Could not find AppClient` in the caller. Stopping a session is
    * cleanup, not measurement — swallow anything it throws. */
  private def safeStop(spark: SparkSession): Unit =
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] ignoring teardown failure: ${e.toString.linesIterator.next().take(200)}")
    }

  /** A failed phase — the local-cluster app dying because its executors
    * cannot launch is the observed case — stops its SparkContext on an
    * ASYNC scheduler thread; a safeStop from the catch block returns while
    * that shutdown is still deregistering, so the next phase's getOrCreate
    * grabs the still-registered stopped context and dies with "Cannot call
    * methods on a stopped SparkContext" (BENCH_full: bulk/stress/enumerate
    * all poisoned by one failed cluster phase). Stop + clear both session
    * handles, then WAIT for the context to actually deregister. */
  private def resetSessions(): Unit = {
    SparkSession.getActiveSession.foreach(safeStop)
    SparkSession.getDefaultSession.foreach(safeStop)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // SparkContext's registry is not public API, so probe it: getOrCreate
    // returns the registered context if one exists. A stopped probe means
    // the async shutdown hasn't deregistered yet — wait and retry until a
    // LIVE context comes back (then drop the throwaway) or the deadline
    // passes (the warning makes a still-wedged registry visible in stderr).
    val deadline = System.nanoTime() + 30L * 1000L * 1000L * 1000L
    var clean = false
    while (!clean && System.nanoTime() < deadline) {
      val probe =
        try Some(SparkSession.builder().master("local[1]")
          .appName("graft-bench-reset-probe")
          .config("spark.ui.enabled", "false").getOrCreate())
        catch { case _: Throwable => None }
      clean = probe.exists(s => !s.sparkContext.isStopped)
      probe.foreach(safeStop)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      if (!clean) Thread.sleep(200)
    }
    if (!clean)
      System.err.println("[bench] WARNING: a stopped SparkContext is still registered after reset")
  }

  /** Phase guard: a failed phase must surface as a recorded error in the
    * artifact, never as a dead JVM with no JSON line. */
  private val phaseErrors = scala.collection.mutable.ArrayBuffer[(String, String)]()
  private def phase[T](name: String, fallback: => T)(body: => T): T =
    try body
    catch { case e: Throwable =>
      val msg = e.toString.linesIterator.next().take(300)
      System.err.println(s"[bench] phase $name FAILED: $msg")
      phaseErrors += ((name, msg))
      // a dead phase may leave its session active (or mid-async-stop); the
      // next phase's getOrCreate would silently reuse it
      resetSessions()
      fallback
    }

  final case class StreamResult(
      cores: Int, loadSec: Double, streamSec: Double, edgesStreamed: Long,
      matchChanges: Long, netTotal: Long, p50Ms: Double, p95Ms: Double,
      edgesPerSec: Double, matchesPerSec: Double)

  /** Per-query stats over SPARK_GRAFT_BENCH_REPS runs: median/min/max over
    * the SUCCESSFUL repetitions plus an explicit failed count — a failed
    * rep must be visible as a failure, never mixed into min/med as a -1
    * sentinel. All three timings are -1 only when every rep failed. */
  final case class QStat(med: Double, min: Double, max: Double, failed: Int)

  /** Wall seconds per headline query over SPARK_GRAFT_BENCH_REPS runs
    * (default 3). Same-code same-box runs were measured swinging up to 2.3×
    * on this shared machine (BENCH_r02 vs its sibling artifacts), so a
    * single sample is not a number — the official artifact reports the
    * median and carries min/max so the spread is visible in the record
    * itself. */
  def headlineQueries(sfDir: String, cpus: String): Map[String, QStat] = {
    val spark = withLocalDir(SparkSession.builder()
      .master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // wco_clique4 (unordered) excluded: ~117M matches on the dense sf0.1
    // derived graph — wco_clique4_ordered (pushed-down predicates) and
    // seed_k4_count (factorized count of the same 117M) are the benchable
    // forms. wco_clique5_factorized_count / wco_clique6_count excluded: the
    // K5/K6-modulus graph is ~50% dense at sf0.1 (~10^10+ prefixes); they
    // run in the sf0.01 correctness gate where they are sized to be exact.
    // seed_k4 excluded: it materializes the full 117M-row K4 set (352.8s
    // measured once) — correctness-gated at sf0.01 instead.
    val names = Seq("wco_triangle", "wco_cycle3", "wco_triangle_count",
      "wco_clique4_ordered", "seed_k4_count",
      "minhash_lsh_pairs", "minhash_lsh_pairs_fast",
      "ann_cosine_topk", "ngram_jaccard_pairs", "ngram_jaccard_pairs_fast",
      "window_session", "dedup_exact")
    // production-hash (xxhash64) variant of the oracle-gated portable query;
    // measured here so the portable-vs-fast cost is visible side by side
    val extra: Map[String, (SparkSession, String) => DataFrame] = Map(
      "minhash_lsh_pairs_fast" -> ((s, dir) =>
        graft.dedup.Dedup.minhashPairs(TrainingQueries.docs2(s, dir), "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5, hash = graft.dedup.Dedup.FastHash)))
    // Unrecorded warmup: JIT-compile the fast-engine and shuffle paths on a
    // tiny in-memory graph so the first recorded query doesn't carry the
    // JVM's compilation debt (BENCH_r5_full1: wco_triangle rep1 = 37.3 s vs
    // 4.8 s warm — the median of 3 was dragged 2× by pure warmup).
    locally {
      import org.apache.spark.sql.types._
      val rnd = new scala.util.Random(7L)
      val warmRows = (0 until 2000).map { _ =>
        Row(rnd.nextInt(60).toLong, rnd.nextInt(60).toLong, 1L) }
      import scala.jdk.CollectionConverters._
      val warm = spark.createDataFrame(warmRows.asJava, StructType(Seq(
        StructField("src", LongType), StructField("dst", LongType),
        StructField("w", LongType))))
      graft.fast.FastBatch.enumerate(warm, Planner.triangle).count()
      ()
    }
    val out = names.map { n =>
      val times = (1 to reps).map { r =>
        // release blocks pinned by the previous repetition (FastBatch
        // localCheckpoints its result; three reps of a 21M-row query
        // otherwise hold ~2GB each until the ContextCleaner's GC cycle —
        // measured as a 4-5× slowdown of whatever query ran behind them)
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        // a failed query must NOT read as a fast success: record a sentinel
        try {
          val cnt = (extra ++ SparkEntry.queries)(n)(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] $n rep$r: $sec%.1fs ($cnt rows)")
          val after = spark.sparkContext.getPersistentRDDs
          (after.keySet -- before).foreach(id => after(id).unpersist(false))
          sec
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $n rep$r FAILED: ${e.getMessage}")
            -1.0
        }
      }
      val ok = times.filter(_ >= 0)
      val stat =
        if (ok.isEmpty) QStat(-1.0, -1.0, -1.0, times.size)
        else QStat(ok.sorted.apply(ok.size / 2), ok.min, ok.max, times.size - ok.size)
      n -> stat
    }.toMap
    safeStop(spark)
    out
  }

  /** Writes the deterministic (idx, src, dst, w) event-time-ordered edge
    * stream for a fixture config to /tmp once (generated at local[32]);
    * returns the parquet path. */
  /** Bump when TranscriptGen/TranscriptEdges derivation changes — stale
    * cached fixtures would otherwise silently survive across rounds. */
  private val fixtureVersion = 1

  def ensureFixture(current: SparkSession, nConvs: Int, turns: Int, nTools: Int): String = {
    val path = s"/tmp/graft_bench_fixture_v${fixtureVersion}_${nConvs}_${turns}_$nTools"
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val spark = if (current != null) current else SparkSession.builder()
        .master("local[32]").config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false").getOrCreate()
      val ts = TranscriptGen.generate(spark, TranscriptGen.Config(nConvs, turns, nTools)).toDF()
      val edges = TranscriptEdges.toolToolEdges(ts).select("src", "dst", "w", "ts")
      val ordered = edges.orderBy("ts", "src", "dst")
        .select("src", "dst", "w").rdd
        .zipWithIndex().map { case (r, i) => Row(i, r.getLong(0), r.getLong(1), r.getLong(2)) }
      spark.createDataFrame(ordered, StructType(Seq(
          StructField("idx", LongType), StructField("src", LongType),
          StructField("dst", LongType), StructField("w", LongType))))
        .write.mode("overwrite").parquet(path)
      if (current == null) safeStop(spark)
    }
    path
  }

  def streamBench(cores: Int, nConvs: Int, turns: Int, nTools: Int,
                  batchSize: Int, durable: Boolean): StreamResult =
    streamBenchMaster(s"local[$cores]", cores, nConvs, turns, nTools, batchSize, durable)

  /** `master` may be multi-JVM (`local-cluster[W,C,memMB]`): separate
    * executor processes with their own block managers on one box — the
    * testbed that distinguishes a single-JVM block-manager/scheduler funnel
    * from a real algorithmic scaling limit. `cores` is the TOTAL core count
    * (W·C), used for shuffle sizing and reporting. */
  def streamBenchMaster(master: String, cores: Int, nConvs: Int, turns: Int,
                        nTools: Int, batchSize: Int, durable: Boolean): StreamResult = {
    val aqe = sys.env.getOrElse("SPARK_GRAFT_BENCH_AQE", "1") == "1"
    val spark = withLocalDir(SparkSession.builder()
      .master(master))
      // multi-JVM executors need the graft classes on their own classpath
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // local-cluster workers launch executor PROCESSES via Spark's
      // launcher, whose classpath builder requires SPARK_SCALA_VERSION
      // (else "Cannot find any build directories" and the app is removed).
      // The shell env may not carry it (the official driver-run bench
      // doesn't); spark.executorEnv.* reaches the worker's command env,
      // which the launcher consults BEFORE System.getenv — so the bench is
      // self-sufficient regardless of the caller's environment.
      .config("spark.executorEnv.SPARK_SCALA_VERSION",
        sys.env.getOrElse("SPARK_SCALA_VERSION", "2.13"))
      .config("spark.executorEnv.SPARK_HOME",
        sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // shuffle records in the fast path are small case classes with
      // primitive-array fields — Kryo halves their serialized size/cost;
      // reference tracking off (no cyclic graphs in any shuffled type)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.referenceTracking", "false")
      // don't mmap shuffle blocks: the packed consolidation blocks are
      // >2MB, and 32 threads doing concurrent map/unmap serialize on the
      // kernel's mm lock (jstack-sampled as the top executor-thread state)
      .config("spark.storage.memoryMapThreshold", "1g")
      // long-running micro-batch loop: without periodic GC the driver never
      // collects broadcast/shuffle refs (tmpfs shuffle files = RAM); but the
      // cleaner's System.gc() is a full STW collection, so keep it rare
      .config("spark.cleaner.periodicGC.interval", "2min")
      // the SQL status listener runs even with the UI off and retains 1000
      // executions (~100-operator plans each) — measured as steady per-batch
      // latency creep; keep only a handful
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // fixture pre-generated once at 32 cores (see ensureFixture) so the
    // low-core levels don't pay generation time; content is deterministic
    // and identical regardless of who generated it
    val ordered = spark.read.parquet(ensureFixture(spark, nConvs, turns, nTools))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = ordered.count()
    val preloadN = (total * 0.9).toLong
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType),
      StructField("w", LongType)))
    val preload = spark.createDataFrame(
      ordered.filter(_._1 < preloadN).map(t => Row(t._2, t._3, t._4)), schema)

    val stateDir = if (durable) Some(s"/tmp/graft_bench_state_$cores") else None
    stateDir.foreach { d =>
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
      }
      rmrf(new java.io.File(d))
    }

    // stream side: collected once (driver-fed, like the reference's text
    // replay); batches created locally, joins run distributed
    val streamEdges = ordered.filter(_._1 >= preloadN)
      .map(t => (t._2, t._3, t._4)).collect()
    // default caps the per-level stream at 35 batches so the whole two-level
    // bench fits a driver round; the full-protocol numbers are in BASELINE.md
    val maxBatches = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXBATCHES", "35").toInt
    val latencies = scala.collection.mutable.ArrayBuffer[Double]()
    var matchChanges = 0L
    var netTotal = 0L
    var loadSec = 0.0
    var streamSec = 0.0

    // pipelined micro-batches (the reference's overlapping epochs): up to
    // `depth` batch jobs in flight; per-batch latency is submit→complete,
    // so queueing shows up honestly in p50/p95
    val depth = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PIPELINE", "4").toInt)
    // State sharding is a property of the JOB (sized to batch volume),
    // not of the machine: the same job runs UNCHANGED at every core
    // level — exactly the north rule's same-input N-vs-4N comparison —
    // and extra cores are consumed by pipelined batch jobs rather than by
    // slicing 1000-row batches into more, emptier tasks (measured: 32
    // one-record tasks/stage cost ~2× the whole 8-task job). Sized to
    // ~2500 batch rows per partition, capped by cores.
    val parts = sys.env.get("SPARK_GRAFT_BENCH_STREAM_PARTS").map(_.toInt)
      .getOrElse(math.max(2, math.min(cores, batchSize / 2500 + 7)))
    val state = new graft.fast.FastGraphState(spark, Planner.triangle,
      stateDir, numParts = parts, maxTail = 8, lineageMetrics = true,
      pipelineDepth = depth)
    val tLoad0 = System.nanoTime()
    state.initialize(preload)
    loadSec = (System.nanoTime() - tLoad0) / 1e9
    val tStream0 = System.nanoTime()
    var batchId = 0L
    val inflight = scala.collection.mutable.Queue
      .empty[(org.apache.spark.FutureAction[Seq[(Long, Long)]], Long)]
    def drain(): Unit = {
      val (fut, t0) = inflight.dequeue()
      val parts = scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration.Inf)
      matchChanges += parts.map(_._1).sum
      netTotal += parts.map(_._2).sum
      latencies += (System.nanoTime() - t0) / 1e6
    }
    for (chunk <- streamEdges.grouped(batchSize).take(maxBatches)) {
      while (inflight.size >= depth) drain()
      // t0 BEFORE the absorb call: the synchronous driver-side work (WAL,
      // broadcast, seed routing) belongs in per-batch latency
      val t0 = System.nanoTime()
      inflight += ((state.applyBatchStatsAsync(batchId, chunk), t0))
      batchId += 1
    }
    while (inflight.nonEmpty) drain()
    streamSec = (System.nanoTime() - tStream0) / 1e9
    state.close()
    safeStop(spark)
    val sorted = latencies.sorted
    def pct(p: Double) = if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    val edgesStreamed = math.min(streamEdges.length.toLong, maxBatches.toLong * batchSize)
    StreamResult(cores, loadSec, streamSec, edgesStreamed, matchChanges, netTotal,
      pct(0.5), pct(0.95), edgesStreamed / streamSec, matchChanges / streamSec)
  }

  /** BULK distributed-absorb probe (the backfill regime): the scaling
    * fixture's 10% tail (~200K edge updates) absorbed as ONE batch through
    * `applyBatchDistributed` — the batch stays a DataFrame/RDD end to end,
    * never collected or broadcast by the driver. Returns (wall sec for the
    * absorb+count, edges absorbed, match-delta rows, net weight); rows/net
    * must be identical across parallelism levels. */
  def bulkBench(cores: Int, nConvs: Int, turns: Int, nTools: Int): (Double, Long, Long, Long) = {
    val spark = withLocalDir(SparkSession.builder()
      .master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.referenceTracking", "false")
      .config("spark.storage.memoryMapThreshold", "1g")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fixture = spark.read.parquet(ensureFixture(spark, nConvs, turns, nTools))
    val total = fixture.count()
    val preloadN = (total * 0.9).toLong
    val preload = fixture.where(col("idx") < preloadN).select("src", "dst", "w")
    val tail = fixture.where(col("idx") >= preloadN).select("src", "dst", "w")
    val state = new graft.fast.FastGraphState(spark, Planner.triangle,
      None, numParts = cores, maxTail = 100)
    state.initialize(preload)
    val t0 = System.nanoTime()
    val m = state.applyBatchDistributed(0L, tail)
    val agg = m.agg(count(lit(1)), coalesce(sum("w"), lit(0L))).collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    state.close()
    safeStop(spark)
    (sec, total - preloadN, agg.getLong(0), agg.getLong(1))
  }

  /** Effort-bounded-emission stress: FULL triangle enumeration on the enum
    * fixture — every match row flows through the packed exchanges and the
    * UnsafeRow emit (no count-only shortcut), counted without retention.
    * Output (~hundreds of millions of rows) exceeds any task's memory many
    * times over; completing is the evidence that stage emission is chunked.
    * Returns (sec, rows). */
  def emissionStress(cores: Int, nConvs: Int, turns: Int, nTools: Int): (Double, Long) = {
    val spark = withLocalDir(SparkSession.builder()
      .master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.referenceTracking", "false")
      .config("spark.storage.memoryMapThreshold", "1g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val edges = spark.read.parquet(ensureFixture(spark, nConvs, turns, nTools))
      .select("src", "dst", "w")
    edges.count() // warm the scan out of the window
    val t0 = System.nanoTime()
    val rows = graft.fast.FastBatch.enumerateRowCount(edges, Planner.triangle)
    val sec = (System.nanoTime() - t0) / 1e9
    safeStop(spark)
    (sec, rows)
  }

  /** Compute-bound scaling probe: full batch triangle enumeration over the
    * fixture's whole edge set (the reference's naive-baseline scaling
    * experiment, /root/reference/naive/README.md: same count at 1/16/64
    * workers, ~85% efficiency). Here the parallel join work dominates the
    * driver floor, so this is where core-count scaling is visible. */
  def enumerateBench(cores: Int, nConvs: Int, turns: Int, nTools: Int): (Double, Long) = {
    val spark = withLocalDir(SparkSession.builder()
      .master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val edges = spark.read.parquet(ensureFixture(spark, nConvs, turns, nTools))
      .select("src", "dst", "w")
    edges.count() // warm the file scan out of the measured window
    val t0 = System.nanoTime()
    // fast engine's batch count mode: shard build + packed-block
    // count/propose/intersect, candidates counted, never exploded
    val row = graft.fast.FastBatch.enumerateAgg(edges, Planner.triangle).collect()(0)
    val n = row.getLong(0)
    val sec = (System.nanoTime() - t0) / 1e9
    safeStop(spark)
    (sec, n)
  }

  /** The round record must ALWAYS be a parseable JSON line and exit code 0:
    * rounds 2–4 each lost their official bench artifact to a crash or a
    * teardown race AFTER the measurements had succeeded. Any failure inside
    * `runBench` becomes an `"error"` field, and `sys.exit(0)` (after an
    * explicit flush) makes the status immune to exceptions thrown by
    * Spark's own shutdown hooks racing session teardown. */
  def main(args: Array[String]): Unit = {
    try runBench(args)
    catch { case e: Throwable =>
      println(s"""{"metric":"triangle_stream_matches_per_sec","value":-1.0,""" +
        s""""unit":"matches/sec","queries":{},""" +
        s""""error":${jstr(e.toString.linesIterator.next().take(300))}}""")
    }
    System.out.flush()
    System.err.flush()
    sys.exit(0)
  }

  private def runBench(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "20000").toInt
    val turns = sys.env.getOrElse("SPARK_GRAFT_BENCH_TURNS", "50").toInt
    val nTools = sys.env.getOrElse("SPARK_GRAFT_BENCH_TOOLS", "2000").toInt
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_BATCH", "1000").toInt
    val durable = sys.env.getOrElse("SPARK_GRAFT_BENCH_DURABLE", "1") == "1"
    val levels = sys.env.getOrElse("SPARK_GRAFT_BENCH_LEVELS", "8,32")
      .split(",").map(_.trim.toInt).toSeq

    // pre-generate every fixture once at local[32] so low-core levels
    // measure streaming, not data generation
    val sConvsPre = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING_CONVS", (nConvs * 2).toString).toInt
    val eConvsPre = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_CONVS", (nConvs * 8).toString).toInt
    val eToolsPre = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_TOOLS", (nTools * 2).toString).toInt
    phase("fixtures", ()) {
      ensureFixture(null, nConvs, turns, nTools)
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING", "1") == "1")
        ensureFixture(null, sConvsPre, turns, nTools)
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM", "1") == "1")
        ensureFixture(null, eConvsPre, turns, eToolsPre)
      ()
    }

    val q = if (sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES", "1") == "1")
      phase("queries", Map.empty[String, QStat])(headlineQueries(sfDir, cpus))
    else Map.empty[String, QStat]

    // This shared box drifts 2-4× in per-batch latency between runs minutes
    // apart (measured: identical command, p50 197 → 482 ms). Single samples
    // therefore cannot compare parallelism levels honestly. Each stream
    // phase runs `reps` INTERLEAVED repetitions of all its levels
    // (8,32,8,32,…) and reports, per level, the repetition with the median
    // throughput plus the min/max spread — level-vs-level ratios are then
    // taken under (approximately) the same box conditions.
    def interleaved(reps: Int, lvls: Seq[Int])(run: Int => StreamResult)
        : (Seq[StreamResult], Map[Int, (Double, Double)]) = {
      val runs = for (r <- 1 to reps; c <- lvls) yield run(c)
      val byLevel = lvls.map { c =>
        val rs = runs.filter(_.cores == c).sortBy(_.matchesPerSec)
        // LOWER median: for an even rep count the representative run is the
        // conservative (slower) of the middle pair — `size / 2` would
        // publish best-of-2 as a "median", inflating every ratio derived
        // from these numbers
        (rs((rs.size - 1) / 2), (rs.head.matchesPerSec, rs.last.matchesPerSec))
      }
      (byLevel.map(_._1), lvls.zip(byLevel.map(_._2)).toMap)
    }

    // Phase B1 — reference-parity latency run: the reference's batch size
    // (1000) on the sf0.1-equivalent fixture; reports per-batch p50/p95 and
    // the w1-vs-w2 totals-equality gate.
    val streamReps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM_REPS", "3").toInt)
    val (results, resultSpread) =
      phase("stream", (Seq.empty[StreamResult], Map.empty[Int, (Double, Double)])) {
        interleaved(streamReps, levels)(
          c => streamBench(c, nConvs, turns, nTools, batchSize, durable))
      }
    // Phase B2 — N→4N scaling run (the north rule's two-cluster-size
    // criterion): a fixture + batch size where parallel work dominates the
    // per-batch floor (single-core batch time ≥ 20× the ~0.2s stage floor),
    // run at 2, 8 and 32 cores. Efficiency is reported for the 4× core
    // steps 2→8 and 8→32.
    val sLevels = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING_LEVELS", "2,8,32")
      .split(",").map(_.trim.toInt).toSeq
    val sConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING_CONVS", (nConvs * 2).toString).toInt
    val sBatch = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING_BATCH", "20000").toInt
    val scalingReps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING_REPS", "2").toInt)
    val (scalingResults, scalingSpread) =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING", "1") == "1")
        phase("scaling", (Seq.empty[StreamResult], Map.empty[Int, (Double, Double)])) {
          interleaved(scalingReps, sLevels)(
            c => streamBench(c, sConvs, turns, nTools, sBatch, durable))
        }
      else (Nil, Map.empty[Int, (Double, Double)])
    // Phase B3 — the SAME scaling job on a multi-JVM `local-cluster` master
    // (4 workers × 8 cores, separate block managers and executor heaps on
    // this one box). BENCH_r03's 8→32 step (0.635) was ATTRIBUTED to a
    // single-JVM block-manager/scheduler funnel but never measured; if this
    // level recovers toward the local[8]-extrapolated throughput, the claim
    // is proven with data — if not, the funnel is algorithmic and real.
    val clusterSpec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CLUSTER", "local-cluster[4,8,4096]")
    val clusterResults: Either[String, Seq[StreamResult]] =
      if (clusterSpec == "0") Left("disabled")
      else {
        // Per-ATTEMPT recovery, not per-phase: BENCH_r5_full18 lost this
        // phase to a one-off worker-registration race ("Master removed our
        // application: FAILED") on the FIRST attempt — with the whole rep
        // loop inside one try, a single flaky standalone-master handshake
        // zeroed the phase even though a retry succeeds. Each attempt now
        // fails alone (reset + wait out the async scheduler shutdown, as
        // BENCH_r5_full1 required, then move on); the phase reports the
        // median of whatever attempts survived and is Left only when ALL
        // attempts — including one extra make-up attempt — failed.
        val wanted = math.max(1, scalingReps)
        var lastErr = "no attempts ran"
        val got = scala.collection.mutable.ArrayBuffer.empty[StreamResult]
        var tried = 0
        while (got.size < wanted && tried < wanted + 1) { // ≤1 make-up attempt
          tried += 1
          try got += streamBenchMaster(clusterSpec, 32, sConvs, turns, nTools, sBatch, durable)
          catch { case e: Throwable =>
            resetSessions()
            lastErr = e.toString.linesIterator.next().take(300)
            System.err.println(s"[bench] local-cluster attempt $tried failed: $lastErr")
          }
        }
        val runs = got.toSeq.sortBy(_.matchesPerSec)
        if (runs.isEmpty) Left(lastErr)
        else Right(Seq(runs((runs.size - 1) / 2))) // conservative lower median
      }

    // Phase B4 — bulk distributed absorb (backfill regime): one ~20K-edge
    // 10%-tail... sized by the scaling fixture (~200K updates at the
    // default conv count). Identical rows/net across levels is the gate.
    val bulkLevels = sys.env.getOrElse("SPARK_GRAFT_BENCH_BULK_LEVELS", "8,32")
      .split(",").map(_.trim.toInt).toSeq
    val bulkResults =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_BULK", "1") == "1")
        phase("bulk", Seq.empty[(Int, (Double, Long, Long, Long))]) {
          resetSessions()
          bulkLevels.map(c => c -> bulkBench(c, sConvs, turns, nTools))
        }
      else Nil

    // Phase C — effort-bounded emission stress: FULL enumeration (every
    // match row through the packed exchanges + UnsafeRow emit) of the enum
    // fixture's ~2×10^8 triangles, counted without retention.
    val stress =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_STRESS", "1") == "1")
        phase("stress", Option.empty[(Double, Long)])({ resetSessions(); Some(emissionStress(cpus.toInt,
          sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_CONVS", (nConvs * 8).toString).toInt,
          turns,
          sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_TOOLS", (nTools * 2).toString).toInt)) })
      else None

    // enumerate scaling probe may use a LARGER fixture than the stream so
    // parallel join work dominates the per-query serial floor (the r01 run's
    // 0.16 "efficiency" was an Amdahl artifact of a ~7s total job)
    val eConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_CONVS", (nConvs * 8).toString).toInt
    val eTools = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_TOOLS", (nTools * 2).toString).toInt
    val eLevels = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_LEVELS", "2,8")
      .split(",").map(_.trim.toInt).toSeq
    // interleaved medians, same rationale as the stream phases
    val enumReps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM_REPS", "2").toInt)
    val enumResults =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_ENUM", "1") == "1")
        phase("enumerate", Seq.empty[(Int, (Double, Long))]) {
          resetSessions()
          val runs = for (r <- 1 to enumReps; c <- eLevels)
            yield c -> enumerateBench(c, eConvs, turns, eTools)
          eLevels.map { c =>
            val rs = runs.filter(_._1 == c).map(_._2).sortBy(_._1)
            c -> rs(rs.size / 2)
          }
        }
      else Nil

    def sr(r: StreamResult, spread: Map[Int, (Double, Double)]): String = {
      val (mn, mx) = spread.getOrElse(r.cores, (r.matchesPerSec, r.matchesPerSec))
      s"""{"cores":${r.cores},"load_sec":${f"${r.loadSec}%.2f"},"stream_sec":${f"${r.streamSec}%.2f"},""" +
        s""""edges_streamed":${r.edgesStreamed},"match_changes":${r.matchChanges},"net_total":${r.netTotal},""" +
        s""""edges_per_sec":${f"${r.edgesPerSec}%.1f"},"matches_per_sec":${f"${r.matchesPerSec}%.1f"},""" +
        s""""matches_per_sec_min":${f"$mn%.1f"},"matches_per_sec_max":${f"$mx%.1f"},""" +
        s""""batch_p50_ms":${f"${r.p50Ms}%.1f"},"batch_p95_ms":${f"${r.p95Ms}%.1f"}}"""
    }

    // "queries" carries the MEDIANS (the official per-query number);
    // "queries_detail" preserves the spread so the artifact itself shows
    // run-to-run variance (BENCH_r02's same-code swings were up to 2.3×),
    // plus an explicit failed-rep count when any repetition threw
    val qJson = q.map { case (k, s) => "\"" + k + "\":" + f"${s.med}%.3f" }
      .mkString("{", ",", "}")
    val qDetailJson = q.map { case (k, s) =>
      val failed = if (s.failed > 0) s""","failed":${s.failed}""" else ""
      "\"" + k + "\":" + f"""{"med":${s.med}%.3f,"min":${s.min}%.3f,"max":${s.max}%.3f$failed}"""
    }.mkString("{", ",", "}")
    def stepEff(lo: StreamResult, hi: StreamResult): Double =
      (hi.edgesPerSec / lo.edgesPerSec) / (hi.cores.toDouble / lo.cores)
    val latencyEff = if (results.size >= 2) stepEff(results.head, results.last) else 0.0
    // the north-rule N→4N criterion: first 4× step of the scaling run
    // (work-dominated fixture); the 8→32 step is reported alongside
    val scalingEff =
      if (scalingResults.size >= 2) stepEff(scalingResults.head, scalingResults(1)) else 0.0
    val scalingEffHi =
      if (scalingResults.size >= 3) stepEff(scalingResults(1), scalingResults(2)) else 0.0
    val totalsMatch =
      results.map(r => (r.matchChanges, r.netTotal)).distinct.size == 1 &&
        scalingResults.map(r => (r.matchChanges, r.netTotal)).distinct.size <= 1
    val streamJson = results.map(sr(_, resultSpread)).mkString("[", ",", "]")
    val scalingJson = scalingResults.map(sr(_, scalingSpread)).mkString("[", ",", "]")
    val totalQ = q.values.map(_.med).filter(_ >= 0).sum // all-failed queries excluded
    val enumJson = enumResults.map { case (c, (sec, n)) =>
      s"""{"cores":$c,"sec":${f"$sec%.2f"},"triangles":$n}"""
    }.mkString("[", ",", "]")
    val enumEff = // first 4× core step (N→4N)
      if (enumResults.size >= 2) {
        val lo = enumResults.head; val hi = enumResults(1)
        (lo._2._1 / hi._2._1) / (hi._1.toDouble / lo._1)
      } else 0.0
    val enumTotalsMatch = enumResults.map(_._2._2).distinct.size <= 1

    // multi-JVM cluster level: totals must equal the local scaling levels
    // (same job, same input); throughput ratio vs local[32] quantifies the
    // single-JVM funnel
    val clusterJson = clusterResults match {
      case Left(err) => s""""cluster_error":${jstr(err)}"""
      case Right(rs) =>
        val local32 = scalingResults.find(_.cores == 32)
        val vs = (for (c <- rs.headOption; l <- local32)
          yield c.matchesPerSec / l.matchesPerSec).getOrElse(0.0)
        val tm = (for (c <- rs.headOption; l <- local32)
          yield c.matchChanges == l.matchChanges && c.netTotal == l.netTotal)
        s""""cluster_spec":${jstr(clusterSpec)},"cluster_levels":${rs.map(sr(_, Map.empty)).mkString("[", ",", "]")},""" +
          s""""cluster_vs_local32":${f"$vs%.3f"},"cluster_totals_match":${tm.getOrElse(false)}"""
    }
    val bulkJson = bulkResults.map { case (c, (sec, edges, rows, net)) =>
      s"""{"cores":$c,"sec":${f"$sec%.2f"},"edges":$edges,"match_rows":$rows,"net":$net,""" +
        s""""edges_per_sec":${f"${edges / sec}%.1f"},"match_rows_per_sec":${f"${rows / sec}%.1f"}}"""
    }.mkString("[", ",", "]")
    val bulkTotalsMatch = bulkResults.map(r => (r._2._3, r._2._4)).distinct.size <= 1
    val bulkEff =
      if (bulkResults.size >= 2) {
        val lo = bulkResults.head; val hi = bulkResults.last
        (lo._2._1 / hi._2._1) / (hi._1.toDouble / lo._1)
      } else 0.0
    val stressJson = stress.map { case (sec, rows) =>
      s"""{"rows":$rows,"sec":${f"$sec%.2f"},"rows_per_sec":${f"${rows / sec}%.1f"}}"""
    }.getOrElse("null")
    // a dead stream phase reports -1, never kills the artifact
    val headlineVal = results.lastOption.map(_.matchesPerSec).getOrElse(-1.0)
    val headlineP50 = results.lastOption.map(_.p50Ms).getOrElse(-1.0)
    val phaseErrJson = phaseErrors
      .map { case (n, e) => s"""{"phase":${jstr(n)},"error":${jstr(e)}}""" }
      .mkString("[", ",", "]")

    // FULL artifact → a file the driver can archive verbatim; stdout gets a
    // COMPACT line (headline + per-query medians + a pointer). BENCH_r03's
    // official record arrived tail-truncated because the full record was one
    // very long stdout line — the file is now the record of note.
    val fullJson =
      s"""{"metric":"triangle_stream_matches_per_sec","value":${f"$headlineVal%.1f"},""" +
        s""""unit":"matches/sec","phase_errors":$phaseErrJson,"queries":$qJson,"queries_detail":$qDetailJson,""" +
        s""""queries_total_sec":${f"$totalQ%.2f"},"sf":"$sfDir",""" +
        s""""stream_fixture":{"convs":$nConvs,"turns_per_conv":$turns,"tools":$nTools,"batch":$batchSize,"durable":$durable,"reps":$streamReps,"scaling_reps":$scalingReps},""" +
        s""""stream_levels":$streamJson,"latency_step_efficiency":${f"$latencyEff%.3f"},""" +
        s""""scaling_fixture":{"convs":$sConvs,"turns_per_conv":$turns,"tools":$nTools,"batch":$sBatch,"durable":$durable},""" +
        s""""scaling_levels":$scalingJson,"scaling_efficiency":${f"$scalingEff%.3f"},""" +
        s""""scaling_efficiency_8_32":${f"$scalingEffHi%.3f"},"totals_match":$totalsMatch,""" +
        s"""$clusterJson,""" +
        s""""bulk_levels":$bulkJson,"bulk_totals_match":$bulkTotalsMatch,"bulk_efficiency":${f"$bulkEff%.3f"},""" +
        s""""emission_stress":$stressJson,""" +
        s""""enumerate_levels":$enumJson,"enumerate_scaling_efficiency":${f"$enumEff%.3f"},"enumerate_totals_match":$enumTotalsMatch}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/BENCH_full_latest.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, fullJson + "\n")
    } catch {
      case e: Throwable => System.err.println(s"[bench] could not write $outPath: $e")
    }
    println(
      s"""{"metric":"triangle_stream_matches_per_sec","value":${f"$headlineVal%.1f"},""" +
        s""""unit":"matches/sec","queries":$qJson,"queries_total_sec":${f"$totalQ%.2f"},"sf":"$sfDir",""" +
        s""""batch_p50_ms":${f"$headlineP50%.1f"},""" +
        (if (phaseErrors.nonEmpty) s""""phase_errors":$phaseErrJson,""" else "") +
        s""""latency_step_efficiency":${f"$latencyEff%.3f"},"scaling_efficiency":${f"$scalingEff%.3f"},""" +
        s""""scaling_efficiency_8_32":${f"$scalingEffHi%.3f"},"totals_match":$totalsMatch,""" +
        (clusterResults match {
          case Right(rs) if rs.nonEmpty && scalingResults.exists(_.cores == 32) =>
            val vs = rs.head.matchesPerSec / scalingResults.find(_.cores == 32).get.matchesPerSec
            s""""cluster_vs_local32":${f"$vs%.3f"},"""
          case _ => ""
        }) +
        s""""bulk_efficiency":${f"$bulkEff%.3f"},""" +
        s""""enumerate_scaling_efficiency":${f"$enumEff%.3f"},"detail_file":"$outPath"}""")
  }

  /** JSON string escaping for error/spec fields — ALL control chars too: a
    * tab inside an exception message must not make the "always parseable"
    * artifact unparseable (same discipline as Verify's escaper). */
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
