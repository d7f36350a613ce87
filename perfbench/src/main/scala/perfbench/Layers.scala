package perfbench

import scala.collection.mutable
import Main.M
import Trace.{Job, Stage}

/** Per-layer metrics derived from a trace. Every workload reports every
  * name; a layer the workload never enters reads 0.
  *
  * Stages are assigned to engine layers by the engine frames of their
  * call-site stack (`DeltaEngine.buildShards`, `FastBatch.run`, ...); stages
  * Spark runs on its own threads (adaptive-execution map stages) carry no
  * engine frame and are placed by position: before the gate job they are
  * `EdgeIndex.consolidate`, after it they belong to the enumeration. */
object Layers {

  val streamNames: Seq[(String, String)] = Seq(
    "FastGraphState.absorb_sync_ms.p50" -> "ms", "FastGraphState.absorb_sync_ms.p90" -> "ms",
    "FastGraphState.absorb_sync_ms.max" -> "ms", "FastGraphState.queue_wait_ms.p50" -> "ms",
    "FastGraphState.job_ms.p50" -> "ms", "FastGraphState.wal_bytes_per_batch" -> "bytes",
    "FastGraphState.compactions" -> "count", "FastGraphState.maintenance_ms_per_batch" -> "ms",
    "spark.jobs_per_batch" -> "count", "DeltaEngine.deltaStep.stages_per_batch" -> "count",
    "spark.scheduler_delay_ms_per_batch" -> "ms", "DeltaEngine.deltaStep.executor_cpu_ms_per_batch" -> "ms",
    "DeltaEngine.deltaStep.shuffle_records_per_batch" -> "count",
    "DeltaEngine.deltaStep.shuffle_records_per_batch.s0" -> "count",
    "DeltaEngine.deltaStep.shuffle_records_per_batch.s1" -> "count",
    "DeltaEngine.deltaStep.shuffle_bytes_per_batch" -> "bytes",
    "DeltaEngine.deltaStep.useful_ratio" -> "ratio", "gen.due_late_ms.p90" -> "ms")

  val batchNames: Seq[(String, String)] = Seq(
    "EdgeIndex.consolidate.ms" -> "ms", "EdgeIndex.consolidate.rows_in" -> "count",
    "EdgeIndex.consolidate.rows_out" -> "count", "FastBatch.gate.ms" -> "ms",
    "FastBatch.gate.result_bytes" -> "bytes", "FastBatch.gate.discarded_bytes" -> "bytes",
    "FastBatch.gate.partition_max_over_mean" -> "ratio", "FastBatch.driver_gap_ms" -> "ms",
    "DeltaEngine.buildFullIndexPacked.ms" -> "ms", "DeltaEngine.enumerate.executor_cpu_ms" -> "ms",
    "DeltaEngine.enumerate.task_max_over_median" -> "ratio", "DeltaEngine.enumerate.output_rows" -> "count",
    "DeltaEngine.buildShards.ms" -> "ms", "DeltaEngine.buildShards.shuffle_write_bytes" -> "bytes",
    "DeltaEngine.buildHot.ms" -> "ms", "DeltaEngine.exchange.shuffle_bytes" -> "bytes",
    "DeltaEngine.exchange.stages" -> "count")

  /** Largest |Σ self time / measured time − 1| a batch query may show before
    * its run counts as wrong. */
  val maxSelfDev = 0.1

  /** Self time per layer of one operation, plus the trace accounting check. */
  val selfLayers: Seq[String] = Seq("driver", "scheduler", "stream.wait", "FastGraphState.absorb_sync",
    "DeltaEngine.deltaStep", "FastGraphState.maintenance", "EdgeIndex.consolidate", "FastBatch.gate",
    "DeltaEngine.enumerate", "DeltaEngine.buildShards", "DeltaEngine.buildHot", "DeltaEngine.exchange", "emit")

  val commonNames: Seq[(String, String)] = Seq("spark.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB", "trace.op_p50_ms" -> "ms",
    "trace.self_sum_over_e2e.max_dev" -> "ratio") ++ selfLayers.map(l => s"self_ms.$l" -> "ms")

  val names: Seq[(String, String)] = streamNames ++ batchNames ++ commonNames

  private def fill(got: collection.Map[String, Double]): Seq[(String, M)] = {
    val all = got ++ Map("jvm.peak_rss_mb" -> Main.peakRssMb())
    names.map { case (n, u) => n -> M(all.getOrElse(n, 0.0), u) }
  }

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => !x._1.isNaN && !x._2.isNaN).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) { if (!curE.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self times of an operation spanning [start, end) whose jobs are `jobs`:
    * the driver's share is the time no job covers, a job's own share is the
    * time none of its stages covers, and each stage counts whole under
    * `layer(stage)`. */
  def selfTimes(t: Trace, start: Double, end: Double, jobs: Seq[Job],
                layer: (Job, Stage) => String): mutable.Map[String, Double] = {
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    self("driver") += (end - start) - covered(jobs.map(j => (math.max(j.startMs, start), math.min(j.endMs, end))))
    jobs.foreach { j =>
      val st = t.stagesOf(j)
      self("scheduler") += j.ms - covered(st.map(s => (s.submitMs, s.completeMs)))
      st.foreach(s => self(layer(j, s)) += s.ms)
    }
    self
  }

  /** Over the measured batches of a stream (warm-up batches excluded). */
  def stream(t: Trace, ctx: StreamWorkload#StreamCtx, latMs: Seq[Double], changes: Long,
             gcMs: Double): Seq[(String, M)] = {
    val got = mutable.Map.empty[String, Double]
    val measured = ctx.first until ctx.results.size
    val n = math.max(1, measured.size)
    val syncOf = (i: Int) => (ctx.syncEndNs(i) - ctx.startNs(i)) / 1e6
    val sync = measured.map(syncOf)
    got("FastGraphState.absorb_sync_ms.p50") = Stats.quantile(sync, 0.5)
    got("FastGraphState.absorb_sync_ms.p90") = Stats.quantile(sync, 0.9)
    got("FastGraphState.absorb_sync_ms.max") = sync.maxOption.getOrElse(0.0)
    got("gen.due_late_ms.p90") = Stats.quantile(measured.map(i => (ctx.startNs(i) - ctx.dueNs(i)) / 1e6), 0.9)
    val perBatch = measured.map { i =>
      val jobs = t.jobsOf(ctx.spanIds(i))
      val (step, other) = jobs.partition(j => t.stagesOf(j).exists(_.name.startsWith("collectAsync")))
      (i, jobs, step, other)
    }
    val stepJobs = perBatch.flatMap(_._3)
    val stepStages = stepJobs.flatMap(t.stagesOf)
    got("FastGraphState.job_ms.p50") = Stats.quantile(stepJobs.map(_.ms), 0.5)
    got("FastGraphState.queue_wait_ms.p50") = Stats.quantile(perBatch.flatMap { case (i, _, step, _) =>
      step.headOption.map { j =>
        val firstTask = t.stagesOf(j).map(_.firstLaunchMs).minOption.getOrElse(j.startMs)
        (ctx.startNs(i) - ctx.dueNs(i)) / 1e6 + math.max(0.0, firstTask - j.startMs)
      }
    }, 0.5)
    got("FastGraphState.wal_bytes_per_batch") = Stats.median(ctx.walBytes)
    got("FastGraphState.compactions") = ctx.compactions
    got("FastGraphState.maintenance_ms_per_batch") = perBatch.flatMap(_._4).map(_.ms).sum / n
    got("spark.jobs_per_batch") = perBatch.map(_._2.size).sum.toDouble / n
    got("DeltaEngine.deltaStep.stages_per_batch") = stepStages.size.toDouble / n
    got("spark.scheduler_delay_ms_per_batch") = Stats.median(stepJobs.map(j => t.stagesOf(j).map(_.schedDelayMs).sum.toDouble))
    got("DeltaEngine.deltaStep.executor_cpu_ms_per_batch") = stepStages.map(_.cpuNs).sum / 1e6 / n
    val records = stepStages.map(_.shuffleWriteRecords).sum.toDouble
    got("DeltaEngine.deltaStep.shuffle_records_per_batch") = records / n
    for (k <- 0 to 1)
      got(s"DeltaEngine.deltaStep.shuffle_records_per_batch.s$k") = stepJobs.map { j =>
        t.stagesOf(j).filter(_.shuffleWriteRecords > 0).lift(k).map(_.shuffleWriteRecords).getOrElse(0L)
      }.sum.toDouble / n
    got("DeltaEngine.deltaStep.shuffle_bytes_per_batch") = stepStages.map(_.shuffleWriteBytes).sum.toDouble / n
    got("DeltaEngine.deltaStep.useful_ratio") = if (records > 0) changes / records else 0.0
    got("spark.gc_ms") = gcMs
    got("trace.op_p50_ms") = Stats.median(latMs)

    // one operation = one batch, from its due time to its completion
    val selfs = perBatch.flatMap { case (i, jobs, step, _) =>
      Option(ctx.doneNs.get(i)).map { done =>
        val span = t.spans.find(_.id == ctx.spanIds(i)).get
        val e2e = (done - ctx.dueNs(i)) / 1e6
        val end = span.startMs + (done - ctx.startNs(i)) / 1e6
        val self = selfTimes(t, span.startMs, end, jobs,
          (j, _) => if (step.contains(j)) "DeltaEngine.deltaStep" else "FastGraphState.maintenance")
        // the driver's share splits into the wait before the absorb call,
        // the synchronous absorb, and the rest (waiting for the job)
        self("stream.wait") += (ctx.startNs(i) - ctx.dueNs(i)) / 1e6
        self("FastGraphState.absorb_sync") += syncOf(i)
        self("driver") -= syncOf(i)
        (self, e2e)
      }
    }
    addSelf(got, selfs.toSeq)
    fill(got)
  }

  private def addSelf(got: mutable.Map[String, Double], selfs: Seq[(mutable.Map[String, Double], Double)]): Unit = {
    selfLayers.foreach(l => got(s"self_ms.$l") = Stats.median(selfs.map(_._1.getOrElse(l, 0.0))))
    got("trace.self_sum_over_e2e.max_dev") =
      selfs.map { case (s, e2e) => math.abs(s.values.sum / e2e - 1) }.maxOption.getOrElse(0.0)
  }

  /** One query rep: its layer figures and self times. */
  final case class QueryLayers(values: Map[String, Double], self: mutable.Map[String, Double], e2eMs: Double)

  def query(t: Trace, spanId: Long, e2eMs: Double, outputRows: Long): QueryLayers = {
    val span = t.spans.find(_.id == spanId).get
    val jobs = t.jobsOf(spanId).sortBy(_.startMs)
    def site(s: Stage) = s.site.mkString(" ")
    val gateIdx = jobs.indexWhere(j => t.stagesOf(j).exists(s =>
      s.site.headOption.contains("FastBatch.run") && s.name.startsWith("collect")))
    val gate = jobs.lift(gateIdx)
    val gateStage = gate.flatMap(j => t.stagesOf(j).find(_.site.headOption.contains("FastBatch.run")))
    // the job that builds the shards also materializes them in a FastBatch stage
    val shardJobs = jobs.filter(j => t.stagesOf(j).exists(s => site(s).contains("DeltaEngine.buildShards")))
    val sharded = shardJobs.nonEmpty
    def layer(j: Job, s: Stage): String = {
      val idx = jobs.indexOf(j)
      if (gateStage.contains(s)) "FastBatch.gate"
      else if (idx < gateIdx) "EdgeIndex.consolidate"
      else if (shardJobs.contains(j)) "DeltaEngine.buildShards"
      else if (site(s).contains("DeltaEngine.buildHot")) "DeltaEngine.buildHot"
      else if (sharded && site(s).contains("DeltaEngine.")) "DeltaEngine.exchange"
      else if (!sharded && site(s).contains("DeltaEngine.")) "DeltaEngine.enumerate"
      else if (!sharded && s.site.isEmpty && gate.exists(g => j.startMs >= g.endMs) &&
        jobs.drop(gateIdx + 1).headOption.contains(j)) "DeltaEngine.enumerate"
      else "emit"
    }
    val byLayer = jobs.flatMap(j => t.stagesOf(j).map(s => layer(j, s) -> s)).groupBy(_._1).map {
      case (k, v) => k -> v.map(_._2)
    }.withDefaultValue(Nil)
    val v = mutable.Map.empty[String, Double]
    val cons = byLayer("EdgeIndex.consolidate").filter(_.shuffleWriteRecords > 0)
    v("EdgeIndex.consolidate.ms") = cons.map(_.ms).sum
    v("EdgeIndex.consolidate.rows_in") = cons.map(_.inputRecords).sum.toDouble
    v("EdgeIndex.consolidate.rows_out") = gateStage.map(_.shuffleReadRecords.toDouble).getOrElse(0.0)
    v("FastBatch.gate.ms") = gateStage.map(_.ms).getOrElse(0.0)
    v("FastBatch.gate.result_bytes") = gateStage.map(_.resultBytes.toDouble).getOrElse(0.0)
    v("FastBatch.gate.discarded_bytes") = if (sharded) v("FastBatch.gate.result_bytes") else 0.0
    v("FastBatch.gate.partition_max_over_mean") = gateStage.map { s =>
      val mean = s.taskReadRecords.sum / math.max(1, s.taskReadRecords.size)
      if (mean > 0) s.taskReadRecords.max / mean else 0.0
    }.getOrElse(0.0)
    v("FastBatch.driver_gap_ms") =
      span.ms - covered(jobs.map(j => (math.max(j.startMs, span.startMs), math.min(j.endMs, span.endMs))))
    if (!sharded) {
      v("DeltaEngine.buildFullIndexPacked.ms") =
        gate.flatMap(g => jobs.lift(gateIdx + 1).map(_.startMs - g.endMs)).getOrElse(0.0)
      val en = byLayer("DeltaEngine.enumerate")
      v("DeltaEngine.enumerate.executor_cpu_ms") = en.map(_.cpuNs).sum / 1e6
      v("DeltaEngine.enumerate.task_max_over_median") = en.maxByOption(_.cpuNs).map { s =>
        val med = Stats.median(s.taskRunMs); if (med > 0) s.taskRunMs.max / med else 0.0
      }.getOrElse(0.0)
      v("DeltaEngine.enumerate.output_rows") = outputRows.toDouble
    } else {
      v("DeltaEngine.buildShards.ms") = shardJobs.map(_.ms).sum
      v("DeltaEngine.buildShards.shuffle_write_bytes") =
        byLayer("DeltaEngine.buildShards").map(_.shuffleWriteBytes).sum.toDouble
      v("DeltaEngine.buildHot.ms") = jobs.filter(j => t.stagesOf(j).exists(s =>
        site(s).contains("DeltaEngine.buildHot"))).map(_.ms).sum
      val ex = byLayer("DeltaEngine.exchange")
      v("DeltaEngine.exchange.shuffle_bytes") = ex.map(_.shuffleWriteBytes).sum.toDouble
      v("DeltaEngine.exchange.stages") = ex.count(_.shuffleWriteBytes > 0).toDouble
    }
    QueryLayers(v.toMap, selfTimes(t, span.startMs, span.endMs, jobs, layer), e2eMs)
  }

  /** Per round: additive figures summed over the round's queries, ratios
    * the largest; then the median over rounds. */
  def batch(rounds: Seq[Seq[QueryLayers]], roundMs: Seq[Double], gcMs: Double): Seq[(String, M)] = {
    val got = mutable.Map.empty[String, Double]
    val ratio = Set("FastBatch.gate.partition_max_over_mean", "DeltaEngine.enumerate.task_max_over_median")
    batchNames.foreach { case (n, _) =>
      got(n) = Stats.median(rounds.map { r =>
        val xs = r.map(_.values.getOrElse(n, 0.0))
        if (ratio(n)) xs.maxOption.getOrElse(0.0) else xs.sum
      })
    }
    got("spark.gc_ms") = gcMs
    got("trace.op_p50_ms") = Stats.median(roundMs)
    val selfs = rounds.map { r =>
      val s = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      r.foreach(_.self.foreach { case (k, x) => s(k) += x })
      (s, r.map(_.e2eMs).sum)
    }
    addSelf(got, selfs)
    got("trace.self_sum_over_e2e.max_dev") =
      rounds.flatten.map(q => math.abs(q.self.values.sum / q.e2eMs - 1)).maxOption.getOrElse(0.0)
    fill(got)
  }
}
