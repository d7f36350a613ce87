package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plan.Planner

/** Driver contract — one entry per implemented operator (SURVEY.md §2),
  * with a DuckDB-runnable oracle for everything SQL-expressible.
  *
  * The motif queries run the WCO engine (`graft.fast`) over a graph derived
  * deterministically from the driver's `lineitem` table
  * (src = l_orderkey % 2000, dst = l_partkey % 2000, distinct, no
  * self-loops) so the DuckDB oracle can rebuild the identical graph. */
object SparkEntry {

  val K = 2000L
  /** Denser modulus for the 5-variable motifs: at K=2000 the sf graphs have
    * zero 5-cliques, so those queries would pass vacuously. */
  val K5 = 900L
  /** Modulus for the 6-clique entry (density-controlled like K5 so the
    * count is non-zero at sf0.01 yet the staged DuckDB oracle stays fast). */
  val K6 = 900L

  /** Deterministic derived edge graph over the driver tables. */
  def edgesM(m: Long)(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr(s"l_orderkey % $m AS src", s"l_partkey % $m AS dst")
      .where(col("src") =!= col("dst"))
      .distinct()

  def edges(s: SparkSession, dir: String): DataFrame = edgesM(K)(s, dir)

  def edgesCteM(m: Long): String =
    s"WITH edges AS (SELECT DISTINCT l_orderkey % $m AS src, l_partkey % $m AS dst " +
      s"FROM lineitem WHERE l_orderkey % $m <> l_partkey % $m)"

  val edgesCte: String = edgesCteM(K)

  /** DuckDB twin of [[eventTranscripts]] — the transcript table derived
    * from events with the identical stable (ts, event_id) turn ranking. */
  private val transcriptsCte =
    "WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx, " +
      "event_type AS role, props AS text FROM events)"

  /** ONE copy of the SFT pair-extraction CTE chain (transcripts → 4-lag
    * window → (prompt, completion) pairs as `pr`), shared by every oracle
    * downstream of pair extraction (sft_pairs, its stream/rocksdb twins,
    * sft_curate, sft_pack_masked) so the extraction contract cannot drift
    * between gates. */
  private val sftPairsCtes =
    transcriptsCte + ", l AS (SELECT conv_id, turn_idx, role, text, " +
      "lag(coalesce(role,'') || ':' || coalesce(text,''), 1) OVER w AS p1, " +
      "lag(coalesce(role,'') || ':' || coalesce(text,''), 2) OVER w AS p2, " +
      "lag(coalesce(role,'') || ':' || coalesce(text,''), 3) OVER w AS p3, " +
      "lag(coalesce(role,'') || ':' || coalesce(text,''), 4) OVER w AS p4 " +
      "FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)), " +
      "pr AS (SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, " +
      "concat_ws(chr(10), p4, p3, p2, p1) AS prompt, text AS completion " +
      "FROM l WHERE role = 'purchase' AND turn_idx > 1)"

  /** Shared by sft_pairs and its incremental streaming twin: the batch
    * lag-window form of bounded-context (≤4 prior turns) pair extraction —
    * the stream kernel must converge to exactly this relation. */
  private val sftPairsOracle =
    sftPairsCtes + " SELECT conv_id, turn_idx, prompt, completion FROM pr"

  /** Shared by turn_latency and its O(1)-state streaming twin: exact
    * integer micros between consecutive turns, aggregated per conv. */
  private val latencyOracle =
    "WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx, " +
      "epoch_us(ts) AS ts_us FROM events), " +
      "g AS (SELECT conv_id, ts_us - lag(ts_us) OVER " +
      "(PARTITION BY conv_id ORDER BY turn_idx) AS gap FROM t) " +
      "SELECT conv_id, CAST(count(*) AS BIGINT) AS n_gaps, " +
      "CAST(min(gap) AS BIGINT) AS min_gap_us, " +
      "CAST(max(gap) AS BIGINT) AS max_gap_us, " +
      "CAST(sum(gap) AS BIGINT) AS sum_gap_us " +
      "FROM g WHERE gap IS NOT NULL GROUP BY conv_id"

  /** n-way self-join oracle for a motif, mirroring the engine's output
    * schema (x0..x{k-1}, w). `extraWhere` carries symmetry-breaking /
    * distinctness predicates in x-attribute terms. */
  private def motifOracle(motif: Seq[(Int, Int)], m: Long = K,
                          extraWhere: Seq[String] = Nil): String = {
    val n = motif.flatMap(e => Seq(e._1, e._2)).max + 1
    val binder = scala.collection.mutable.Map[Int, String]()
    motif.zipWithIndex.foreach { case ((s, d), i) =>
      if (!binder.contains(s)) binder(s) = s"e$i.src"
      if (!binder.contains(d)) binder(d) = s"e$i.dst"
    }
    val sel = (0 until n).map(a => s"${binder(a)} AS x$a").mkString(", ")
    val from = motif.indices.map(i => s"edges e$i").mkString(", ")
    val conds = motif.zipWithIndex.flatMap { case ((s, d), i) =>
      Seq(s"e$i.src = ${binder(s)}", s"e$i.dst = ${binder(d)}")
    }.distinct.filterNot(c => c.split(" = ")(0) == c.split(" = ")(1)) ++
      extraWhere.map(w => (n - 1 to 0 by -1).foldLeft(w)((acc, a) =>
        acc.replace(s"x$a", binder(a)))) // descending so x1 never matches in x10
    val where = if (conds.isEmpty) "" else " WHERE " + conds.mkString(" AND ")
    s"${edgesCteM(m)} SELECT $sel, CAST(1 AS BIGINT) AS w FROM $from$where"
  }

  /** Flagship: WCO triangles on sf0.001 via the fast engine's batch mode;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.fast.FastBatch.enumerate(
      edges(spark, "/root/testdata/sf0.001"), Planner.triangle)

  private val cepDayMs = 24L * 3600 * 1000
  private val cepStreamCounter = new java.util.concurrent.atomic.AtomicInteger()

  final case class WEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                       event_type: String)

  /** Memoized per dir: three window-stream entries share one collect+sort
    * instead of re-scanning events.parquet each. */
  private val wEventsCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[WEv]]
  private def wEvents(s: SparkSession, dir: String): Array[WEv] =
    wEventsCache.getOrElseUpdate(dir, {
      import s.implicits._
      s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), col("event_type"))
        .as[WEv].collect().sortBy(e => (e.ts.getTime, e.event_id))
    })

  /** The north rule's transcript table derived from the events stream
    * table: conv_id = user, stable turn_idx = per-user (ts, event_id) rank,
    * role = event_type, text = props — same derivation DuckDB replays in
    * the transcript_* oracles. The rank window partitions by user, so it
    * scales horizontally (one conversation per task group). */
  private def eventTranscripts(s: SparkSession, dir: String,
                               extra: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rank by the STRING conv_id (user_id's cast is bijective, so the rank
    // is identical) — the downstream render/roleStats groupBy keys on
    // conv_id too, letting ENSURE_REQUIREMENTS reuse this exchange instead
    // of reshuffling the full turn table a second time. `extra` appends
    // pass-through event columns (e.g. the logged reward `value`) without
    // widening the default schema every other entry sees.
    val w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    s.read.parquet(s"$dir/events.parquet")
      .withColumn("conv_id", col("user_id").cast("string"))
      .withColumn("turn_idx", row_number().over(w))
      .select((Seq(col("conv_id"), col("turn_idx"),
        col("event_type").as("role"), col("props").as("text"),
        col("ts")) ++ extra.map(col)): _*) // NTZ; stream twins cast before watermarking
  }

  /** THE memory-source replay protocol, shared by every streaming driver
    * gate (CEP, dedup, windows, sketch): feed `rows` in ~4 ordered
    * micro-batches, then each sentinel as its own batch (watermark
    * advancement + the extra batch that runs timed-out keys), stop, and
    * hand back the sink table. Callers build the source + query and guard
    * empty inputs (an empty feed leaves a schema-correct empty table). */
  private[graft] def streamReplay[T](
      s: SparkSession,
      src: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T],
      out: DataFrame, rows: Seq[T], sentinels: Seq[T],
      outputMode: String, prefix: String,
      lateBatch: Seq[T] = Nil,
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ()): DataFrame = {
    val name = s"${prefix}_${cepStreamCounter.incrementAndGet()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    try {
      for (chunk <- rows.grouped(math.max(1, rows.length / 4 + 1)))
        { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
      for (sv <- sentinels) { src.addData(sv); q.processAllAvailable() }
      // a held-back late cohort, delivered as ONE final micro-batch after
      // everything it is late relative to (per-row sentinels would cost one
      // micro-batch per late row)
      if (lateBatch.nonEmpty) { src.addData(lateBatch.toIndexedSeq); q.processAllAvailable() }
      check(q) // e.g. the RocksDB non-vacuity gate, while progress is live
    } finally q.stop()
    s.table(name)
  }

  /** Two-source replay twin of [[streamReplay]]: interleaves quarter-chunks
    * of both sides (each pre-sorted by event time, so the two watermarks
    * advance roughly in lockstep), one `processAllAvailable` barrier per
    * round. Inner stream-stream joins emit on arrival, so no sentinels are
    * needed — watermarks only bound state here. */
  private[graft] def streamReplay2[A, B](
      s: SparkSession,
      srcA: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A],
      srcB: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[B],
      out: DataFrame, rowsA: Seq[A], rowsB: Seq[B], prefix: String,
      sentinels: Seq[(A, B)] = Nil,
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ()): DataFrame = {
    val name = s"${prefix}_${cepStreamCounter.incrementAndGet()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val chunksA = rowsA.grouped(math.max(1, rowsA.length / 4 + 1)).toIndexedSeq
      val chunksB = rowsB.grouped(math.max(1, rowsB.length / 4 + 1)).toIndexedSeq
      for (i <- 0 until math.max(chunksA.size, chunksB.size)) {
        if (i < chunksA.size) srcA.addData(chunksA(i))
        if (i < chunksB.size) srcB.addData(chunksB(i))
        q.processAllAvailable()
      }
      // far-future pairs, one per micro-batch: batch k's max event time
      // raises the watermark AFTER the batch, batch k+1 evicts/flushes with
      // it — OUTER joins need ≥2 so every null-extended row is emitted
      for ((sa, sb) <- sentinels) {
        srcA.addData(sa); srcB.addData(sb); q.processAllAvailable()
      }
      check(q)
    } finally q.stop()
    s.table(name)
  }

  /** STREAMING tumbling-window aggregation, driver-gated end to end:
    * events replayed through a memory source in event-time-ordered
    * micro-batches, `groupBy(window(ts, 1h), type).count` in COMPLETE mode
    * (the sink holds the converged full result), hash-matched against the
    * SAME DuckDB oracle as the batch `window_tumbling` entry. */
  private def windowTumblingStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = wEvents(s, dir)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val agg = src.toDF()
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"))
    streamReplay(s, src, agg, evs.toIndexedSeq, Nil, "complete", "graft_wt_stream")
      .select(col("win_start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n"))
  }

  /** STREAMING sliding-window twin of `window_sliding` — the same
    * [[graft.streaming.Windows.sliding]] helper over a memory-source
    * stream, complete mode. */
  private def windowSlidingStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = wEvents(s, dir)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val agg = graft.streaming.Windows.sliding(
      src.toDF().withColumn("w", lit(1L)), "ts", "1 hour", "15 minutes",
      keys = Seq("event_type"))
    streamReplay(s, src, agg, evs.toIndexedSeq, Nil, "complete", "graft_wsl_stream")
      .select(col("win_start").cast("timestamp_ntz").as("win_start"),
        col("win_end").cast("timestamp_ntz").as("win_end"),
        col("event_type"), col("net"), col("rows"))
  }

  /** Watermark LATE-DATA DROP gate, end to end: the other half of the
    * north rule's late-data semantics (AdjacencyDeltas gates retraction of
    * rows INSIDE the lateness budget; this gates the deterministic DROP of
    * rows beyond it). On-time rows stream in event-time order; a far-future
    * sentinel expires every window and advances the watermark; the held-back
    * late cohort (event_id % 37 == 0) then arrives 30 days behind the
    * watermark and every row of it must be excluded from the append-mode
    * window counts. Oracle: the tumbling-count SQL with the late cohort
    * filtered out — if Spark dropped more or fewer rows than the watermark
    * contract promises, the hash breaks. */
  private def windowLateDropStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = wEvents(s, dir)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val agg = src.toDF().withWatermark("ts", "1 millisecond")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"))
    if (evs.isEmpty)
      return s.emptyDataset[WEv].toDF()
        .select(col("ts").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("event_id").as("n"))
    val (late, onTime) = evs.partition(_.event_id % 37 == 0)
    val far = evs.last.ts.getTime + 30L * 24 * 3600 * 1000
    val name = s"graft_wlate_${cepStreamCounter.incrementAndGet()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      for (chunk <- onTime.grouped(math.max(1, onTime.length / 4 + 1)))
        { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
      src.addData(WEv(-1L, new java.sql.Timestamp(far), -1L, "zz"))
      q.processAllAvailable() // watermark passes every real window's end
      src.addData(late.toIndexedSeq) // 30 days late: dropped, all of it
      q.processAllAvailable()
      src.addData(WEv(-1L, new java.sql.Timestamp(far + 1000000L), -2L, "zz"))
      q.processAllAvailable()
    } finally q.stop()
    s.table(name).where(col("event_type") =!= "zz")
      .select(col("win_start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n"))
  }

  /** STREAMING session windows via Spark's native `session_window`
    * (10-minute gap, per user), append mode + watermark: sessions finalize
    * when the watermark passes their close, flushed by a far-future
    * sentinel user. Session-merge semantics equal the batch lag-based
    * sessionization whenever no inter-event gap is EXACTLY the gap length
    * (session_window's window end is exclusive where the lag rule's `>` is
    * not) — verified on this data: zero exact-600s gaps at sf0.01/sf0.1.
    * Oracle: the same lag-based SQL as the batch `window_session` entry. */
  private def windowSessionStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = wEvents(s, dir)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val agg = src.toDF().withWatermark("ts", "1 millisecond")
      .groupBy(session_window(col("ts"), "10 minutes").as("sw"), col("user_id"))
      .agg(min("ts").as("sess_start"), max("ts").as("sess_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sess_start"), col("sess_end"), col("n_events"))
    val out =
      if (evs.isEmpty) // empty events table → the oracle's empty set
        s.emptyDataset[WEv].toDF()
          .select(col("user_id"), col("ts").as("sess_start"),
            col("ts").as("sess_end"), col("event_id").as("n_events"))
      else {
        val far = evs.last.ts.getTime + 30L * 24 * 3600 * 1000
        streamReplay(s, src, agg, evs.toIndexedSeq,
          Seq(WEv(-1L, new java.sql.Timestamp(far), -1L, "zz"),
            WEv(-1L, new java.sql.Timestamp(far + 1000000L), -2L, "zz")),
          "append", "graft_ws_stream")
      }
    out.where(col("user_id") =!= -1L)
      .select(col("user_id"), col("sess_start").cast("timestamp_ntz").as("sess_start"),
        col("sess_end").cast("timestamp_ntz").as("sess_end"), col("n_events"))
  }

  /** Events projected for the CEP kernels with ts TRUNCATED to milliseconds:
    * the streaming kernels operate at ms resolution (GroupState watermarks
    * are ms), so the stream entries and their oracles are defined over the
    * ms-floored event times (ties within one ms order by ev_id on both
    * sides). */
  private def cepEventsMs(s: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts").cast("timestamp"))
    s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").as("key"),
        timestamp_micros(us - pmod(us, lit(1000L))).as("ts"),
        col("event_id").as("evId"), col("event_type").as("tag"))
  }

  /** Replays the events table through the fMGWS streaming CEP kernels
    * ([[graft.streaming.Patterns.detectStream]] / detectAbsenceStream) —
    * MemoryStream source fed in event-time-ordered chunks (multiple
    * micro-batches, watermark advancing between them), memory sink, then a
    * far-future sentinel key so the final watermark passes every real
    * window/deadline and EventTimeTimeout flushes quiescent keys. The
    * result must hash-match the same DuckDB oracle as the batch forms —
    * `flatMapGroupsWithState` end to end in the driver harness. */
  /** NATIVE Structured Streaming stream-stream interval join (the
    * `stream_stream_join*` entries): every click joined to the same user's
    * error events in the preceding 24 h — two watermarked memory sources
    * through Spark's own streaming join operator (state retention derived
    * from the time-range condition), append mode, against a plain
    * inequality-join oracle. The 25 h watermark delay keeps boundary-tied
    * state alive across the chunked replay without changing any emitted
    * row (inner joins emit on arrival; the watermark only bounds state
    * cleanup). */
  private def streamStreamJoinInner(s: SparkSession, dir: String,
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ()): DataFrame = {
    import s.implicits._
    val all = wEvents(s, dir)
    val clicks = all.filter(_.event_type == "click").toIndexedSeq
    val errs = all.filter(_.event_type == "error").toIndexedSeq
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val srcC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val srcE = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val c = srcC.toDS().withWatermark("ts", "25 hours")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val e = srcE.toDS().withWatermark("ts", "25 hours")
      .select(col("user_id").as("e_uid"), col("ts").as("e_ts"),
        col("event_id").as("err_id"))
    val joined = c.join(e, col("c_uid") === col("e_uid") &&
      col("e_ts") >= col("c_ts") - expr("INTERVAL 24 HOURS") &&
      col("e_ts") <= col("c_ts"))
    streamReplay2(s, srcC, srcE, joined, clicks, errs, "graft_ssj",
        check = check)
      .select(col("click_id"), col("err_id"), col("c_uid").as("user_id"),
        unix_micros(col("c_ts")).as("click_ts_us"),
        unix_micros(col("e_ts")).as("err_ts_us"))
  }

  /** Live-state migration gate (`cep_migrate_tws`): the fMGWS CEP kernel
    * runs the FIRST half of the event stream against a real checkpoint and
    * stops; its per-key state is exported offline
    * ([[graft.streaming.StateInspect.fmgwsPatternState]]) and the TWS
    * kernel boots from it ([[graft.streaming.PatternsTws.detectStreamFrom]])
    * to process the SECOND half — no history reprocessing. The union of
    * both generations' outputs must hash-match the same DuckDB oracle as
    * `cep_pattern_seq_stream`: the hand-over is exactly-once (the exported
    * emitted-through mark suppresses re-emission) and loses nothing
    * (matches spanning the migration cut emit from the carried buffers).
    *
    * `gen2Partitions` (the `cep_migrate_repartition` gate) additionally
    * REPARTITIONS the state across the hand-over: generation 2 starts at
    * a different spark.sql.shuffle.partitions than generation 1's
    * checkpoint — the operation Spark forbids on a restart of the SAME
    * checkpoint, and the reason the export/boot path is how a 10^12-turn
    * deployment outgrows its original state layout. The entry verifies
    * the new checkpoint's state-metadata actually landed at the requested
    * count, then gates the same output oracle. */
  private def cepMigrateTws(s: SparkSession, dir: String,
                            gen2Partitions: Option[Int] = None): DataFrame = {
    import s.implicits._
    import graft.streaming.{Patterns, PatternsTws, StateBackend, StateInspect}
    val steps = Seq("view", "click", "purchase")
    val evs = cepEventsMs(s, dir).as[Patterns.Ev].collect()
      .sortBy(e => (e.ts.getTime, e.evId))
    val shape = (t: DataFrame) =>
      t.where(col("key") =!= -1L)
        .select(col("key"), col("startTs").cast("timestamp_ntz").as("start_ts"),
          col("endTs").cast("timestamp_ntz").as("end_ts"),
          col("startId").as("start_id"))
    if (evs.isEmpty) return shape(s.emptyDataset[Patterns.PatMatch].toDF())
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val (h1, h2) = evs.splitAt(evs.length / 2)

    val cp1 = java.nio.file.Files.createTempDirectory("graft-mig-cp1").toString
    val o1 = java.nio.file.Files.createTempDirectory("graft-mig-o1").toString
    val src1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Patterns.Ev]
    val q1 = Patterns.detectStream(
        src1.toDS().withWatermark("ts", "1 millisecond"), steps, cepDayMs)
      .writeStream.format("parquet").option("path", o1)
      .option("checkpointLocation", cp1).outputMode("append").start()
    try {
      for (chunk <- h1.grouped(math.max(1, h1.length / 2 + 1)))
        { src1.addData(chunk.toIndexedSeq); q1.processAllAvailable() }
    } finally q1.stop()

    val exported = StateInspect.fmgwsPatternState(s, cp1)
      .as[(Long, Seq[(Long, Long, String)], Long)]

    val cp2 = java.nio.file.Files.createTempDirectory("graft-mig-cp2").toString
    val o2 = java.nio.file.Files.createTempDirectory("graft-mig-o2").toString
    StateBackend.withRocksDB(s) {
      val beforeParts = s.conf.get("spark.sql.shuffle.partitions")
      gen2Partitions.foreach(p =>
        s.conf.set("spark.sql.shuffle.partitions", p.toString))
      try {
        val src2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Patterns.Ev]
        val q2 = PatternsTws.detectStreamFrom(
            src2.toDS().withWatermark("ts", "1 millisecond"), steps, cepDayMs, exported)
          .writeStream.format("parquet").option("path", o2)
          .option("checkpointLocation", cp2).outputMode("append").start()
        try {
          for (chunk <- h2.grouped(math.max(1, h2.length / 2 + 1)))
            { src2.addData(chunk.toIndexedSeq); q2.processAllAvailable() }
          val far = evs.last.ts.getTime + 3L * cepDayMs
          src2.addData(Patterns.Ev(-1L, new java.sql.Timestamp(far), -1L, "zz_sentinel"))
          q2.processAllAvailable()
          src2.addData(Patterns.Ev(-1L, new java.sql.Timestamp(far + 1000L), -2L, "zz_sentinel"))
          q2.processAllAvailable()
          graft.streaming.StateBackend.requireRocksDBServed(q2)
        } finally q2.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", beforeParts)
    }
    gen2Partitions.foreach { p =>
      // non-vacuity: the repartition actually happened — gen 1's count
      // would only appear here if the initial-state shuffle silently
      // inherited the old layout
      val landed = StateInspect.metadata(s, cp2)
        .select("numPartitions").collect().map(_.getInt(0)).distinct.toSeq
      require(landed == Seq(p),
        s"gen-2 state expected at $p partitions, found $landed")
      val gen1 = StateInspect.metadata(s, cp1)
        .select("numPartitions").collect().map(_.getInt(0)).distinct.toSeq
      require(gen1 != landed,
        s"repartition gate is vacuous: both generations at $landed")
    }
    def readOut(p: String): DataFrame =
      scala.util.Try(s.read.parquet(p)).toOption
        .filter(_.schema.nonEmpty)
        .getOrElse(s.emptyDataset[Patterns.PatMatch].toDF())
    shape(readOut(o1).unionByName(readOut(o2)))
  }

  /** State-introspection gate (`state_inspect_dedup`): streams the events
    * table through dropDuplicatesWithinWatermark against a REAL checkpoint,
    * then reads the operator's retained key set back OFFLINE through
    * Spark's `statestore` data source ([[graft.streaming.StateInspect]]) —
    * the audit path a production deployment uses to inspect a live job's
    * state without stopping it. With the 90 d watermark over the 30 d data
    * span nothing evicts, so the read-back keys must equal exactly the
    * distinct event ids — which DuckDB can state directly. */
  private def stateInspectDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = wEvents(s, dir)
    if (evs.isEmpty) return s.emptyDataset[Long].toDF("event_id")
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val cp = java.nio.file.Files.createTempDirectory("graft-si-cp")
    val sink = java.nio.file.Files.createTempDirectory("graft-si-out")
    val out = src.toDS().toDF()
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("event_id")
    val q = out.writeStream.format("parquet").option("path", sink.toString)
      .option("checkpointLocation", cp.toString).outputMode("append").start()
    try {
      for (chunk <- evs.grouped(math.max(1, evs.length / 4 + 1)))
        { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    graft.streaming.StateInspect.dedupKeys(s, cp.toString, "event_id")
  }

  /** STREAMING exact turn dedup (the `dedup_turns_stream*` entries):
    * dropDuplicatesWithinWatermark with PLANTED duplicate deliveries —
    * every event_id % 7 == 3 row arrives twice in the same micro-batch and
    * every event_id % 11 == 5 row is re-delivered in a final late batch
    * after everything else; the appended sink must still equal the batch
    * distinct. The 90 d watermark (> the 30 d data span) is what BOUNDS
    * the dedup state at scale. `check` runs against the live query before
    * stop (the RocksDB twin's non-vacuity gate). */
  /** The sft_pairs_stream body, parameterized on a query-progress check
    * (so the RocksDB-backend twin can require its non-vacuity gate) and on
    * the kernel runtime (fMGWS default; `tws = true` runs the
    * column-family [[graft.streaming.SftTws]] form). */
  private def sftPairsStream(s: SparkSession, dir: String,
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => (),
      tws: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.streaming.SftStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val turns = eventTranscripts(s, dir)
      .select(col("conv_id").as("convId"), col("turn_idx").as("turnIdx"),
        col("role"), col("text"), col("ts").cast("timestamp").as("ts"))
      .as[SftStream.Turn].collect()
      .sortBy(t => (t.ts.getTime, t.convId, t.turnIdx))
    if (turns.isEmpty) s.emptyDataset[SftStream.Pair].toDF()
    else {
      val (late, onTime) = turns.partition(_.turnIdx % 5 == 2)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SftStream.Turn]
      val wmIn = src.toDS().withWatermark("ts", "90 days")
      val out =
        (if (tws) graft.streaming.SftTws.sftStream(wmIn,
            targetRole = "purchase", ctxTurns = 4)
         else SftStream.sftStream(wmIn,
            targetRole = "purchase", ctxTurns = 4)).toDF()
      val farMs = turns.map(_.ts.getTime).max + 90L * 86400000L + 7200000L
      def sentinel(off: Long) = SftStream.Turn("~s", 1, "", "",
        new java.sql.Timestamp(farMs + off))
      streamReplay(s, src, out, (onTime ++ late).toIndexedSeq,
          Seq(sentinel(0L), sentinel(1000L)), "append", "graft_sft_stream",
          check = check)
        .where(col("conv_id") =!= "~s")
    }
  }

  private def dedupTurnsStream(s: SparkSession, dir: String,
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ()): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = wEvents(s, dir)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
    val out = src.toDS().toDF()
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val rows = evs.iterator.flatMap(e =>
      if (e.event_id % 7 == 3) Iterator(e, e) else Iterator(e)).toIndexedSeq
    val lateDups = evs.filter(_.event_id % 11 == 5).toIndexedSeq
    if (evs.isEmpty)
      s.emptyDataset[(Long, Long, String, Long)]
        .toDF("event_id", "user_id", "event_type", "ts_us")
    else
      streamReplay(s, src, out, rows, Nil, "append", "graft_ddw",
        lateBatch = lateDups, check = check)
  }

  private def cepStream(s: SparkSession, dir: String, absence: Boolean,
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => (),
      tws: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.streaming.Patterns
    val evs = cepEventsMs(s, dir).as[Patterns.Ev].collect()
      .sortBy(e => (e.ts.getTime, e.evId))
    if (evs.isEmpty) { // an empty events table yields the oracle's empty set
      val base = s.emptyDataset[Patterns.Ev].toDF()
      return if (absence)
        base.select(col("key"), col("ts").cast("timestamp_ntz").as("start_ts"),
          col("evId").as("start_id"))
      else
        base.select(col("key"), col("ts").cast("timestamp_ntz").as("start_ts"),
          col("ts").cast("timestamp_ntz").as("end_ts"), col("evId").as("start_id"))
    }
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Patterns.Ev]
    // delay ≥ 1 ms, NEVER 0: with EventTimeTimeout Spark itself filters
    // rows at-or-before the watermark BEFORE the kernel runs, so a 0-delay
    // watermark silently drops an in-order event whose ms timestamp TIES
    // the previous batch's max at a micro-batch boundary (measured: the
    // boundary a→b→c match lost its middle event). 1 ms of delay keeps
    // every in-order row while changing no emitted result.
    val in = src.toDS().withWatermark("ts", "1 millisecond")
    val out = (absence, tws) match {
      case (true, false) =>
        Patterns.detectAbsenceStream(in, "signup", "purchase", cepDayMs).toDF()
      case (true, true) =>
        graft.streaming.PatternsTws.detectAbsenceStream(
          in, "signup", "purchase", cepDayMs).toDF()
      case (false, true) =>
        graft.streaming.PatternsTws.detectStream(
          in, Seq("view", "click", "purchase"), cepDayMs).toDF()
      case (false, false) =>
        Patterns.detectStream(in, Seq("view", "click", "purchase"), cepDayMs).toDF()
    }
    // two sentinels: the first advances the watermark beyond every real
    // deadline, the second forces one more micro-batch so EventTimeTimeout
    // invocations run under that watermark
    val far = evs.last.ts.getTime + 3L * cepDayMs
    val t = streamReplay(s, src, out, evs.toIndexedSeq,
        Seq(Patterns.Ev(-1L, new java.sql.Timestamp(far), -1L, "zz_sentinel"),
          Patterns.Ev(-1L, new java.sql.Timestamp(far + 1000L), -2L, "zz_sentinel")),
        "append", "graft_cep_stream", check = check)
      .where(col("key") =!= -1L)
    if (absence)
      t.select(col("key"), col("startTs").cast("timestamp_ntz").as("start_ts"),
        col("startId").as("start_id"))
    else
      t.select(col("key"), col("startTs").cast("timestamp_ntz").as("start_ts"),
        col("endTs").cast("timestamp_ntz").as("end_ts"), col("startId").as("start_id"))
  }

  /** STREAMING incremental connected components, driver-gated end to end:
    * the sparsified edge set streams through a memory source in four
    * micro-batches, and a `foreachBatch` sink folds each batch into the
    * (node, component) star-forest labeling via
    * [[graft.ops.ConnectedComponents.absorb]]. State is one |V|-row label
    * table `localCheckpoint`ed per batch (O(1) lineage across batches) —
    * never the edge history. Hash-matched against the SAME one-shot
    * recursive-CTE oracle as the batch `cc_incremental` entry. */
  private def ccIncrementalStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val es = edges(s, dir)
      .where((col("src") * 31 + col("dst")) % 10 === 0)
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    if (es.isEmpty)
      return s.emptyDataset[(Long, Long)].toDF("node", "component")
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    var labels: DataFrame = null
    val q = src.toDF().toDF("src", "dst").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        labels =
          (if (labels == null)
            graft.ops.ConnectedComponents.run(batch, "src", "dst")
          else
            graft.ops.ConnectedComponents.absorb(labels, batch, "src", "dst"))
            .localCheckpoint()
        ()
      }
      .outputMode("update").start()
    try {
      for (chunk <- es.grouped(math.max(1, es.length / 4 + 1)))
        { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    labels
  }

  /** STREAMING twin of `adjacency_lag` — the north rule's transcript→edge
    * derivation run end to end through the `flatMapGroupsWithState` kernel
    * ([[graft.streaming.AdjacencyDeltas]]) with REAL late-turn retraction:
    * every turnIdx % 5 == 2 turn is held back and delivered in a final
    * micro-batch AFTER its successors, so the kernel first emits bridging
    * edges attr(i)→attr(k) and must later retract them (−1) and insert the
    * two replacement pairs. The summed Z-set over all emitted deltas is
    * hash-matched against the batch lag oracle — one lost or doubled
    * retraction breaks the net counts. */
  private def adjacencyLagStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.AdjacencyDeltas
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    // NULL event_type must survive to the output as NULL: the batch lag
    // form and the shared oracle keep (NULL, next) pairs and never bridge
    // across them, but denseDict drops null keys and an inner dict join
    // would silently pair the null's neighbours. Ride nulls through the
    // encode as a sentinel key (a control char no enum value contains),
    // decode back to NULL on the way out.
    val nullKey = "\u0000null"
    val ev = s.createDataset(wEvents(s, dir).toIndexedSeq).toDF() // cached scan
      .withColumn("attr", coalesce(col("event_type"), lit(nullKey)))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val t = ev.withColumn("turn_idx", row_number().over(w))
      .select(col("user_id").cast("string").as("conv_id"), col("turn_idx"),
        col("attr"), col("ts"))
    // dict feeds the encode join plus both output decode joins — cache the
    // dense-rank plan instead of re-evaluating it three times
    val dict = graft.transcripts.TranscriptEdges.denseDict(ev, "attr", 0L).cache()
    val turns = AdjacencyDeltas.encode(t, dict, "attr").collect()
      .sortBy(x => (x.ts.getTime, x.convId, x.turnIdx))
    if (turns.isEmpty)
      return s.emptyDataset[(String, String, Long)]
        .toDF("src_type", "dst_type", "n")
    // held-back late cohort (never turn 1, so onTime is non-empty)
    val (late, onTime) = turns.partition(_.turnIdx % 5 == 2)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AdjacencyDeltas.EncTurn]
    // The kernel reads getCurrentWatermarkMs(), which streaming only allows
    // when a watermark IS set — attach one far enough in the past that the
    // held-back cohort is late-but-within-watermark (retraction, not drop;
    // actual drop semantics are gated by window_late_drop_stream).
    val out = AdjacencyDeltas.stream(src.toDS().withWatermark("ts", "36500 days")).toDF()
    val sink = streamReplay(s, src, out, onTime.toIndexedSeq, Nil,
      "append", "graft_adjlag", lateBatch = late.toIndexedSeq)
    sink.groupBy("src", "dst").agg(sum("w").as("n"))
      .where(col("n") =!= 0L)
      .join(broadcast(dict).select(col("id").as("src"), col("key").as("src_key")), "src")
      .join(broadcast(dict).select(col("id").as("dst"), col("key").as("dst_key")), "dst")
      .select(
        when(col("src_key") === nullKey, lit(null).cast("string"))
          .otherwise(col("src_key")).as("src_type"),
        when(col("dst_key") === nullKey, lit(null).cast("string"))
          .otherwise(col("dst_key")).as("dst_type"),
        col("n"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = TrainingQueries.queries ++ Map(
    // ---- WCO engine (SURVEY.md §2.1-2.2, ops 1-17) ----
    // every motif entry runs the fast RDD engine's batch mode (count →
    // argmin → propose → intersect over a packed index); the specs pin it
    // to a brute-force nested-loop enumeration
    "wco_triangle" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Planner.triangle)),
    "wco_cycle3" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Planner.cycle3)),
    "wco_clique4" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Planner.clique4)),
    // count-only fast path: no per-binding consolidation shuffle
    "wco_triangle_count" -> ((s, dir) =>
      graft.fast.FastBatch.enumerateAgg(edges(s, dir), Planner.triangle)),
    // 5-variable motifs on the denser K5-modulus graph (zero matches at K;
    // reference q6/q7-lean)
    "wco_clique5" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edgesM(K5)(s, dir), Planner.clique5)),
    "wco_clique_hat" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Planner.cliqueHat)),
    // symmetry-broken / filtered enumeration (reference q6-lean retain
    // filters + diamonds.rs ordered mode); the ordered predicates are
    // galloped into the candidate runs, never propose-then-discard
    "wco_clique4_ordered" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Planner.clique4,
        Planner.ordered(4))),
    "wco_clique_hat_filtered" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Planner.cliqueHat,
        Seq(Planner.Pred(1, 4, "!="), Planner.Pred(2, 4, "<")))),
    // factorized counting (seed-q5-lean mode): the count path never
    // explodes the last attribute, it sums the final intersections
    "wco_clique5_factorized_count" -> ((s, dir) =>
      graft.fast.FastBatch.enumerateAgg(edgesM(K5)(s, dir), Planner.clique5)
        .select("total")),
    "wco_cycle4_count" -> ((s, dir) =>
      graft.fast.FastBatch.enumerateAgg(edges(s, dir), Planner.cycle4)),
    // diamond (K4 minus one edge — two triangles sharing an edge), count
    // form on the fast engine: a second non-clique 4-var family alongside
    // the 4-cycle, keeping enumerateAgg gated on a plan whose stages mix
    // 1- and 2-constraint extensions
    "wco_diamond_count" -> ((s, dir) =>
      graft.fast.FastBatch.enumerateAgg(edges(s, dir), Planner.diamond)),
    // triangle-seeded K4 (reference examples/seed.rs mode): the clique4
    // plan extends each triangle prefix by the intersection of its three
    // adjacency runs, so it is the K4 enumeration itself
    "seed_k4" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Planner.clique4)),
    // triangle-seeded FACTORIZED K4 count (seed-q5-lean mode): the fast
    // engine's count path enumerates triangles and counts the 3-run
    // adjacency intersection at the last level, so no K4 row and no
    // triangle set is materialized
    "seed_k4_count" -> ((s, dir) =>
      graft.fast.FastBatch.enumerateAgg(edges(s, dir), Planner.clique4)
        .select(col("n").as("total"))),
    // 6-clique (reference README.md:150-176) as a count on the denser
    // K6-modulus graph, via the fast engine's batch mode
    "wco_clique6_count" -> ((s, dir) =>
      graft.fast.FastBatch.enumerateAgg(edgesM(K6)(s, dir), Planner.clique6)),
    // static-index streamed-queries serving mode (reference q3-lean /
    // static_graph): a query subset of edges extended against the full
    // static index on the fast engine
    // the WCO triangle as a FIRST-CLASS Catalyst operator: a custom
    // LogicalPlan node planned by an injected strategy into a physical
    // exec that routes the child's rows through FastBatch.enumerate
    // (graft.plans.Wco) — the (c)-tier extension path, composing with
    // Catalyst above and below the node. Same oracle as wco_triangle.
    "wco_triangle_plan" -> ((s, dir) =>
      graft.plans.Wco.triangles(edges(s, dir))),
    // plain SQL in, WCO plan out: the TriangleJoinRewrite optimizer rule
    // recognizes the canonical distinct self-join and swaps in the custom
    // node — the require() makes a silent pattern miss FAIL the gate
    // instead of quietly falling back to binary joins
    "wco_triangle_sql" -> ((s, dir) => {
      graft.plans.Wco.registerSqlRewrite(s)
      edges(s, dir).createOrReplaceTempView("graft_edges_sql")
      val df = s.sql(
        "SELECT e0.src AS x0, e0.dst AS x1, e1.dst AS x2 " +
          "FROM graft_edges_sql e0 JOIN graft_edges_sql e1 ON e1.src = e0.src " +
          "JOIN graft_edges_sql e2 ON e2.src = e0.dst AND e2.dst = e1.dst")
      require(df.queryExecution.optimizedPlan.collectFirst {
        case t: graft.plans.TriangleEnumerate => t }.nonEmpty,
        "triangle SQL rewrite did not fire")
      df
    }),
    "wco_static_triangles" -> ((s, dir) => {
      val e = edges(s, dir)
      graft.fast.FastBatch.queryStatic(e.where(col("src") < 50), e, Planner.triangle)
    }),
    // DISTRIBUTED bulk absorb: the whole derived edge set as ONE large batch
    // through applyBatchDistributed (no driver collect/broadcast, parquet
    // WAL path, pre/post shard le-lt reads) — the backfill regime; output
    // must equal the batch triangle enumeration
    "wco_triangle_bulk" -> ((s, dir) => {
      val st = new graft.fast.FastGraphState(s, Planner.triangle, numParts = 8)
      val out = st.applyBatchDistributed(0L, edges(s, dir)).localCheckpoint()
      st.close()
      out
    }),
    // driver degree mirror OFF: the seed phase runs fully distributed with a
    // sharded degree hop through the count chain (no per-batch collect job,
    // O(1) driver state) — the form for key sets that outgrow the driver
    "wco_cycle3_sharded" -> ((s, dir) => {
      val st = new graft.fast.FastGraphState(s, Planner.cycle3,
        numParts = 8, degMirrorMaxKeys = 0)
      val out = st.applyBatch(0L, edges(s, dir)).localCheckpoint()
      st.close()
      out
    }),
    // dense open-path enumeration (~1.8M rows at sf0.01): a full
    // materialization whose stage output dwarfs any single task's buffers —
    // driver-gates the effort-bounded chunked emission end to end
    "wco_path3" -> ((s, dir) =>
      graft.fast.FastBatch.enumerate(edges(s, dir), Seq((0, 1), (1, 2)))),

    // ---- degree / consolidation (reference count op + index consolidation) ----
    "degree_table" -> ((s, dir) =>
      edges(s, dir).groupBy(col("src").as("k"))
        .agg(count(lit(1)).as("deg")).filter(col("deg") > 0)),
    // degree-ordered relabel ETL (reference static_graph layout step)
    "degree_relabel" -> ((s, dir) =>
      graft.sources.Layout.relabel(edges(s, dir))),

    // ---- event-time windows [north] over the events table ----
    "window_tumbling" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("win.start").as("win_start"), col("event_type"), col("n"))),
    "window_sliding" -> ((s, dir) =>
      graft.streaming.Windows.sliding(
        s.read.parquet(s"$dir/events.parquet").withColumn("w", lit(1L)),
        "ts", "1 hour", "15 minutes", keys = Seq("event_type"))),
    "window_session" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = s.read.parquet(s"$dir/events.parquet")
      // sessionize per user with 10-minute gap; emit per-session bounds+size
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      e.withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev_ts").cast("timestamp")) > 600000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(min("ts").as("sess_start"), max("ts").as("sess_end"),
          count(lit(1)).as("n_events"))
        .drop("sess_id")
    }),
    // the STREAMING window twins, driver-gated end to end against the same
    // oracles: complete-mode tumbling/sliding aggregation, and native
    // session_window in append mode with watermark-finalized sessions
    "window_tumbling_stream" -> windowTumblingStream _,
    "window_late_drop_stream" -> windowLateDropStream _,
    "window_sliding_stream" -> windowSlidingStream _,
    "window_session_stream" -> windowSessionStream _,

    // ---- CEP sequence detection [north: CEP engine surface] ----
    // contiguous view→click→purchase runs per user within 24h, the batch
    // form of graft.streaming.Patterns (its fMGWS streaming twin is pinned
    // equal in PatternsSpec)
    "cep_pattern_seq" -> ((s, dir) =>
      graft.streaming.Patterns.detectBatch(
        s.read.parquet(s"$dir/events.parquet")
          .select(col("user_id").as("key"), col("ts"),
            col("event_id").as("ev_id"), col("event_type").as("tag")),
        Seq("view", "click", "purchase"), maxSpanMs = 24L * 3600 * 1000)),
    // negation form: signups with no purchase within 24h (the
    // request-without-response shape; streaming twin emits on watermark
    // passing the deadline — PatternsSpec)
    "cep_absence" -> ((s, dir) =>
      graft.streaming.Patterns.detectAbsenceBatch(
        s.read.parquet(s"$dir/events.parquet")
          .select(col("user_id").as("key"), col("ts"),
            col("event_id").as("ev_id"), col("event_type").as("tag")),
        a = "signup", b = "purchase", withinMs = 24L * 3600 * 1000)),
    // the fMGWS STREAMING twins, driver-gated end to end (memory source →
    // flatMapGroupsWithState → memory sink; ms-truncated event times, see
    // cepStream) against the same lead()/min-over-window DuckDB oracles
    "cep_pattern_seq_stream" -> ((s, dir) => cepStream(s, dir, absence = false)),
    "cep_absence_stream" -> ((s, dir) => cepStream(s, dir, absence = true)),
    // the CEP sequence kernel with its flatMapGroupsWithState buffers in
    // RocksDB (custom GroupState is the state shape that grows largest per
    // key at 10^12-turn scale); non-vacuity gated like the dedup twin
    "cep_pattern_seq_rocksdb" -> ((s, dir) =>
      graft.streaming.StateBackend.withRocksDB(s)(
        cepStream(s, dir, absence = false,
          check = graft.streaming.StateBackend.requireRocksDBServed))),
    // the transformWithState kernel (arbitrary-stateful-processing v2):
    // SAME emitted rows, but per-key state decomposed into TWS column
    // families — O(1) ListState appends + O(1) MapState dedup per event
    // instead of the fMGWS full-blob rewrite (PatternsTws scaladoc); the
    // scale form of the CEP surface. Requires RocksDB (multi-column-family
    // state), which PatternsTwsSpec pins as a hard failure otherwise.
    "cep_pattern_seq_tws" -> ((s, dir) =>
      graft.streaming.StateBackend.withRocksDB(s)(
        cepStream(s, dir, absence = false,
          check = graft.streaming.StateBackend.requireRocksDBServed,
          tws = true))),
    // absence twin on the same TWS scaffolding (shared absencesIn kernel)
    "cep_absence_tws" -> ((s, dir) =>
      graft.streaming.StateBackend.withRocksDB(s)(
        cepStream(s, dir, absence = true,
          check = graft.streaming.StateBackend.requireRocksDBServed,
          tws = true))),
    // live-state migration fMGWS → TWS mid-stream, union gated against the
    // SAME oracle (exactly-once hand-over, zero history reprocessing)
    "cep_migrate_tws" -> ((s, dir) => cepMigrateTws(s, dir)),
    // the migration path as the STATE-REPARTITION escape hatch: gen 2
    // boots the exported state at 12 shuffle partitions where gen 1's
    // checkpoint sat at the session default — verified against the new
    // checkpoint's state-metadata, same output oracle. Spark refuses
    // this on a restart of the same checkpoint; export/boot is how a
    // deployment outgrows its original state layout without replaying
    // history.
    "cep_migrate_repartition" -> ((s, dir) =>
      cepMigrateTws(s, dir, gen2Partitions = Some(12))),

    // ---- NATIVE Structured Streaming stream-stream interval join: every
    // click joined to the same user's error events in the preceding 24 h —
    // two watermarked memory sources through Spark's own streaming join
    // operator (state retention derived from the time-range condition), in
    // append mode, against a plain inequality-join oracle. The 25 h
    // watermark delay keeps boundary-tied state alive across the chunked
    // replay without changing any emitted row (inner joins emit on
    // arrival; the watermark only bounds state cleanup).
    "stream_stream_join" -> ((s, dir) => streamStreamJoinInner(s, dir)),
    // the native streaming interval join with its symmetric per-side state
    // buffers in RocksDB — the third distinct state-store shape (join state
    // with watermark-derived retention), non-vacuity gated
    "stream_stream_join_rocksdb" -> ((s, dir) =>
      graft.streaming.StateBackend.withRocksDB(s)(
        streamStreamJoinInner(s, dir,
          graft.streaming.StateBackend.requireRocksDBServed))),
    // LEFT OUTER form of the same interval join: clicks with NO error in
    // their preceding 24 h must still emit, null-extended — the row Spark
    // can only produce once the error-side watermark proves no match can
    // arrive. Matched rows emit on arrival (same as inner); the unmatched
    // remainder is flushed by two far-future sentinel batches (watermark
    // rises after batch k, batch k+1 evicts), so the sink equals a batch
    // LEFT JOIN exactly. Sentinel rows themselves sit above the final
    // watermark forever and are never emitted; they are filtered anyway.
    "stream_stream_join_outer" -> ((s, dir) => {
      import s.implicits._
      val all = wEvents(s, dir)
      val clicks = all.filter(_.event_type == "click").toIndexedSeq
      val errs = all.filter(_.event_type == "error").toIndexedSeq
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val srcC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
      val srcE = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEv]
      val c = srcC.toDS().withWatermark("ts", "25 hours")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val e = srcE.toDS().withWatermark("ts", "25 hours")
        .select(col("user_id").as("e_uid"), col("ts").as("e_ts"),
          col("event_id").as("err_id"))
      val joined = c.join(e, col("c_uid") === col("e_uid") &&
        col("e_ts") >= col("c_ts") - expr("INTERVAL 24 HOURS") &&
        col("e_ts") <= col("c_ts"), "left_outer")
      // flush horizon: watermark must pass max(c_ts) + 24 h + the 25 h
      // delay before the last unmatched click can emit
      val farMs = all.map(_.ts.getTime).max + 60L * 86400000L
      def sentinel(off: Long) =
        WEv(-1L, new java.sql.Timestamp(farMs + off), -1L, "sentinel")
      streamReplay2(s, srcC, srcE, joined, clicks, errs, "graft_ssjo",
          sentinels = Seq((sentinel(0L), sentinel(0L)),
            (sentinel(1000L), sentinel(1000L))))
        .where(col("click_id") =!= -1L)
        .select(col("click_id"), col("err_id"), col("c_uid").as("user_id"),
          unix_micros(col("c_ts")).as("click_ts_us"),
          unix_micros(col("e_ts")).as("err_ts_us"))
    }),

    // ---- turn-ordering adjacency derivation (SURVEY.md §1.4) ----
    "adjacency_lag" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      e.withColumn("next_type", lead("event_type", 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src_type"), col("next_type").as("dst_type"))
        .agg(count(lit(1)).as("n"))
    }),
    // streaming twin: the same transition counts derived by the
    // flatMapGroupsWithState retraction kernel with a held-back late-turn
    // cohort (turnIdx % 5 == 2) whose bridging edges must retract cleanly
    "adjacency_lag_stream" -> adjacencyLagStream _,

    // ---- chat→document rendering (the north rule's per-turn-text-equality
    // invariant as a gate): each conversation flattened to ONE training doc
    // with pieces concatenated under stable (conv_id, turn_idx) order — a
    // reordered, dropped or duplicated turn anywhere breaks the doc hash
    "transcript_render" -> ((s, dir) =>
      graft.transcripts.TranscriptDocs.render(eventTranscripts(s, dir))),
    // per-conversation role-alternation validation (lag window partitioned
    // by conv_id — no single-partition funnel)
    "transcript_roles" -> ((s, dir) =>
      graft.transcripts.TranscriptDocs.roleStats(eventTranscripts(s, dir))),
    // ---- SFT training-pair extraction (the transcripts→training-examples
    // step of an LLM data pipeline): every 'purchase' turn becomes a
    // (prompt, completion) example whose prompt is the last ≤4 prior turns
    // rendered "role:text" under stable (conv_id, turn_idx) order — the
    // north rule's per-turn text equality as the example boundary. Four
    // lag() columns over ONE per-conv sort keep it row-local (bounded
    // context, no per-turn prefix re-aggregation, no O(turns²) string
    // growth); partitioned by conv_id, so no global funnel at 10^12 turns.
    "sft_pairs" -> ((s, dir) =>
      graft.transcripts.TranscriptDocs.sftPairs(
        eventTranscripts(s, dir), targetRole = "purchase", ctxTurns = 4)),
    // streaming twin: pair extraction AT INGEST via the incremental
    // flatMapGroupsWithState kernel — pairs emit as the watermark seals
    // each conversation's prefix and the per-key state keeps only the last
    // ≤4 sealed turns + the open suffix (bounded by the watermark delay,
    // not conversation length). Held-back late cohort (turnIdx % 5 == 2)
    // exercises the reorder path; same DuckDB oracle as the batch form.
    "sft_pairs_stream" -> (sftPairsStream(_, _)),
    // same kernel on the RocksDB state backend (changelog checkpointing
    // on; the progress gate FAILS if RocksDB did not actually serve the
    // state) — the newest stateful kernel stays backend-portable
    "sft_pairs_rocksdb" -> ((s, dir) =>
      graft.streaming.StateBackend.withRocksDB(s)(
        sftPairsStream(s, dir,
          graft.streaming.StateBackend.requireRocksDBServed))),
    // same kernel on transformWithState (stateful v2): pend ListState gets
    // O(1) appends per turn and the carried context is its own tiny
    // column family — the checkpoint-bytes-scalable form (RocksDB-only)
    "sft_pairs_tws" -> ((s, dir) =>
      graft.streaming.StateBackend.withRocksDB(s)(
        sftPairsStream(s, dir,
          graft.streaming.StateBackend.requireRocksDBServed, tws = true))),
    // ---- composed SFT curation (the pair-level mini-pipeline, mirroring
    // pipeline_curate's composition proof on the pretraining side):
    // extract → context-sufficiency filter (≥2 context turns — prompts
    // with a single turn of history are dropped) → ANSWER-level exact
    // dedup (keep the lexicographically-first pair per completion; the
    // anti-mode-collapse answer dedup an SFT set runs so one popular
    // answer can't dominate). Each stage non-vacuous at sf0.01
    // (1952 → context-filtered → ~100 kept); one oracle replays all three.
    "sft_curate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = graft.transcripts.TranscriptDocs.sftPairs(
        eventTranscripts(s, dir), targetRole = "purchase", ctxTurns = 4)
      val ctx = pairs.where(col("prompt").contains("\n"))
      val w = Window.partitionBy("completion")
        .orderBy(col("conv_id").asc, col("turn_idx").asc)
      ctx.withColumn("_r", row_number().over(w))
        .where(col("_r") === 1).drop("_r")
    }),
    // ---- preference-pair extraction (RLHF/DPO data prep from logged
    // feedback): per conversation, the 'purchase' turns rank by the logged
    // reward (events.value) and the best/worst become one (chosen,
    // rejected) pair with deterministic tie-breaks; convs with <2 targets
    // emit nothing (150 pairs at sf0.01, incl. one real reward tie).
    // Rewards pass through raw — zero float arithmetic, exact hash.
    "preference_pairs" -> ((s, dir) =>
      graft.transcripts.TranscriptDocs.preferencePairs(
        eventTranscripts(s, dir, extra = Seq("value")), "purchase", "value")),
    // ---- loss-masked packing of the SFT examples (the dataloader step
    // after pair extraction): examples concatenated in ex_id order into
    // 64-token windows; each (example, pack) segment reports its LOSS
    // token count (completion positions only — prompt positions are
    // masked). Integer-exact; Σ loss_tokens per example = its completion
    // token count, so the mask round-trips.
    "sft_pack_masked" -> ((s, dir) => {
      val pairs = graft.transcripts.TranscriptDocs.sftPairs(
          eventTranscripts(s, dir), targetRole = "purchase", ctxTurns = 4)
        // ex_id = conv_id*1000 + turn_idx collides once a conversation
        // reaches 1000 turns (driver fixtures top out far below); the
        // DuckDB oracle shares the formula, so widening the multiplier
        // would break the frozen gate — documented, not changed
        .withColumn("ex_id",
          col("conv_id").cast("long") * 1000L + col("turn_idx"))
      graft.ops.Packing.packMasked(pairs, "ex_id", "prompt", "completion",
        budget = 64)
    }),
    // ---- explicit skew handling as oracle-gated entries [north: salting
    // for hot keys; previously only spec-pinned in OpsSpec] ----
    // role has ~5 distinct values over EVERY turn in the corpus — the
    // worst-case group-by skew shape (at 10^12 turns a plain groupBy(role)
    // funnels ~2*10^11 rows through one reducer). saltedSum fans each hot
    // key over numSalts deterministic sub-keys (salt = hash(conv_id)),
    // partial-aggregates on (role, salt), then finalizes on role — result
    // identical to the plain aggregate (the oracle), no reducer ever owns
    // a full hot key.
    "skew_salted_agg" -> ((s, dir) =>
      graft.ops.Skew.saltedSum(
        eventTranscripts(s, dir).select(col("role"), col("conv_id"),
          length(col("text")).cast("long").as("n_chars")),
        Seq("role"), "n_chars", numSalts = 8, saltSource = col("conv_id"))),
    // salted fact⋈dim equi-join: the skewed fact side (lineitem keyed by
    // suppkey — few suppliers at small SF, hot at any SF) gets a
    // deterministic salt from l_orderkey, the small dim side is replicated
    // to every salt, and the join key widens to (suppkey, salt): same rows
    // as the plain join (the oracle aggregates them), but a hot supplier's
    // rows spread over 8 reducers instead of one. This is the manual form
    // of what AQE skew-join does at runtime — needed when the skew is in a
    // stateful/streaming join AQE cannot rewrite.
    "skew_salted_join" -> ((s, dir) => {
      val fact = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
          col("l_quantity").cast("long").as("qty"))
      val dim = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.ops.Skew.saltedJoin(fact, dim, Seq("suppkey"),
          numSalts = 8, saltSource = col("l_orderkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty"))
    }),
    // per-conversation response-latency aggregates: exact integer micros
    // over consecutive-turn gaps — all-integer (n/min/max/sum), so the
    // O(1)-state streaming twin below reproduces them hash-exactly
    "turn_latency" -> ((s, dir) =>
      graft.transcripts.TranscriptDocs.latencyStats(eventTranscripts(s, dir))),
    // STREAMING twin with O(1) per-conversation state (six longs — the
    // mergeable aggregate, not the buffered conversation): turns delivered
    // in global ts order (= per-conv turn order, the keyed-log contract
    // LatencyStream documents), finalized by event-time timeout
    "turn_latency_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.LatencyStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val turns = eventTranscripts(s, dir)
        .select(col("conv_id").as("convId"), col("turn_idx").as("turnIdx"),
          col("ts").cast("timestamp").as("ts"))
        .as[LatencyStream.Turn].collect()
        .sortBy(t => (t.ts.getTime, t.convId, t.turnIdx))
      if (turns.isEmpty) s.emptyDataset[LatencyStream.LatRow].toDF()
      else {
        val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[LatencyStream.Turn]
        val out = LatencyStream.latencyStream(
          src.toDS().withWatermark("ts", "90 days")).toDF()
        val farMs = turns.map(_.ts.getTime).max + 90L * 86400000L + 7200000L
        def sentinel(off: Long) = LatencyStream.Turn("~s", 1,
          new java.sql.Timestamp(farMs + off))
        streamReplay(s, src, out, turns.toIndexedSeq,
            Seq(sentinel(0L), sentinel(1000L)), "append", "graft_latency_stream")
          .where(col("conv_id") =!= "~s")
      }
    }),
    // STREAMING twin of transcript_render: conversations assembled in
    // flatMapGroupsWithState and finalized by event-time timeout, with a
    // held-back late cohort (turn_idx % 5 == 2 delivered in the final
    // chunk, after its successors) that must still land in turn order —
    // same oracle as the batch render
    "transcript_render_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.RenderStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val turns = eventTranscripts(s, dir)
        .select(col("conv_id").as("convId"), col("turn_idx").as("turnIdx"),
          concat_ws(":", coalesce(col("role"), lit("")),
            coalesce(col("text"), lit(""))).as("piece"),
          col("ts").cast("timestamp").as("ts"))
        .as[RenderStream.Turn].collect()
        .sortBy(t => (t.ts.getTime, t.convId, t.turnIdx))
      if (turns.isEmpty) s.emptyDataset[RenderStream.RDoc].toDF()
      else {
        val (late, onTime) = turns.partition(_.turnIdx % 5 == 2)
        val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RenderStream.Turn]
        val out = RenderStream.renderStream(
          src.toDS().withWatermark("ts", "90 days")).toDF()
        val farMs = turns.map(_.ts.getTime).max + 90L * 86400000L + 7200000L
        def sentinel(off: Long) = RenderStream.Turn("~s", 1, "",
          new java.sql.Timestamp(farMs + off))
        streamReplay(s, src, out, (onTime ++ late).toIndexedSeq,
            Seq(sentinel(0L), sentinel(1000L)), "append", "graft_render_stream")
          .where(col("conv_id") =!= "~s")
      }
    }),

    // ---- STREAMING exact turn dedup: Spark's dropDuplicatesWithinWatermark
    // driven end to end with PLANTED duplicate deliveries — every
    // event_id % 7 == 3 row arrives twice in the same micro-batch and every
    // event_id % 11 == 5 row is re-delivered in a final late batch after
    // everything else; the appended sink must still equal the batch
    // distinct. The watermark delay (90d > the 30d data span) is what
    // BOUNDS the dedup state at scale — state for keys older than the
    // watermark is dropped, which is exactly the at-least-once→exactly-once
    // window a 10^12-turn redelivery source actually needs
    "dedup_turns_stream" -> ((s, dir) => dedupTurnsStream(s, dir)),
    // the SAME dedup stream with its watermark state served by RocksDB —
    // the disk-backed backend the 10^12-turn state volume actually needs
    // (see graft.streaming.StateBackend); the entry require()s RocksDB
    // custom metrics in the query progress, so a silently-ignored conf
    // fails the run instead of re-gating the default provider
    "dedup_turns_stream_rocksdb" -> ((s, dir) =>
      graft.streaming.StateBackend.withRocksDB(s)(
        dedupTurnsStream(s, dir,
          graft.streaming.StateBackend.requireRocksDBServed))),
    // offline state audit: the dedup operator's checkpointed key set read
    // back through the statestore data source must equal the distinct ids
    "state_inspect_dedup" -> stateInspectDedup _,

    // ---- as-of join (temporal): for every click, the latest view at or
    // before it per user — ONE keyed sort + running last(ignoreNulls), no
    // join node, no per-key cross product (graft.ops.AsofJoin)
    "asof_join" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = e.where(col("event_type") === "view")
        .select("event_id", "user_id", "ts", "value")
      graft.ops.AsofJoin.backward(clicks, views, key = "user_id", ts = "ts",
          tieBreak = "event_id", payload = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("asof_event_id").as("view_id"), col("asof_value").as("view_value"))
    }),

    // ---- streaming as-of twin: the same enrichment through
    // flatMapGroupsWithState (O(1) latest-right summary per key, lefts
    // emitted as the watermark finalizes them), ms-floored like the other
    // stream twins, gated against the ms-floored replay of the SAME oracle
    "asof_join_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.AsofStream
      val us = unix_micros(col("ts").cast("timestamp"))
      val evs = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_type").isin("click", "view"))
        .select(col("user_id").as("key"),
          timestamp_micros(us - pmod(us, lit(1000L))).as("ts"),
          when(col("event_type") === "click", 1).otherwise(0).as("side"),
          col("event_id").as("tie"),
          coalesce(when(col("event_type") === "view", col("event_id")), lit(0L)).as("pId"),
          coalesce(when(col("event_type") === "view", col("value")), lit(0.0)).as("pVal"))
        .as[AsofStream.AsofEv].collect()
        .sortBy(ev => (ev.ts.getTime, ev.side, ev.tie))
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsofStream.AsofEv]
      val in = src.toDS().withWatermark("ts", "1 millisecond")
      val out = AsofStream.asofStream(in).toDF()
      val far = if (evs.isEmpty) 3600000L else evs.last.ts.getTime + 3600000L
      val t = streamReplay(s, src, out, evs.toIndexedSeq,
          Seq(AsofStream.AsofEv(-1L, new java.sql.Timestamp(far), 1, -1L, 0L, 0.0),
            AsofStream.AsofEv(-1L, new java.sql.Timestamp(far + 1000L), 1, -2L, 0L, 0.0)),
          "append", "graft_asof_stream")
        .where(col("key") =!= -1L)
      t.select(col("leftId").as("event_id"), col("key").as("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("viewId").as("view_id"), col("viewValue").as("view_value"))
    }),

    // ---- range (interval-containment) join with NO equi-key: clicks ×
    // 10-minute incident windows opened by every error event. Spark's own
    // plan for the inequality join is a nested loop; the binned form
    // shuffles on the time bin and meets every pair exactly once
    // (graft.ops.RangeJoin)
    "range_join_bins" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      val points = e.where(col("event_type") === "click")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("pt_us"))
      val intervals = e.where(col("event_type") === "error")
        .select(col("event_id").as("interval_id"),
          unix_micros(col("ts").cast("timestamp")).as("start_us"),
          (unix_micros(col("ts").cast("timestamp")) + 600000000L).as("end_us"))
      graft.ops.RangeJoin.pointInInterval(points, "pt_us",
          intervals, "start_us", "end_us", binWidth = 600000000L)
        .select("event_id", "interval_id", "pt_us", "start_us")
    }),

    // ---- iterative graph analytics on the same derived graph the motif
    // queries run on: fixed-point integer PageRank (d = 17/20, per-edge
    // floor at the source, damped floor at the sink — exact and
    // order-independent, so the oracle replays every division) and bounded
    // multi-source BFS (hop distances from the n % 97 == 0 seed set)
    "graph_pagerank" -> ((s, dir) =>
      graft.ops.PageRank.run(edges(s, dir), "src", "dst", iters = 5)),
    "graph_bfs" -> ((s, dir) => {
      val e = edges(s, dir)
      val seeds = e.select(col("src").as("n"))
        .unionByName(e.select(col("dst").as("n")))
        .distinct().where(col("n") % 97 === 0)
      graft.ops.Bfs.distances(e, "src", "dst", seeds, maxHops = 4)
    }),
    // fixed-round k-core peel (k=46 drives a 7-round cascade to a
    // non-empty, non-total core at sf0.01 — both engines run exactly 8
    // rounds, so the gate holds whether or not the peel has converged)
    "graph_kcore" -> ((s, dir) =>
      graft.ops.KCore.run(edges(s, dir), "src", "dst", k = 46, rounds = 8)),
    // fixed-round synchronous label propagation (deterministic ties):
    // the cheap community pass; 4 rounds on the derived graph — both
    // engines run exactly 4, so the gate holds whether or not LPA has
    // converged (sync LPA may oscillate; see LabelProp scaladoc)
    "graph_lpa" -> ((s, dir) =>
      graft.ops.LabelProp.run(edges(s, dir), "src", "dst", rounds = 4)),
    // exact-integer modularity audit of that labeling: per community,
    // (n_nodes, intra_edges, degree_sum, q_num) with Q = Σ q_num/(2m)² —
    // no float ever computed, the community-quality gate
    "graph_modularity" -> ((s, dir) =>
      graft.ops.LabelProp.modularityOf(edges(s, dir), "src", "dst", rounds = 4)),
    // INCREMENTAL connected components: the edge stream arrives in four
    // deterministic chunks and each chunk folds into the (node, component)
    // labeling via ConnectedComponents.absorb — state is the star forest
    // (|V| rows), never the edge history. Gated against the one-shot
    // recursive-CTE labeling of the FULL edge set: incremental must equal
    // batch. Runs on a 10%-sparsified graph (6 components at sf0.01 — a
    // single giant component would make the min-label recursion quadratic
    // in the oracle).
    "cc_incremental" -> ((s, dir) => {
      val e = edges(s, dir)
        .where((col("src") * 31 + col("dst")) % 10 === 0)
      var labels = graft.ops.ConnectedComponents.run(
        e.where(pmod(col("src") + col("dst"), lit(4L)) === 0), "src", "dst")
      for (chunk <- 1L to 3L)
        labels = graft.ops.ConnectedComponents.absorb(labels,
          e.where(pmod(col("src") + col("dst"), lit(4L)) === chunk),
          "src", "dst")
      labels
    }),
    // STREAMING twin of cc_incremental: the same sparsified edges arrive
    // through a memory SOURCE in four micro-batches and a foreachBatch
    // sink folds each into the star-forest labeling — the actual
    // maintenance loop a streaming near-dup clusterer runs (per-batch
    // exactly-once fold over |V| rows of state, localCheckpoint'ed so
    // lineage stays O(1) in the batch count). Same oracle: the chunking is
    // different from the batch entry's pmod split, proving the labeling is
    // confluent — independent of how history was batched.
    "cc_incremental_stream" -> ccIncrementalStream _,
    // per-node triangle counts + local clustering coefficient (integer
    // thousandths — no float hash risk); degree-oriented wedge generation
    // bounds per-node work at O(sqrt m) under hub skew
    "graph_clustering" -> ((s, dir) =>
      graft.ops.ClusteringCoeff.run(edges(s, dir), "src", "dst")),

    // personalized PageRank: teleport mass restricted to the n%97==0 seed
    // set (same seeds as graph_bfs) — relevance-to-a-query-set ranking
    "graph_ppr" -> ((s, dir) => {
      val e = edges(s, dir)
      val seeds = e.select(col("src").as("n"))
        .unionByName(e.select(col("dst").as("n")))
        .distinct().where(col("n") % 97 === 0)
      graft.ops.PageRank.personalized(e, "src", "dst", seeds, iters = 5)
    }),
    // z-order (Morton) layout key: ONE expression string evaluated by both
    // engines; sorting a 100 TB table by this key gives parquet min/max
    // pruning in BOTH src and dst ranges (graft.sources.Layout.zOrderSql)
    "layout_zorder" -> ((s, dir) =>
      edges(s, dir).select(col("src"), col("dst"),
        expr(graft.sources.Layout.zOrderSql("src", "dst", bits = 11)).as("zkey"))),

    // ---- ordered funnel (view → click-after-view → purchase-after-click,
    // first occurrences, strict ts ordering): each step is one keyed
    // min-aggregation joined to the previous step's cohort — the classic
    // product-analytics query, three shuffles total, no windows needed
    "funnel_steps" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_type"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vts"))
      val c = e.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") > col("vts"))
        .groupBy("user_id").agg(min("ts").as("cts"))
      val p = e.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts") > col("cts"))
        .groupBy("user_id").agg(min("ts").as("pts"))
      v.agg(count(lit(1)).as("viewed"))
        .crossJoin(c.agg(count(lit(1)).as("clicked")))
        .crossJoin(p.agg(count(lit(1)).as("purchased")))
    }),
    // STREAMING twin: per-user O(steps) state machine (one timestamp per
    // attained stage) under ts-ordered delivery — the one-pass form of the
    // batch min-chain, finalized by event-time timeout. Gated PER USER on
    // final depth, over a deterministically THINNED feed (user%3==0 loses
    // purchases, user%5==0 loses clicks — at this SF every user otherwise
    // completes the funnel and a depth gate would be vacuous); the oracle
    // replays the same thinning
    "funnel_steps_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.FunnelStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val steps = Seq("view", "click", "purchase")
      val evs = wEvents(s, dir).filter(e => steps.contains(e.event_type))
        .filterNot(e => e.event_type == "purchase" && e.user_id % 3 == 0)
        .filterNot(e => e.event_type == "click" && e.user_id % 5 == 0)
        .map(e => FunnelStream.Ev(e.user_id, e.ts, e.event_type)).toIndexedSeq
      if (evs.isEmpty) s.emptyDataset[FunnelStream.FunnelRow].toDF()
      else {
        val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FunnelStream.Ev]
        val out = FunnelStream.funnelStream(
          src.toDS().withWatermark("ts", "90 days"), steps).toDF()
        val farMs = evs.map(_.ts.getTime).max + 90L * 86400000L + 7200000L
        def sentinel(off: Long) = FunnelStream.Ev(-1L,
          new java.sql.Timestamp(farMs + off), "view")
        streamReplay(s, src, out, evs,
            Seq(sentinel(0L), sentinel(1000L)), "append", "graft_funnel_stream")
          .where(col("user_id") =!= -1L)
          .select(col("user_id"), col("depth"))
      }
    }),

    // ---- anti-join coverage (the "never did X" cohort query): clickers
    // with no high-value purchase — Spark's left_anti operator vs a
    // NOT EXISTS oracle; at scale this is one keyed shuffle (or a
    // broadcast anti when the excluded side is small)
    "anti_join_users" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      val clickers = e.where(col("event_type") === "click")
        .select("user_id").distinct()
      val bigSpenders = e.where(col("event_type") === "purchase" &&
        col("value") > 150.0).select("user_id")
      clickers.join(bigSpenders, Seq("user_id"), "left_anti")
    }),

    // ---- classic aggregation (sanity + partial-agg coverage) ----
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))),

    // ---- training-data ops: exact dedup + token counting ----
    "dedup_exact" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("text")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dups"))
        .select("doc_id", "dups")),
    "token_count" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))).cast("long").as("n_tokens"))),
    // BPE-ish token count: GPT-2-flavored pre-tokenizer regex (contraction
    // suffixes / letter runs / digit runs / punctuation runs), the subword
    // complement of the whitespace count; Java regex and DuckDB's RE2
    // agree because the pattern is lookahead-free. The synthetic corpus is
    // pure letter-words (BPE == whitespace on it — a vacuous gate), so a
    // deterministic suffix plants a contraction, a digit run and
    // punctuation per doc: every alternation branch fires and the counts
    // provably diverge from the whitespace entry's.
    "token_count_bpe" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.text.TextOps.tokenCountBpe(
            // coalesce BEFORE concat on BOTH engines: a NULL text would
            // otherwise nullify the whole concat here while the oracle
            // propagates NULL — same input must give the same count
            concat(coalesce(col("text"), lit("")), lit(" it's 2026, v"),
              col("doc_id").cast("string"), lit("!"))).as("n_tokens")))
  )

  /** Shared by the batch and streaming window entries (same semantics,
    * different execution path — the whole point of the twin gates). */
  // Spark's window(ts, 1h, 15m) assigns each event to the 4 slide-aligned
  // windows covering it; mirror via j = 0..3 offsets from the 15-min floor
  private val windowSlidingOracle: String =
    "SELECT time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * j) AS win_start, " +
      "time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * j) + to_minutes(60) AS win_end, " +
      "event_type, count(*) AS net, count(*) AS \"rows\" " +
      "FROM events, generate_series(0, 3) g(j) GROUP BY 1, 2, 3"
  private val windowTumblingOracle: String =
    "SELECT date_trunc('hour', ts) AS win_start, event_type, " +
      "count(*) AS n FROM events GROUP BY 1, 2"
  private val windowSessionOracle: String =
    "WITH marked AS (SELECT user_id, event_id, ts, " +
      "CASE WHEN lag(ts) OVER w IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000 " +
      "THEN 1 ELSE 0 END AS new_sess FROM events WINDOW w AS " +
      "(PARTITION BY user_id ORDER BY ts, event_id)), " +
      "sess AS (SELECT user_id, ts, sum(new_sess) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id FROM marked) " +
      "SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end, " +
      "count(*) AS n_events FROM sess GROUP BY user_id, sess_id"

  /** Staged K5 oracle (triangles → K4 via triangle pairs → K5 via K4 pairs):
    * the naive 10-way self-join takes DuckDB >60 s at sf0.01; this runs in
    * ~2 s and provably enumerates the same orientation (all a<b edges). */
  private def clique5Oracle(sel: String): String =
    s"${edgesCteM(K5)}, " +
      "tri AS MATERIALIZED (SELECT e0.src AS a, e0.dst AS b, e1.dst AS c " +
      "FROM edges e0 JOIN edges e1 ON e1.src = e0.src " +
      "JOIN edges e2 ON e2.src = e0.dst AND e2.dst = e1.dst), " +
      "k4 AS MATERIALIZED (SELECT t1.a, t1.b, t1.c, t2.c AS d " +
      "FROM tri t1 JOIN tri t2 ON t1.a = t2.a AND t1.b = t2.b " +
      "JOIN edges z ON z.src = t1.c AND z.dst = t2.c), " +
      "k5 AS (SELECT k1.a AS x0, k1.b AS x1, k1.c AS x2, k1.d AS x3, k2.d AS x4 " +
      "FROM k4 k1 JOIN k4 k2 ON k1.a = k2.a AND k1.b = k2.b AND k1.c = k2.c " +
      "JOIN edges s ON s.src = k1.d AND s.dst = k2.d) " +
      s"SELECT $sel FROM k5"

  /** Staged 6-clique oracle (tri → K4 → K5 → K6 via shared-prefix pairs),
    * same construction one level deeper than [[clique5Oracle]]. */
  private def clique6Oracle(sel: String): String =
    s"${edgesCteM(K6)}, " +
      "tri AS MATERIALIZED (SELECT e0.src AS a, e0.dst AS b, e1.dst AS c " +
      "FROM edges e0 JOIN edges e1 ON e1.src = e0.src " +
      "JOIN edges e2 ON e2.src = e0.dst AND e2.dst = e1.dst), " +
      "k4 AS MATERIALIZED (SELECT t1.a, t1.b, t1.c, t2.c AS d " +
      "FROM tri t1 JOIN tri t2 ON t1.a = t2.a AND t1.b = t2.b " +
      "JOIN edges z ON z.src = t1.c AND z.dst = t2.c), " +
      "k5 AS MATERIALIZED (SELECT k1.a, k1.b, k1.c, k1.d, k2.d AS e " +
      "FROM k4 k1 JOIN k4 k2 ON k1.a = k2.a AND k1.b = k2.b AND k1.c = k2.c " +
      "JOIN edges s ON s.src = k1.d AND s.dst = k2.d), " +
      "k6 AS (SELECT k1.a, k1.b, k1.c, k1.d, k1.e, k2.e AS f " +
      "FROM k5 k1 JOIN k5 k2 ON k1.a = k2.a AND k1.b = k2.b AND k1.c = k2.c AND k1.d = k2.d " +
      "JOIN edges s ON s.src = k1.e AND s.dst = k2.e) " +
      s"SELECT $sel FROM k6"

  /** Consecutive-pair transition counts over (user, ts, event_id) ordering —
    * shared by the batch lag form and the streaming retraction kernel. */
  private lazy val adjacencyLagOracle: String =
    "WITH nxt AS (SELECT event_type, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events) " +
      "SELECT event_type AS src_type, next_type AS dst_type, count(*) AS n " +
      "FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2"

  /** One-shot min-label recursive-CTE labeling of the sparsified edge set —
    * shared by the batch and streaming incremental-CC entries (both must
    * converge to the labeling of the FULL history however it was batched). */
  private lazy val ccOracle: String =
    "WITH RECURSIVE " + edgesCte.stripPrefix("WITH ") +
      ", se AS (SELECT src, dst FROM edges WHERE (src * 31 + dst) % 10 = 0)" +
      ", e2 AS (SELECT src AS u, dst AS v FROM se UNION SELECT dst, src FROM se)" +
      ", nodes AS (SELECT DISTINCT u AS n FROM e2)" +
      ", lab(n, l) AS (SELECT n, n FROM nodes " +
      "UNION SELECT e2.v, lab.l FROM lab JOIN e2 ON e2.u = lab.n WHERE lab.l < e2.v) " +
      "SELECT n AS node, min(l) AS component FROM lab GROUP BY n"

  def oracleSql: Map[String, String] = {
    val m = TrainingQueries.oracleSql ++ Map(
    "wco_triangle" -> motifOracle(Planner.triangle),
    "wco_triangle_plan" -> motifOracle(Planner.triangle),
    "wco_triangle_sql" ->
      (edgesCte + " SELECT e0.src AS x0, e0.dst AS x1, e1.dst AS x2 " +
        "FROM edges e0 JOIN edges e1 ON e1.src = e0.src " +
        "JOIN edges e2 ON e2.src = e0.dst AND e2.dst = e1.dst"),
    "graph_pagerank" -> (edgesCte + graft.ops.PageRank.oracleCtes(iters = 5)),
    "graph_kcore" -> (edgesCte + graft.ops.KCore.oracleCtes(k = 46, rounds = 8)),
    "graph_lpa" -> (edgesCte + graft.ops.LabelProp.oracleCtes(rounds = 4)),
    "graph_modularity" ->
      (edgesCte + graft.ops.LabelProp.modularityOracleCtes(rounds = 4)),
    "cc_incremental" -> ccOracle,
    "cc_incremental_stream" -> ccOracle,
    "graph_clustering" -> (edgesCte + graft.ops.ClusteringCoeff.oracleCtes),
    "graph_ppr" ->
      (edgesCte + ", seeds AS (SELECT n AS s FROM " +
        "(SELECT src AS n FROM edges UNION SELECT dst FROM edges) WHERE n % 97 = 0)" +
        graft.ops.PageRank.personalizedOracleCtes(iters = 5)),
    "layout_zorder" ->
      (edgesCte + " SELECT src, dst, CAST(" +
        graft.sources.Layout.zOrderSql("src", "dst", bits = 11) +
        " AS BIGINT) AS zkey FROM edges"),
    "graph_bfs" ->
      ("WITH RECURSIVE " + edgesCte.stripPrefix("WITH ") +
        ", nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges)" +
        ", seeds AS (SELECT n AS s FROM nodes WHERE n % 97 = 0)" +
        graft.ops.Bfs.oracleCtes(maxHops = 4)),
    "wco_cycle3" -> motifOracle(Planner.cycle3),
    "wco_clique4" -> motifOracle(Planner.clique4),
    "wco_triangle_count" ->
      (s"$edgesCte SELECT count(*) AS n, CAST(count(*) AS BIGINT) AS total FROM " +
        "(SELECT e0.src FROM edges e0, edges e1, edges e2 " +
        "WHERE e1.src = e0.src AND e2.src = e0.dst AND e2.dst = e1.dst)"),
    "wco_clique5" ->
      clique5Oracle("x0, x1, x2, x3, x4, CAST(1 AS BIGINT) AS w"),
    "wco_clique5_factorized_count" ->
      clique5Oracle("CAST(count(*) AS BIGINT) AS total"),
    "wco_clique_hat" -> motifOracle(Planner.cliqueHat),
    "wco_clique4_ordered" -> motifOracle(Planner.clique4,
      extraWhere = Seq("x0 < x1", "x1 < x2", "x2 < x3")),
    "wco_clique_hat_filtered" -> motifOracle(Planner.cliqueHat,
      extraWhere = Seq("x1 <> x4", "x2 < x4")),
    "wco_cycle4_count" ->
      (s"$edgesCte SELECT count(*) AS n, CAST(count(*) AS BIGINT) AS total FROM " +
        "(SELECT e0.src FROM edges e0, edges e1, edges e2, edges e3 " +
        "WHERE e1.src = e0.dst AND e2.src = e1.dst AND e3.src = e2.dst AND e3.dst = e0.src)"),
    // diamond (0,1),(0,2),(1,2),(1,3),(2,3): x0=e0.src x1=e0.dst x2=e1.dst x3=e3.dst
    "wco_diamond_count" ->
      (s"$edgesCte SELECT count(*) AS n, CAST(count(*) AS BIGINT) AS total FROM " +
        "(SELECT e0.src FROM edges e0, edges e1, edges e2, edges e3, edges e4 " +
        "WHERE e1.src = e0.src AND e2.src = e0.dst AND e2.dst = e1.dst " +
        "AND e3.src = e0.dst AND e4.src = e1.dst AND e4.dst = e3.dst)"),
    "seed_k4" -> motifOracle(Planner.clique4),
    "seed_k4_count" ->
      (edgesCte + ", tri AS MATERIALIZED (SELECT e0.src AS a, e0.dst AS b, e1.dst AS c " +
        "FROM edges e0 JOIN edges e1 ON e1.src = e0.src " +
        "JOIN edges e2 ON e2.src = e0.dst AND e2.dst = e1.dst) " +
        "SELECT CAST(count(*) AS BIGINT) AS total FROM tri t1 " +
        "JOIN tri t2 ON t1.a = t2.a AND t1.b = t2.b " +
        "JOIN edges z ON z.src = t1.c AND z.dst = t2.c"),
    "wco_clique6_count" ->
      clique6Oracle("CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS total"),
    "wco_static_triangles" ->
      (s"$edgesCte SELECT q.src AS x0, q.dst AS x1, e1.dst AS x2, " +
        "CAST(1 AS BIGINT) AS w FROM edges q " +
        "JOIN edges e1 ON e1.src = q.src " +
        "JOIN edges e2 ON e2.src = q.dst AND e2.dst = e1.dst WHERE q.src < 50"),
    "wco_triangle_bulk" -> motifOracle(Planner.triangle),
    "wco_cycle3_sharded" -> motifOracle(Planner.cycle3),
    "wco_path3" -> motifOracle(Seq((0, 1), (1, 2))),
    "degree_table" ->
      s"$edgesCte SELECT src AS k, count(*) AS deg FROM edges GROUP BY src",
    "degree_relabel" ->
      (s"$edgesCte, deg AS (SELECT node, count(*) AS deg FROM " +
        "(SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges) " +
        "GROUP BY node), " +
        "dict AS (SELECT node, row_number() OVER (ORDER BY deg DESC, node ASC) - 1 AS new_id FROM deg) " +
        "SELECT a.new_id AS src, b.new_id AS dst FROM edges e " +
        "JOIN dict a ON e.src = a.node JOIN dict b ON e.dst = b.node"),
    "window_tumbling" -> windowTumblingOracle,
    "window_tumbling_stream" -> windowTumblingOracle,
    // the on-time subset only: rows held back beyond the watermark must be
    // dropped by the streaming aggregation, exactly and deterministically
    "window_late_drop_stream" ->
      ("SELECT date_trunc('hour', ts) AS win_start, event_type, " +
        "count(*) AS n FROM events WHERE event_id % 37 <> 0 GROUP BY 1, 2"),
    "window_session_stream" -> windowSessionOracle,
    "window_sliding" -> windowSlidingOracle,
    "window_sliding_stream" -> windowSlidingOracle,
    "window_session" -> windowSessionOracle,
    // as-of replay: union both sides, right-before-left at equal ts,
    // largest-event_id right row wins a (key, ts) tie — the same total
    // order the Spark window uses; payloads carried as one struct so both
    // output columns come from the same view row
    "asof_join" ->
      ("WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'), " +
        "u AS (SELECT user_id, ts, 1 AS side, event_id AS tie, event_id, " +
        "CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS DOUBLE) AS p_val FROM l " +
        "UNION ALL SELECT user_id, ts, 0, event_id, NULL, event_id, value FROM r), " +
        "w AS (SELECT *, last_value(p_id IGNORE NULLS) OVER win AS a_id, " +
        "last_value(p_val IGNORE NULLS) OVER win AS a_val FROM u WINDOW win AS " +
        "(PARTITION BY user_id ORDER BY ts, side, tie " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, epoch_us(ts) AS ts_us, a_id AS view_id, " +
        "a_val AS view_value FROM w WHERE side = 1"),
    // streaming twin: identical as-of logic over ms-FLOORED event times
    // (the streaming kernel's resolution), same (ts, side, tie) tie order
    "asof_join_stream" ->
      ("WITH ev AS (SELECT user_id, make_timestamp(epoch_us(ts) - (epoch_us(ts) % 1000)) AS ts, " +
        "event_id, event_type, value FROM events), " +
        "l AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'), " +
        "r AS (SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'view'), " +
        "u AS (SELECT user_id, ts, 1 AS side, event_id AS tie, event_id, " +
        "CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS DOUBLE) AS p_val FROM l " +
        "UNION ALL SELECT user_id, ts, 0, event_id, NULL, event_id, value FROM r), " +
        "w AS (SELECT *, last_value(p_id IGNORE NULLS) OVER win AS a_id, " +
        "last_value(p_val IGNORE NULLS) OVER win AS a_val FROM u WINDOW win AS " +
        "(PARTITION BY user_id ORDER BY ts, side, tie " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, epoch_us(ts) AS ts_us, a_id AS view_id, " +
        "a_val AS view_value FROM w WHERE side = 1"),
    "funnel_steps" ->
      ("WITH v AS (SELECT user_id, min(ts) AS vts FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS cts FROM events e JOIN v USING (user_id) " +
        "WHERE e.event_type = 'click' AND e.ts > v.vts GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.ts) AS pts FROM events e JOIN c USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.ts > c.cts GROUP BY 1) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS viewed, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM c) AS clicked, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM p) AS purchased"),
    // the streamed state machine's per-user depth must reproduce the batch
    // min-chain over the same deterministically thinned feed
    "funnel_steps_stream" ->
      ("WITH ev AS (SELECT * FROM events WHERE " +
        "NOT (event_type = 'purchase' AND user_id % 3 = 0) " +
        "AND NOT (event_type = 'click' AND user_id % 5 = 0)), " +
        "v AS (SELECT user_id, min(ts) AS vts FROM ev WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS cts FROM ev e JOIN v USING (user_id) " +
        "WHERE e.event_type = 'click' AND e.ts > v.vts GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.ts) AS pts FROM ev e JOIN c USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.ts > c.cts GROUP BY 1) " +
        "SELECT v.user_id, CAST(1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END) " +
        "+ (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS INT) AS depth " +
        "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"),
    "anti_join_users" ->
      ("SELECT DISTINCT user_id FROM events e WHERE event_type = 'click' " +
        "AND NOT EXISTS (SELECT 1 FROM events p WHERE p.event_type = 'purchase' " +
        "AND p.value > 150.0 AND p.user_id = e.user_id)"),
    // same inequality join the streaming operator computes incrementally
    "stream_stream_join" ->
      ("WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "e AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') " +
        "SELECT c.event_id AS click_id, e.event_id AS err_id, c.user_id, " +
        "epoch_us(c.ts) AS click_ts_us, epoch_us(e.ts) AS err_ts_us " +
        "FROM c JOIN e ON c.user_id = e.user_id " +
        "AND e.ts BETWEEN c.ts - INTERVAL 24 HOUR AND c.ts"),
    "stream_stream_join_outer" ->
      ("WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "e AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') " +
        "SELECT c.event_id AS click_id, e.event_id AS err_id, c.user_id, " +
        "epoch_us(c.ts) AS click_ts_us, epoch_us(e.ts) AS err_ts_us " +
        "FROM c LEFT JOIN e ON c.user_id = e.user_id " +
        "AND e.ts BETWEEN c.ts - INTERVAL 24 HOUR AND c.ts"),
    "range_join_bins" ->
      ("WITH p AS (SELECT event_id, epoch_us(ts) AS pt_us FROM events WHERE event_type = 'click'), " +
        "i AS (SELECT event_id AS interval_id, epoch_us(ts) AS start_us, " +
        "epoch_us(ts) + 600000000 AS end_us FROM events WHERE event_type = 'error') " +
        "SELECT p.event_id, i.interval_id, p.pt_us, i.start_us FROM p " +
        "JOIN i ON p.pt_us >= i.start_us AND p.pt_us < i.end_us"),
    "cep_pattern_seq" ->
      ("WITH e AS (SELECT user_id AS key, ts, event_id AS ev_id, event_type AS tag FROM events), " +
        "led AS (SELECT key, ts, ev_id, tag, lead(tag, 1) OVER w AS tag_1, " +
        "lead(tag, 2) OVER w AS tag_2, lead(ts, 2) OVER w AS ts_2 FROM e " +
        "WINDOW w AS (PARTITION BY key ORDER BY ts, ev_id)) " +
        "SELECT key, ts AS start_ts, ts_2 AS end_ts, ev_id AS start_id FROM led " +
        "WHERE tag = 'view' AND tag_1 = 'click' AND tag_2 = 'purchase' " +
        "AND epoch_us(ts_2) - epoch_us(ts) <= CAST(86400 AS BIGINT) * 1000000"),
    "cep_absence" ->
      ("WITH e AS (SELECT user_id AS key, ts, event_id AS ev_id, event_type AS tag FROM events), " +
        "m AS (SELECT key, ts, ev_id, tag, min(CASE WHEN tag = 'purchase' THEN epoch_us(ts) END) OVER " +
        "(PARTITION BY key ORDER BY ts, ev_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_b_us FROM e) " +
        "SELECT key, ts AS start_ts, ev_id AS start_id FROM m " +
        "WHERE tag = 'signup' AND (next_b_us IS NULL OR next_b_us > epoch_us(ts) + CAST(86400 AS BIGINT) * 1000000)"),
    // streaming twins: identical logic over ms-FLOORED event times (the
    // streaming kernels' resolution); ties within a ms order by ev_id on
    // both sides, exactly as the Spark entries do
    "cep_pattern_seq_stream" ->
      ("WITH e AS (SELECT user_id AS key, make_timestamp(epoch_us(ts) - (epoch_us(ts) % 1000)) AS ts, " +
        "event_id AS ev_id, event_type AS tag FROM events), " +
        "led AS (SELECT key, ts, ev_id, tag, lead(tag, 1) OVER w AS tag_1, " +
        "lead(tag, 2) OVER w AS tag_2, lead(ts, 2) OVER w AS ts_2 FROM e " +
        "WINDOW w AS (PARTITION BY key ORDER BY ts, ev_id)) " +
        "SELECT key, ts AS start_ts, ts_2 AS end_ts, ev_id AS start_id FROM led " +
        "WHERE tag = 'view' AND tag_1 = 'click' AND tag_2 = 'purchase' " +
        "AND epoch_us(ts_2) - epoch_us(ts) <= CAST(86400 AS BIGINT) * 1000000"),
    "cep_absence_stream" ->
      ("WITH e AS (SELECT user_id AS key, make_timestamp(epoch_us(ts) - (epoch_us(ts) % 1000)) AS ts, " +
        "event_id AS ev_id, event_type AS tag FROM events), " +
        "m AS (SELECT key, ts, ev_id, tag, min(CASE WHEN tag = 'purchase' THEN epoch_us(ts) END) OVER " +
        "(PARTITION BY key ORDER BY ts, ev_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_b_us FROM e) " +
        "SELECT key, ts AS start_ts, ev_id AS start_id FROM m " +
        "WHERE tag = 'signup' AND (next_b_us IS NULL OR next_b_us > epoch_us(ts) + CAST(86400 AS BIGINT) * 1000000)"),
    "adjacency_lag" -> adjacencyLagOracle,
    "adjacency_lag_stream" -> adjacencyLagOracle,
    "transcript_render" ->
      (transcriptsCte + " SELECT conv_id, count(*) AS n_turns, " +
        "string_agg(coalesce(role, '') || ':' || coalesce(text, ''), chr(10) " +
        "ORDER BY turn_idx) AS doc FROM t GROUP BY conv_id"),
    "transcript_render_stream" ->
      (transcriptsCte + " SELECT conv_id, count(*) AS n_turns, " +
        "string_agg(coalesce(role, '') || ':' || coalesce(text, ''), chr(10) " +
        "ORDER BY turn_idx) AS doc FROM t GROUP BY conv_id"),
    "transcript_roles" ->
      (transcriptsCte + ", l AS (SELECT conv_id, role, lag(role) OVER " +
        "(PARTITION BY conv_id ORDER BY turn_idx) AS prev_role FROM t) " +
        "SELECT conv_id, count(*) AS n_turns, " +
        "CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats " +
        "FROM l GROUP BY conv_id"),
    "sft_pairs" -> sftPairsOracle,
    "sft_pairs_stream" -> sftPairsOracle,
    "sft_pairs_rocksdb" -> sftPairsOracle,
    "sft_pairs_tws" -> sftPairsOracle,
    "sft_curate" ->
      (sftPairsCtes +
        ", cf AS (SELECT * FROM pr WHERE strpos(prompt, chr(10)) > 0), " +
        "d AS (SELECT *, row_number() OVER (PARTITION BY completion " +
        "ORDER BY conv_id, turn_idx) AS r FROM cf) " +
        "SELECT conv_id, turn_idx, prompt, completion FROM d WHERE r = 1"),
    "preference_pairs" ->
      ("WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx, " +
        "event_type AS role, props AS text, value FROM events), " +
        "g AS (SELECT conv_id, turn_idx, text, value, " +
        "row_number() OVER (PARTITION BY conv_id ORDER BY value DESC, turn_idx ASC) AS rc, " +
        "row_number() OVER (PARTITION BY conv_id ORDER BY value ASC, turn_idx DESC) AS rr, " +
        "count(*) OVER (PARTITION BY conv_id) AS n FROM t " +
        "WHERE role = 'purchase' AND value IS NOT NULL), " +
        "c AS (SELECT conv_id, CAST(turn_idx AS BIGINT) AS chosen_idx, " +
        "text AS chosen_text, value AS chosen_reward FROM g WHERE rc = 1 AND n >= 2), " +
        "r AS (SELECT conv_id, CAST(turn_idx AS BIGINT) AS rejected_idx, " +
        "text AS rejected_text, value AS rejected_reward FROM g WHERE rr = 1 AND n >= 2) " +
        "SELECT c.conv_id, c.chosen_idx, c.chosen_text, c.chosen_reward, " +
        "r.rejected_idx, r.rejected_text, r.rejected_reward FROM c JOIN r USING (conv_id)"),
    "sft_pack_masked" ->
      (sftPairsCtes +
        ", ex AS (SELECT CAST(conv_id AS BIGINT) * 1000 + turn_idx AS ex_id, " +
        "prompt, completion FROM pr), " +
        "nt AS (SELECT ex_id, " +
        "CASE WHEN length(trim(prompt)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(prompt), '\\s+')) END AS npr, " +
        "CASE WHEN length(trim(completion)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(completion), '\\s+')) END AS nco " +
        "FROM ex), " +
        "n2 AS (SELECT ex_id, npr, npr + nco AS ntok FROM nt WHERE npr + nco > 0), " +
        "c AS (SELECT ex_id, npr, ntok, CAST(coalesce(sum(ntok) OVER (ORDER BY ex_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s0 FROM n2), " +
        "p AS (SELECT ex_id, npr, ntok, s0, unnest(generate_series(s0 // 64, " +
        "(s0 + ntok - 1) // 64)) AS pack_id FROM c) " +
        "SELECT ex_id, CAST(pack_id AS BIGINT) AS pack_id, " +
        "CAST(least((pack_id + 1) * 64, s0 + ntok) - greatest(pack_id * 64, s0) AS BIGINT) AS pack_tokens, " +
        "CAST(greatest(pack_id * 64, s0) - pack_id * 64 AS BIGINT) AS offset_in_pack, " +
        "CAST(greatest(0, least((pack_id + 1) * 64, s0 + ntok) - " +
        "greatest(greatest(pack_id * 64, s0), s0 + npr)) AS BIGINT) AS loss_tokens " +
        "FROM p"),
    // the salted forms must be indistinguishable from the plain ones
    "skew_salted_agg" ->
      (transcriptsCte + " SELECT role, CAST(sum(length(text)) AS BIGINT) " +
        "AS n_chars FROM t GROUP BY role"),
    "skew_salted_join" ->
      ("SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_nationkey"),
    "turn_latency" -> latencyOracle,
    "turn_latency_stream" -> latencyOracle,
    // the dedup'd stream must converge to exactly the batch relation
    // (event_id is unique in the source; every duplicate is planted by the
    // entry's delivery schedule)
    "dedup_turns_stream" ->
      "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events",
    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS dups FROM documents GROUP BY text",
    "token_count" ->
      ("SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 " +
        "ELSE length(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_tokens " +
        "FROM documents"),
    "token_count_bpe" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(" +
        "coalesce(text, '') || ' it''s 2026, v' || CAST(doc_id AS VARCHAR) || '!', " +
        "'''(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+')) " +
        "AS BIGINT) AS n_tokens FROM documents")
    )
    // the RocksDB-backed entries assert identical semantics under a
    // different state backend, so they share their twins' oracles verbatim
    m ++ Map(
      "dedup_turns_stream_rocksdb" -> m("dedup_turns_stream"),
      "cep_pattern_seq_rocksdb" -> m("cep_pattern_seq_stream"),
      "cep_pattern_seq_tws" -> m("cep_pattern_seq_stream"),
      "cep_absence_tws" -> m("cep_absence_stream"),
      "cep_migrate_tws" -> m("cep_pattern_seq_stream"),
      "cep_migrate_repartition" -> m("cep_pattern_seq_stream"),
      "state_inspect_dedup" -> "SELECT event_id FROM events",
      "stream_stream_join_rocksdb" -> m("stream_stream_join"))
  }
}
