package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkTestBase
import graft.model.{EdgeDelta, Turn}
import graft.streaming.AdjacencyDeltas.{ConvState, EncTurn}

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  def enc(conv: String, idx: Int, attr: Long, tsMs: Long): EncTurn =
    EncTurn(conv, idx, attr, new Timestamp(tsMs))

  def mkState(st: Optional[ConvState], wmMs: Long): TestGroupState[ConvState] =
    TestGroupState.create[ConvState](st, GroupStateTimeout.NoTimeout,
      1000L, Optional.of(wmMs), false)

  def freshState(watermarkMs: Long = 0L): TestGroupState[ConvState] =
    mkState(Optional.empty[ConvState](), watermarkMs)

  def stateOf(turns: (Int, Long)*): TestGroupState[ConvState] =
    mkState(Optional.of(ConvState(turns.toList)), 0L)

  test("in-order turns emit consecutive +1 edges") {
    val s = freshState()
    val out = AdjacencyDeltas.updateConv("c0",
      Iterator(enc("c0", 0, 10, 1000), enc("c0", 1, 20, 2000), enc("c0", 2, 30, 3000)), s).toList
    assert(out.map(d => (d.src, d.dst, d.w)).toSet == Set((10L, 20L, 1L), (20L, 30L, 1L)))
  }

  test("late turn retracts the bridged edge and inserts two") {
    val s = stateOf((0, 10L), (2, 30L))
    val out = AdjacencyDeltas.updateConv("c0", Iterator(enc("c0", 1, 20, 1500)), s).toList
    assert(out.map(d => (d.src, d.dst, d.w)).toSet ==
      Set((10L, 30L, -1L), (10L, 20L, 1L), (20L, 30L, 1L)))
  }

  test("duplicate turn delivery is a no-op") {
    val s = stateOf((0, 10L), (1, 20L))
    val out = AdjacencyDeltas.updateConv("c0", Iterator(enc("c0", 1, 99, 1500)), s).toList
    assert(out.isEmpty)
  }

  test("beyond-watermark turn is dropped") {
    // state with a high watermark
    val s2 = mkState(Optional.of(ConvState(List((0, 10L), (2, 30L)))), 5000L)
    val out = AdjacencyDeltas.updateConv("c0", Iterator(enc("c0", 1, 20, 1500)), s2).toList
    assert(out.isEmpty)
    assert(s2.getOption.get.turns == List((0, 10L), (2, 30L)))
    // same row above the watermark is applied
    val out2 = AdjacencyDeltas.updateConv("c0", Iterator(enc("c0", 1, 20, 6000)), s2).toList
    assert(out2.nonEmpty)
  }

  test("windows: tumbling/sliding/session batch semantics") {
    import spark.implicits._
    val df = Seq(
      (new Timestamp(0L), 1L), (new Timestamp(30000L), 1L),
      (new Timestamp(61000L), 1L), (new Timestamp(200000L), -1L)
    ).toDF("ts", "w")
    val tumb = Windows.tumbling(df, "ts", "1 minute").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(2)).toMap
    assert(tumb == Map(0L -> 2L, 60000L -> 1L, 180000L -> -1L))
    val slid = Windows.sliding(df, "ts", "1 minute", "30 seconds").collect()
    assert(slid.length == 6) // each row in 2 sliding windows, two shared
    assert(slid.map(_.getLong(2)).sum == 4L) // every w counted twice
    val sess = Windows.session(df, "ts", "45 seconds").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(3)))
    // rows 0,30s,61s chain into one session (gaps < 45s); 200s separate
    assert(sess.toSet == Set((0L, 3L), (200000L, 1L)))
  }

  test("memory-stream end-to-end: watermark drops, late retraction flows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val dict = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("key", "id")
    val deltas = AdjacencyDeltas.stream(
      AdjacencyDeltas.encode(mem.toDF().withWatermark("ts", "10 seconds"), dict, "tool"))
    val q = deltas.writeStream.format("memory").queryName("adj_test")
      .outputMode("append").start()
    def turn(idx: Int, tool: String, tsMs: Long) =
      Turn("c0", idx, "user", s"t-$idx", tool, new Timestamp(tsMs))
    try {
      mem.addData(turn(0, "a", 100000), turn(2, "c", 140000))
      q.processAllAvailable()
      mem.addData(turn(4, "d", 150000)) // advances watermark to 140s
      q.processAllAvailable()
      // late but within watermark (ts 145s ≥ 150s-10s): inserts idx 3 between 2 and 4
      mem.addData(turn(3, "b", 145000))
      q.processAllAvailable()
      // beyond watermark (ts 50s < 130s): dropped
      mem.addData(turn(1, "b", 50000))
      q.processAllAvailable()
      val rows = spark.table("adj_test").as[EdgeDelta].collect()
        .groupBy(d => (d.src, d.dst)).view.mapValues(_.map(_.w).sum)
        .filter(_._2 != 0L).toMap
      // final order: 0(a) 2(c) 3(b) 4(d)  [turn 1 dropped]
      assert(rows == Map((1L, 3L) -> 1L, (3L, 2L) -> 1L, (2L, 4L) -> 1L))
    } finally q.stop()
  }

  test("parallelism invariance: shuffle partition count does not change totals") {
    import graft.fast.FastBatch
    import graft.plan.Planner
    import spark.implicits._
    val r = new scala.util.Random(17)
    val edges = (0 until 300).map(_ => (r.nextInt(40).toLong, r.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("src", "dst")
    val counts = Seq("1", "4", "13").map { p =>
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", p)
      val df = edges.as[(Long, Long)].collect().toSeq // re-create under s2
      import s2.implicits._
      FastBatch.enumerateAgg(df.toDF("src", "dst"), Planner.triangle).first().getLong(1)
    }
    assert(counts.distinct.size == 1)
  }
}
