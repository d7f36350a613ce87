package graft.fast

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one run builder ([[DeltaEngine.buildAdjs]]: parallel long
  * arrays + in-place (key,value) quicksort + consolidating merge walk)
  * through its driver-side callers — the local regime's [[LocalIndex]]
  * (packed edge blocks → per-shard runs → one primitive key table) and the
  * micro-batch [[DeltaPack]] — against an independent boxed reference
  * implementation, on duplicate-heavy multigraphs with cancelling and zero
  * weights: sorted runs, summed duplicates, zeros dropped, keys with both
  * sides empty omitted. FastEngineSpec checks the sharded build against the
  * same reference. */
class FullIndexSpec extends AnyFunSuite {
  import FullIndexSpec._

  test("buildFullIndex equals boxed reference on duplicate-heavy multigraphs") {
    for ((edges, trial) <- multigraphs.zipWithIndex) {
      val got = localIndex(edges, np = 3)
      val want = refIndex(edges)
      // the key set: every key of the reference resolves, every other id
      // that occurs in the input (keys whose runs cancelled) does not
      val ids = edges.flatMap(e => Seq(e._1, e._2)).toSet ++ Seq(-1L, 1000L)
      assert(ids.filter(k => got.get(k) != null) == want.keySet, s"trial $trial key sets")
      for ((k, (f, df, r, dr)) <- want) {
        val a = got.get(k)
        assert(a.fwdVs.toSeq.zip(a.fwdWs.toSeq) == f, s"trial $trial fwd run of $k")
        assert(a.revVs.toSeq.zip(a.revWs.toSeq) == r, s"trial $trial rev run of $k")
        assert(a.degFwd == df && a.degRev == dr, s"trial $trial degrees of $k")
      }

      // the micro-batch pack: same runs per direction, and the seed list is
      // the consolidated, zero-free, (src,dst)-sorted batch
      val dp = DeltaPack(edges.toArray)
      assert(dp.fwd.keysIterator.toSet == want.filter(_._2._1.nonEmpty).keySet, s"trial $trial fwd keys")
      assert(dp.rev.keysIterator.toSet == want.filter(_._2._3.nonEmpty).keySet, s"trial $trial rev keys")
      for ((k, (f, df, r, dr)) <- want) {
        val fr = dp.run(k, forward = true)
        val rr = dp.run(k, forward = false)
        assert(fr.vs.toSeq.zip(fr.ws.toSeq) == f && fr.degSum == df, s"trial $trial pack fwd of $k")
        assert(rr.vs.toSeq.zip(rr.ws.toSeq) == r && rr.degSum == dr, s"trial $trial pack rev of $k")
      }
      val wantEdges = edges.groupBy(e => (e._1, e._2)).toSeq
        .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }
        .filter(_._3 != 0L).sortBy(e => (e._1, e._2))
      assert(dp.edges.toSeq == wantEdges, s"trial $trial pack edges")
    }
  }

  test("LocalIndex seeds stride the consolidated edge set, each edge once") {
    for ((edges, trial) <- multigraphs.zipWithIndex; stride <- Seq(1, 4, 7)) {
      val idx = localIndex(edges, np = 3)
      val got = (0 until stride).flatMap(r => idx.seeds(r, stride).toSeq)
      val want = edges.groupBy(e => (e._1, e._2)).toSeq
        .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }
        .filter(_._3 != 0L)
      assert(got.sortBy(e => (e._1, e._2)) == want.sortBy(e => (e._1, e._2)),
        s"trial $trial stride $stride")
      val sizes = (0 until stride).map(r => idx.seeds(r, stride).size)
      assert(sizes.max - sizes.min <= 1, s"trial $trial stride $stride slice sizes $sizes")
    }
  }

  test("sortByKeyValue sorts parallel arrays by composite key with duplicates") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 2, 31, 32, 33, 1000, 5000)) {
      val k = Array.fill(n)(rnd.nextInt(8).toLong)
      val v = Array.fill(n)(rnd.nextInt(8).toLong)
      val w = Array.tabulate(n)(_.toLong)
      val want = (0 until n).map(i => (k(i), v(i), w(i))).sortBy(t => (t._1, t._2))
      DeltaEngine.sortByKeyValue(k, v, w, n)
      val got = (0 until n).map(i => (k(i), v(i), w(i)))
      // payload permutation within equal (k,v) groups is free; compare the
      // sorted key/value sequence exactly and the payload as a multiset
      assert(got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)), s"n=$n order")
      assert(got.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).toSet).toMap ==
        want.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).toSet).toMap, s"n=$n payload")
    }
  }
}

object FullIndexSpec {
  /** The local index the batch path builds, without Spark: one input
    * partition of packed edge blocks, `np` shards, one key table. */
  def localIndex(edges: Seq[(Long, Long, Long)], np: Int): LocalIndex = {
    val blocks = DeltaEngine.edgeBlocks(np, edges.iterator).toSeq
    LocalIndex((0 until np).map { pid =>
      val s = DeltaEngine.shardOf(pid, np, blocks.iterator.filter(_._1 == pid).map(_._2))
      (s.keysIterator.toArray, s.valuesIterator.toArray)
    }.toArray)
  }

  /** Boxed reference index: key → (fwd run, fwd degree, rev run, rev degree). */
  def refIndex(edges: Seq[(Long, Long, Long)])
      : Map[Long, (Seq[(Long, Long)], Long, Seq[(Long, Long)], Long)] = {
    def runs(pairs: Seq[(Long, Long)]): (Seq[(Long, Long)], Long) = {
      val c = pairs.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toSeq
        .filter(_._2 != 0L).sortBy(_._1)
      (c, c.map(_._2).sum)
    }
    val keys = (edges.map(_._1) ++ edges.map(_._2)).distinct
    keys.flatMap { k =>
      val (f, df) = runs(edges.filter(_._1 == k).map(e => (e._2, e._3)))
      val (r, dr) = runs(edges.filter(_._2 == k).map(e => (e._1, e._3)))
      if (f.isEmpty && r.isEmpty) None
      else Some(k -> (f, df, r, dr))
    }.toMap
  }

  /** Five multigraphs of growing size: heavy key duplication (small id
    * space), multi-edges, negative and cancelling weights, plus explicit
    * exact-cancel pairs. */
  def multigraphs: Seq[Seq[(Long, Long, Long)]] = {
    val rnd = new scala.util.Random(42)
    (0 until 5).map { trial =>
      val base = (0 until 50 + trial * 400).map { _ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong, (rnd.nextInt(5) - 2).toLong)
      }
      val cancels = (0 until 10).flatMap { i =>
        Seq((100L + i, 200L + i, 7L), (100L + i, 200L + i, -7L))
      }
      base ++ cancels
    }
  }
}
