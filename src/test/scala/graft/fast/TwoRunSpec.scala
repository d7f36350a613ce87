package graft.fast

import org.scalatest.funsuite.AnyFunSuite
import graft.plan.Planner
import graft.plan.Planner.Pred

/** The delta step's two-run kernels against the merged-run reference: an
  * inclusive lookup reads the base run and the batch's run side by side,
  * and must give exactly what building their merged run ([[DeltaEngine.mergeRuns]])
  * and reading that would give. */
class TwoRunSpec extends AnyFunSuite {

  /** A consolidated run: sorted distinct values, nonzero weights. */
  private type Run = (Array[Long], Array[Long])

  /** A base run over `[lo, lo + span)` and a batch run that cancels some
    * base entries (weight `-wb`), changes others, retracts below zero and
    * adds batch-only values; either may be empty. */
  private def runPair(rnd: scala.util.Random, lo: Long, span: Int): (Run, Run) = {
    def pick(k: Int): Array[Long] =
      Array.fill(k)(lo + rnd.nextInt(span)).distinct.sorted
    val bvs = if (rnd.nextInt(8) == 0) Array.empty[Long] else pick(rnd.nextInt(span))
    val bws = bvs.map(_ => 1L + rnd.nextInt(3))
    val base = bvs.zip(bws).toMap
    val dvs = if (rnd.nextInt(8) == 0) Array.empty[Long] else pick(rnd.nextInt(span / 2 + 1))
    val dws = dvs.map { v =>
      base.get(v) match {
        case Some(wb) if rnd.nextBoolean() => -wb // cancels the base entry
        case Some(_) => (rnd.nextInt(5) - 2).toLong match { case 0 => 2L; case w => w }
        case None => if (rnd.nextBoolean()) 1L else -1L - rnd.nextInt(2) // batch-only
      }
    }
    ((bvs, bws), (dvs, dws))
  }

  private def twoRuns(base: Run, batch: Run): DeltaEngine.TwoRuns = {
    val t = new DeltaEngine.TwoRuns
    t.bvs = base._1; t.bws = base._2; t.dvs = batch._1; t.dws = batch._2
    t
  }

  test("two-run intersect == mergeRuns + intersectRuns, with batch-hit flags") {
    val rnd = new scala.util.Random(5)
    var cancelled = 0
    for (trial <- 0 until 3000) {
      val span = Seq(8, 40, 400)(trial % 3)
      val (base, batch) = runPair(rnd, -span / 2, span)
      // few candidates against long runs (gallop) and many (step); zero
      // candidate weights too
      val nc = if (rnd.nextBoolean()) 1 + rnd.nextInt(4) else rnd.nextInt(span)
      val cvs = Array.fill(nc)(-span / 2L + rnd.nextInt(span)).distinct.sorted
      val cws = cvs.map(_ => (rnd.nextInt(7) - 3).toLong)
      val (mvs, mws) = DeltaEngine.mergeRuns(base._1, base._2, batch._1, batch._2)
      val (rv, rw) = DeltaEngine.intersectRuns(cvs, cws, mvs, mws)
      cancelled += base._1.count(v => batch._1.contains(v) && !mvs.contains(v))

      // the candidates as a packed block window, values and weights apart
      val pad = rnd.nextInt(3)
      val block = Array.fill(pad)(99L) ++ cvs ++ Array(7L) ++ cws
      val t = twoRuns(base, batch)
      val m = DeltaEngine.intersectTwo(block, pad, block, pad + cvs.length + 1, cvs.length, t)
      assert(t.vs.take(m).toSeq == rv.toSeq, s"trial $trial values")
      assert(t.ws.take(m).toSeq == rw.toSeq, s"trial $trial weights")
      assert(t.hit.take(m).toSeq == rv.toSeq.map(batch._1.contains), s"trial $trial hits")
    }
    assert(cancelled > 100, "too few cancellations to exercise wb + wd = 0")
  }

  test("two-run propose writer == mergeRuns + sliceRangeAt, with range predicates") {
    val rnd = new scala.util.Random(9)
    val engines = Seq(
      (new DeltaEngine(Planner.triangle, Nil, 2), 2),
      (new DeltaEngine(Planner.triangle, Planner.ordered(3), 2), 2),
      (new DeltaEngine(Planner.triangle, Seq(Pred(2, 0, ">="), Pred(1, 2, "<="), Pred(0, 2, "!=")), 2), 2),
      (new DeltaEngine(Planner.clique4, Planner.ordered(4), 2), 3),
      (new DeltaEngine(Planner.clique4, Seq(Pred(3, 1, ">"), Pred(3, 0, "<")), 2), 3))
    var written = 0
    var skipped = 0
    for ((e, pLen) <- engines; trial <- 0 until 400) {
      val bb = new DeltaEngine.BlockBuf(1, chunkLongs = 256)
      val want = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Long], Long, Int, Seq[Long], Seq[Long])]
      // several records into one buffer: a short merge must not corrupt
      // the record after it, and chunks must still close on record bounds
      for (r <- 0 until 1 + rnd.nextInt(6)) {
        val span = Seq(8, 40, 120)(rnd.nextInt(3))
        val (base, batch) = runPair(rnd, 0L, span)
        val p = Array.fill(pLen)(
          rnd.nextInt(10) match {
            case 0 => Long.MaxValue
            case 1 => Long.MinValue
            case _ => rnd.nextInt(span).toLong
          })
        val pOff = rnd.nextInt(3)
        val pBlock = Array.fill(pOff)(-7L) ++ p ++ Array(-7L)
        val rel = rnd.nextInt(e.numRels)
        val w = (rnd.nextInt(5) - 2).toLong
        val minExt = rnd.nextInt(2)
        val ok = e.putProposal(bb, 0, rel, w, minExt, pBlock, pOff, pLen, twoRuns(base, batch))
        val (mvs, mws) = DeltaEngine.mergeRuns(base._1, base._2, batch._1, batch._2)
        val (from, until) = e.sliceRangeAt(rel, pLen + 1, p, 0, mvs)
        assert(ok == (until > from), s"pLen $pLen trial $trial record $r written")
        if (ok) {
          want += ((rel, p.toSeq, w, minExt, mvs.slice(from, until).toSeq, mws.slice(from, until).toSeq))
          written += 1
        } else skipped += 1
      }
      val got = bb.result().toSeq.flatMap { case (pid, block) =>
        assert(pid == 0)
        DeltaEngine.decodeProps(block, pLen).map(pr =>
          (pr.rel, pr.p.toSeq, pr.w, pr.minExt, pr.cands.toSeq, pr.candWs.toSeq))
      }
      assert(got == want.toSeq, s"pLen $pLen trial $trial")
    }
    assert(written > 1000 && skipped > 100, s"written $written skipped $skipped")
  }
}
