package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, lit, sum}
import graft.plan.Planner.Pred

/** Brute-force nested-loop motif enumeration over a consolidated Z-set —
  * the reference the engine specs compare against. Relation 0 is bound by
  * a seed row; every other attribute ranges over every node, and a binding
  * weighs its seed's weight times the Z-set weight of each other relation
  * edge. O(|seeds| · |V|^(k-2)): small inputs only. Rows are
  * (x0..x{k-1}, w), sorted as the specs sort engine output. */
object BruteForce {
  type Edge = (Long, Long, Long)

  /** Weights summed per (src, dst), zeros dropped. */
  def zset(edges: Seq[Edge]): Map[(Long, Long), Long] =
    edges.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _).filter(_._2 != 0L)

  /** One row per query row and binding, NOT consolidated (the static-index
    * serving contract: each query row extends on its own). */
  def queryStatic(queries: Seq[Edge], edges: Seq[Edge], motif: Seq[(Int, Int)],
                  preds: Seq[Pred] = Nil): Seq[Seq[Long]] = {
    val z = zset(edges)
    val nodes = z.keys.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted
    val n = motif.flatMap(e => Seq(e._1, e._2)).max + 1
    val (a0, b0) = motif.head
    val order = Seq(a0, b0) ++ (0 until n).filterNot(a => a == a0 || a == b0)
    val pos = order.zipWithIndex.toMap
    // each non-seed relation is checked when its later endpoint binds
    val checks = motif.tail.groupBy { case (s, d) => math.max(pos(s), pos(d)) }
    val x = new Array[Long](n)
    def holds(p: Pred): Boolean = p.op match {
      case "<" => x(p.a) < x(p.b); case "<=" => x(p.a) <= x(p.b)
      case ">" => x(p.a) > x(p.b); case ">=" => x(p.a) >= x(p.b)
      case "!=" => x(p.a) != x(p.b)
    }
    val out = Seq.newBuilder[Seq[Long]]
    def visit(i: Int, w: Long): Unit =
      if (i == n) { if (preds.forall(holds)) out += (x.toSeq :+ w) }
      else nodes.foreach { v =>
        x(order(i)) = v
        val w2 = checks.getOrElse(i, Nil).foldLeft(w) { case (acc, (s, d)) =>
          acc * z.getOrElse((x(s), x(d)), 0L)
        }
        if (w2 != 0L) visit(i + 1, w2)
      }
    for ((s, d, w) <- queries) {
      x(a0) = s; x(b0) = d
      if (w != 0L) visit(2, w)
    }
    sortRows(out.result())
  }

  /** Consolidated enumeration: binding → net weight (never 0). */
  def enumerate(edges: Seq[Edge], motif: Seq[(Int, Int)],
                preds: Seq[Pred] = Nil): Map[Seq[Long], Long] = {
    val seeds = zset(edges).toSeq.map { case ((s, d), w) => (s, d, w) }
    queryStatic(seeds, edges, motif, preds).groupMapReduce(_.init)(_.last)(_ + _)
      .filter(_._2 != 0L)
  }

  /** The consolidated match delta of absorbing `batch` into `before`. */
  def delta(before: Seq[Edge], batch: Seq[Edge], motif: Seq[(Int, Int)],
            preds: Seq[Pred] = Nil): Map[Seq[Long], Long] = {
    val (a, b) = (enumerate(before ++ batch, motif, preds), enumerate(before, motif, preds))
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) - b.getOrElse(k, 0L)))
      .filter(_._2 != 0L).toMap
  }

  def rows(m: Map[Seq[Long], Long]): Seq[Seq[Long]] =
    sortRows(m.toSeq.map { case (k, w) => k :+ w })

  /** An engine's (x0..x{k-1}, w) frame as sorted rows. */
  def rowsOf(df: DataFrame): Seq[Seq[Long]] =
    sortRows(df.collect().toSeq.map(_.toSeq.map(_.asInstanceOf[Long])))

  /** Net Z-set weight of an engine's match frame (the motif count). */
  def total(df: DataFrame): Long = df.agg(coalesce(sum("w"), lit(0L))).first().getLong(0)

  private def sortRows(rs: Seq[Seq[Long]]): Seq[Seq[Long]] = rs.sortBy(_.mkString(","))
}
