package graft.plan

/** Worst-case-optimal (generic join, Ngo et al.) motif query planner.
  *
  * A motif is a list of directed relation edges over integer attributes
  * 0..k-1, e.g. the directed triangle is `Seq((0,1),(0,2),(1,2))`.
  * The planner chooses an attribute introduction order in which every newly
  * introduced attribute is constrained by at least one already-bound
  * attribute, then derives, for each attribute beyond the first two, the set
  * of constraints (prefix position, index direction, delta staleness) that
  * drive the count/propose/intersect extension stages.
  *
  * Semantics follow the reference planner (see
  * /root/reference/src/motif.rs:195-230 `order_attributes`,
  * /root/reference/src/motif.rs:239-266 `plan_query`,
  * /root/reference/src/motif.rs:177-190 le/lt assignment), re-expressed for
  * the fast engine's RDD pipeline rather than a timely dataflow builder.
  */
object Planner {

  /** One constraint on a new attribute:
    *  - `prefixPos`: position in the *reordered* prefix holding the bound
    *    attribute on the other side of the constraining relation edge;
    *  - `forward`: true → the bound attribute is the relation's source, so
    *    candidates come from the forward (src→dst) index; false → reverse;
    *  - `inclusive`: delta-query staleness. True ("le") → the constraining
    *    relation precedes the seed relation in the motif's relation order and
    *    must be read *including* the current batch's deltas; false ("lt") →
    *    it follows the seed relation and must be read *excluding* them.
    *    (Reference: /root/reference/src/motif.rs:183-187.)
    */
  final case class Constraint(prefixPos: Int, forward: Boolean, inclusive: Boolean)

  /** A full delta-query plan for one seed relation of a motif.
    *
    * @param attrOrder position→original-attribute map: `attrOrder(i)` is the
    *        original attribute id bound at prefix position i. The first two
    *        entries are the seed relation's (src, dst).
    * @param stages one entry per extension level; stage s binds prefix
    *        position s+2.
    */
  final case class RelationPlan(
      seedRelation: Int,
      attrOrder: IndexedSeq[Int],
      stages: IndexedSeq[IndexedSeq[Constraint]]) {
    def numAttrs: Int = attrOrder.length
    /** inversePermutation(origAttr) = prefix position holding it. */
    val inverse: IndexedSeq[Int] = {
      val inv = new Array[Int](attrOrder.length)
      for (pos <- attrOrder.indices) inv(attrOrder(pos)) = pos
      inv.toIndexedSeq
    }
  }

  /** Orders attributes so each newcomer is constrained by a prior one,
    * starting with the seed relation's endpoints. Greedy/arbitrary among
    * valid orders, like the reference. Throws if the motif's constraint
    * graph is disconnected (no valid order exists).
    */
  def orderAttributes(seedRelation: Int, relations: Seq[(Int, Int)]): IndexedSeq[Int] = {
    val (s0, d0) = relations(seedRelation)
    require(s0 != d0, s"self-loop motif edge on attribute $s0 is not supported")
    val active = scala.collection.mutable.ArrayBuffer(s0, d0)
    var changed = true
    while (changed) {
      changed = false
      for ((src, dst) <- relations) {
        if (active.contains(src) && !active.contains(dst)) { active += dst; changed = true }
        if (active.contains(dst) && !active.contains(src)) { active += src; changed = true }
      }
    }
    val all = relations.flatMap(r => Seq(r._1, r._2)).toSet
    require(active.size == all.size,
      s"motif is disconnected: reached ${active.toSet}, expected $all")
    active.toIndexedSeq
  }

  /** Builds the delta-query plan for `seedRelation` of `relations`. */
  def planRelation(seedRelation: Int, relations: Seq[(Int, Int)]): RelationPlan = {
    val order = orderAttributes(seedRelation, relations)
    val pos = new Array[Int](order.length)
    for (p <- order.indices) pos(order(p)) = p
    // relations re-expressed in prefix positions
    val rel = relations.map { case (s, d) => (pos(s), pos(d)) }
    val numAttrs = order.length
    val stages =
      (2 until numAttrs).map { attr =>
        val cs = rel.zipWithIndex.flatMap { case ((s, d), idx) =>
          val inclusive = idx < seedRelation
          // constraint applies iff this relation connects `attr` to an
          // earlier prefix position
          val c1 = if (s == attr && d < attr) Some(Constraint(d, forward = false, inclusive)) else None
          val c2 = if (d == attr && s < attr) Some(Constraint(s, forward = true, inclusive)) else None
          c1.toSeq ++ c2.toSeq
        }
        require(cs.nonEmpty, s"attribute at position $attr is unconstrained")
        cs.toIndexedSeq
      }
    // Every non-seed relation must be enforced by some stage: a relation
    // whose BOTH endpoints lie inside the seed pair (e.g. the reciprocal
    // motif Seq((0,1),(1,0)) or a duplicated edge) would otherwise be
    // silently dropped and the join would overcount. (The reference's
    // plan_query shares this blind spot — we reject instead.)
    val enforced = rel.indices.filter { idx =>
      val (s, d) = rel(idx)
      idx == seedRelation || s >= 2 || d >= 2
    }.toSet
    require(enforced.size == rel.size,
      s"motif relations ${rel.indices.filterNot(enforced).mkString(",")} bind only the " +
        s"seed relation's attribute pair and cannot be enforced by any extension stage")
    RelationPlan(seedRelation, order, stages)
  }

  /** Inline symmetry-breaking / distinctness predicate between two motif
    * attributes, applied at the EARLIEST extension stage where both are
    * bound — the reference's per-stage retain filters that keep ordered
    * clique enumeration from materializing all k! permutations
    * (reference examples/q6-lean.rs:62-65 `v2 != v4 && v3 < v4`;
    * static_graph/examples/diamonds.rs:42 `b < c`).
    * `op` ∈ { "<", "<=", ">", ">=", "!=" }; attributes are ORIGINAL motif
    * attribute ids (the engine maps them to prefix positions). */
  final case class Pred(a: Int, b: Int, op: String)

  /** Ordered-enumeration predicate set x0 < x1 < ... < x{n-1}: one canonical
    * representative per clique instead of all n! permutations. */
  def ordered(numAttrs: Int): Seq[Pred] =
    (0 until numAttrs - 1).map(a => Pred(a, a + 1, "<"))

  /** Plans every relation's delta query (for incremental `trackMotif`). */
  def planAll(relations: Seq[(Int, Int)]): IndexedSeq[RelationPlan] =
    relations.indices.map(r => planRelation(r, relations))

  // ---- canned motifs (reference example catalog, SURVEY.md §2.6) ----
  /** Directed triangle (x0,x1),(x0,x2),(x1,x2) — README's flagship. */
  val triangle: Seq[(Int, Int)] = Seq((0, 1), (0, 2), (1, 2))
  /** Directed 3-cycle (x0,x1),(x1,x2),(x2,x0). */
  val cycle3: Seq[(Int, Int)] = Seq((0, 1), (1, 2), (2, 0))
  /** Directed 4-clique (all a<b edges), cf. examples/four-cliques.rs. */
  val clique4: Seq[(Int, Int)] =
    Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
  /** Directed 5-clique (all a<b edges). */
  val clique5: Seq[(Int, Int)] =
    for (a <- 0 until 5; b <- a + 1 until 5) yield (a, b)
  /** Directed 6-clique (all a<b edges) — the README's 6-clique story
    * (/root/reference/README.md:150-176). */
  val clique6: Seq[(Int, Int)] =
    for (a <- 0 until 6; b <- a + 1 until 6) yield (a, b)
  /** Four-cycle / diamond (x0,x1),(x1,x2),(x3,x2),(x0,x3)-style: here the
    * directed 4-cycle (0,1),(1,2),(2,3),(3,0). */
  val cycle4: Seq[(Int, Int)] = Seq((0, 1), (1, 2), (2, 3), (3, 0))
  /** "Clique with hat" q6-style 5-var motif: K4 on {0,1,2,3} plus edge (0,4). */
  val cliqueHat: Seq[(Int, Int)] = clique4 ++ Seq((0, 4))
  /** Diamond: K4 minus the (0,3) edge — two triangles sharing edge (1,2).
    * The classic chordal-4-cycle motif (same arbitrary-edge-list planner
    * path as the reference's plan_query, /root/reference/src/motif.rs:239-266). */
  val diamond: Seq[(Int, Int)] = Seq((0, 1), (0, 2), (1, 2), (1, 3), (2, 3))
}
