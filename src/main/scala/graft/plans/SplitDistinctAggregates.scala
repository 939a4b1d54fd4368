package graft.plans

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: split a GLOBAL aggregate carrying several DISTINCT
  * aggregates over DIFFERENT column sets into one narrow aggregate per
  * distinct set (plus one for the non-distinct aggregates), cross-joined
  * back together (every branch is a single row).
  *
  * Why: Spark's own `RewriteDistinctAggregates` lowers n distinct sets to
  * an Expand that REPLAYS the child n+1 times through every aggregate
  * buffer — measured at 64 s vs 4 s at the 100× point for a 4-distinct
  * profile query (q201, PERF.md). n narrow scans with map-side partial
  * aggregation beat one (n+1)×-replayed Expand whenever the child is
  * scan-shaped, which is exactly the global-profile/nunique pattern this
  * rule is scoped to.
  *
  * Scope guards (conservative by design — the rewrite duplicates the
  * child subtree, so it must be safe to evaluate more than once):
  *  - global aggregates split to a scalar Cross join; GROUPED aggregates
  *    (r6) split to per-group branches reassembled by a null-safe
  *    equi-join on fresh grouping-key aliases — branch outputs are
  *    group-cardinality-sized (gated on fixed-width inputs, see below);
  *  - batch only, fully deterministic child + grouping, no FILTER clauses;
  *  - every output column is an Alias over a deterministic scalar shell
  *    of EXACTLY ONE AggregateExpression (cross-aggregate arithmetic like
  *    `count(distinct a) / count(b)` stays fused);
  *  - at least two DISTINCT column sets (single-distinct plans don't
  *    replicate through Expand the same way — left to Spark).
  *
  * Output attribute ids are preserved (branches emit the ORIGINAL
  * aliases), so parent operators resolve unchanged; a final Project
  * restores column order. Registered via
  * [[graft.functions.GraftExtensions]] → every GraftSession gets it.
  */
object SplitDistinctAggregates extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if eligible(agg) => split(agg)
  }

  private def aggsIn(e: Expression): Seq[AggregateExpression] =
    e.collect { case a: AggregateExpression => a }

  /** Leaf-attribute resolution through the scan-shaped child: substitute
    * Project aliases until only leaf attributes remain (the child is
    * guarded Project/Filter/leaf, so this is a linear walk).
    */
  private def leafRefs(child: LogicalPlan, exprs: Seq[Expression]): Seq[Attribute] = {
    var refs: Seq[Attribute] = AttributeSet(exprs.flatMap(_.references)).toSeq
    var node = child
    var continue = true
    while (continue) node match {
      case p: Project =>
        val aliasMap: Map[Attribute, Expression] =
          p.projectList.collect { case a: Alias => (a.toAttribute: Attribute) -> a.child }.toMap
        refs = AttributeSet(refs.flatMap(r =>
          aliasMap.get(r).map(_.references.toSeq).getOrElse(Seq(r)))).toSeq
        node = p.child
      case f: Filter => node = f.child
      case _ => continue = false
    }
    refs
  }

  private def fixedWidth(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.BooleanType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }

  private def eligible(agg: Aggregate): Boolean = {
    if (agg.groupingExpressions.nonEmpty) {
      // grouped splitting is gated on input types, not group count: the
      // r7 sweep (SPLITDISTINCT_r07.json — 100× lineitem, 3 numeric
      // distinct sets grouped by `l_orderkey % C`, C = 1…1,048,576) found
      // no cardinality crossover (split/Expand 0.67 at C=1, 0.21–0.54
      // elsewhere; 20 vs 85 s at C=4096). So every distinct set AND every
      // grouping expression must resolve (through the scan-shaped child's
      // aliases) to fixed-width leaf columns. A wide (string/binary)
      // DISTINCT INPUT is the r6 measured loss (Expand reads it once and
      // ships a narrow derivative; each split branch re-reads and
      // re-decodes it), and the r8 100× wide-GROUP-KEY profile
      // (SPLITDISTINCT_r08.json: groupBy(text) with numeric distincts,
      // split 1.52 s vs Expand 1.00 s) showed the same mechanism through
      // the key column — every branch re-reads, re-ships, and re-joins ON
      // the wide key, where Expand pays only the ×(n+1) shuffle
      // replication of a column it read once (ADVICE r7 #1). Non-distinct
      // aggregate inputs are read by exactly one branch — same total
      // reads as the Expand form — so they stay ungated.
      val distinctInputs = agg.aggregateExpressions
        .flatMap(e => e.collect {
          case ae: AggregateExpression if ae.isDistinct =>
            ae.aggregateFunction.children
        }).flatten
      if (!leafRefs(agg.child, distinctInputs ++ agg.groupingExpressions)
        .forall(a => fixedWidth(a.dataType))) return false
    }
    // join keys come back through EqualNullSafe on re-computed grouping
    // expressions — they must be deterministic to land in the same group
    // in every branch
    if (agg.groupingExpressions.exists(!_.deterministic)) return false
    if (agg.isStreaming) return false
    // the child is duplicated per branch: that trade only wins when the
    // child is SCAN-SHAPED (column pruning makes each branch a narrow
    // scan). Below a join/window/aggregate the duplication costs more
    // than the Expand it removes — MEASURED at 100× (VERDICT r7 #9,
    // SPLITDISTINCT_r08.json join-child profile: a hand-written
    // per-branch split of a 3-distinct agg over lineitem⋈orders ran
    // 23.3 s median vs Spark's Expand at 10.9 s — each branch re-runs
    // the 60M⋈15M join). The guard stays; leave those shapes to Spark.
    val scanShaped = agg.child.find {
      case _: Project | _: Filter | _: LeafNode => false
      case _ => true
    }.isEmpty
    if (!scanShaped) return false
    // each extra branch re-instances the child for fresh exprIds (sibling
    // branches sharing ids would violate the analyzer's uniqueness
    // invariant and trip plan-integrity validation); that needs every leaf
    // to know how to produce a fresh-id copy of itself
    if (!agg.child.collectLeaves().forall(_.isInstanceOf[MultiInstanceRelation]))
      return false
    // every expression under the duplicated child must be deterministic
    // or the branches would see different data
    if (agg.child.exists(p => p.expressions.exists(!_.deterministic)))
      return false
    // outputs split into GROUPING shells (agg-free — the analyzer already
    // proved them functions of the grouping expressions; they ride in the
    // first branch) and AGGREGATE shells (exactly one AggregateExpression
    // each — cross-aggregate arithmetic stays fused)
    val (keyShells, aggShells) =
      agg.aggregateExpressions.partition(e => aggsIn(e).isEmpty)
    if (keyShells.exists(!_.deterministic)) return false
    val shells = aggShells.map {
      case al @ Alias(body, _) if al.deterministic => aggsIn(body)
      case _ => return false
    }
    if (shells.exists(_.length != 1)) return false
    val aes = shells.map(_.head)
    if (aes.exists(_.filter.isDefined)) return false
    if (aes.exists(!_.deterministic)) return false
    val distinctSets = aes.filter(_.isDistinct)
      .map(_.aggregateFunction.children.map(_.canonicalized))
      .distinct
    distinctSets.size >= 2
  }

  private def split(agg: Aggregate): LogicalPlan = {
    // branch key: the distinct column set, or None for the shared
    // non-distinct branch; groupBy preserves nothing, so key order is
    // re-derived from first appearance for plan stability. Grouping-output
    // shells (agg-free) ride in the FIRST branch.
    val (keyShells, aggShells) =
      agg.aggregateExpressions.partition(e => aggsIn(e).isEmpty)
    val keyed = aggShells.map { ne =>
      val ae = aggsIn(ne).head
      val key =
        if (ae.isDistinct)
          Some(ae.aggregateFunction.children.map(_.canonicalized))
        else None
      key -> ne
    }
    val keysInOrder = keyed.map(_._1).distinct
    // the first branch keeps the original child; every further branch gets
    // a RE-INSTANCED copy (fresh exprIds for leaf outputs and inner
    // aliases, references remapped) so sibling branches never share ids —
    // the same discipline the analyzer's DeduplicateRelations restores for
    // self-joins. Top-level output aliases keep their ORIGINAL ids in all
    // branches: that is what lets parents resolve unchanged. Every branch
    // additionally emits fresh `_gk` aliases of its (remapped) grouping
    // expressions — the null-safe equi-join keys that reassemble the per-
    // group rows (EVERY branch aggregates the same child, so key sets are
    // identical and the inner join is lossless); the final Project drops
    // them. With no grouping the key list is empty and the join falls back
    // to the scalar Cross of the global form.
    val branches: Seq[(LogicalPlan, Seq[Attribute])] =
      keysInOrder.zipWithIndex.map { case (k, i) =>
        val exprs = keyed.filter(_._1 == k).map(_._2)
        if (i == 0) {
          val gks = agg.groupingExpressions.zipWithIndex.map {
            case (g, gi) => Alias(g, s"_gk${i}_$gi")()
          }
          (agg.copy(aggregateExpressions = keyShells ++ exprs ++ gks),
            gks.map(_.toAttribute))
        } else {
          val (freshChild, mapping) = reinstance(agg.child)
          def remap(e: Expression): Expression = e.transformUp {
            case ar: AttributeReference if mapping.contains(ar.exprId) =>
              ar.withExprId(mapping(ar.exprId).exprId)
          }
          val g2 = agg.groupingExpressions.map(remap)
          val gks = g2.zipWithIndex.map {
            case (g, gi) => Alias(g, s"_gk${i}_$gi")()
          }
          (Aggregate(g2,
            exprs.map(e => remap(e).asInstanceOf[NamedExpression]) ++ gks,
            freshChild),
            gks.map(_.toAttribute))
        }
      }
    val (b0, k0) = branches.head
    val joined = branches.tail.foldLeft(b0) { case (acc, (b, kb)) =>
      val cond = k0.zip(kb)
        .map { case (a, c) => EqualNullSafe(a, c): Expression }
        .reduceOption(And)
      Join(acc, b, if (cond.isDefined) Inner else Cross, cond, JoinHint.NONE)
    }
    Project(agg.aggregateExpressions.map(_.toAttribute), joined)
  }

  /** Fresh-exprId copy of a scan-shaped subtree: leaves re-instance via
    * MultiInstanceRelation (guarded in [[eligible]]), inner aliases get new
    * ids, and every reference is remapped bottom-up. Returns the copy plus
    * the old→new attribute mapping for the caller's own expressions.
    */
  private def reinstance(
      plan: LogicalPlan): (LogicalPlan, Map[ExprId, Attribute]) = {
    var mapping = Map.empty[ExprId, Attribute]
    val fresh = plan.transformUp {
      case leaf: LeafNode =>
        val newLeaf =
          leaf.asInstanceOf[MultiInstanceRelation].newInstance()
            .asInstanceOf[LogicalPlan]
        leaf.output.zip(newLeaf.output).foreach { case (o, n) =>
          mapping += o.exprId -> n
        }
        newLeaf
      case node =>
        node.transformExpressionsUp {
          case al: Alias =>
            val renamedChild = al.child.transformUp {
              case ar: AttributeReference if mapping.contains(ar.exprId) =>
                ar.withExprId(mapping(ar.exprId).exprId)
            }
            val fresh = Alias(renamedChild, al.name)(
              qualifier = al.qualifier,
              explicitMetadata = al.explicitMetadata,
              nonInheritableMetadataKeys = al.nonInheritableMetadataKeys)
            mapping += al.exprId -> fresh.toAttribute
            fresh
          case ar: AttributeReference if mapping.contains(ar.exprId) =>
            ar.withExprId(mapping(ar.exprId).exprId)
        }
    }
    (fresh, mapping)
  }
}
