package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  AttributeSet, Cast, Divide, EqualTo, Expression, If, IsNotNull,
  KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.SparkSession
import graft.sources.Parquet

/** MATERIALIZED-VIEW AUTOMATIC REWRITE (round 13 — VERDICT r12 #7;
  * rollup subsumption round 14 — VERDICT r13 #4; ref: n/a, SURVEY §0 —
  * the classic aggregate-rewrite of the materialized-view literature).
  *
  * `dml_cdc_agg_view` maintains a per-group (n, nn, total) state table
  * incrementally from the commit-log CDC feed; without a rewrite rule
  * that state only helps users who KNOW the view exists. [[MvRewrite]]
  * closes the loop: a registered view declares (fact snapshot paths,
  * group-key SQL, value SQL, state path), and any `Aggregate` whose
  *  - scan reads EXACTLY the registered fact snapshot (path-set
  *    equality — the freshness guard: a query over any other version
  *    never matches),
  *  - grouping keys are each semantically the registered key OR an
  *    expression OVER the registered key (a coarser/multi-dimensional
  *    rollup — every occurrence of the key subtree substitutes to the
  *    state's `g` and nothing else of the scan remains), and
  *  - every filter between aggregate and scan is a deterministic
  *    function of the registered key (whole-group selection — round
  *    14 predicate subsumption; a row-level predicate declines), and
  *  - aggregates are only count(*) / sum(value) / avg(value, decimal)
  *    — plus min/max(value) IFF the state carries mn/mx columns, which
  *    only the APPEND-ONLY-feed fold produces (round 15: min/max are
  *    not self-maintainable under deletes; the fold refuses a
  *    retraction-bearing feed, and a state without mn/mx declines
  *    min/max queries fail-safe)
  * is rewritten to read the maintained state — O(groups) bytes instead
  * of O(fact), the entire point of IVM at 100 TB. The exact-match case
  * projects the state; the rollup case RE-AGGREGATES it (count(*) →
  * sum(n), sum(v) → sum(total), min/max → min(mn)/max(mx)) — these are
  * the distributive aggregates for which rollup-from-state is exact.
  * Round 15 adds the JOIN-VIEW twin ([[MvCatalog.MvJoinDef]] +
  * [[tryRewriteJoin]]): an aggregate over `fact ⋈ dim` whose grouped
  * state `dml_cdc_join_view` maintains rewrites under the same guards
  * with BOTH tables' snapshot paths as the freshness key. Output
  * attribute ids, names and types are preserved (aliases keep the
  * original exprIds; state columns cast to the query's types), so
  * parent operators never see the substitution.
  *
  * NULL semantics (ADVICE r13): a live group whose values are all NULL
  * must yield sum = NULL, but the maintained total folds to 0. The
  * state therefore carries `nn` = the signed count of non-null values,
  * and every sum mapping emits NULL when the (re-aggregated) nn is 0 —
  * exactly sum's empty-input rule.
  *
  * Scope remains fail-safe: any shape outside the above (a predicate
  * touching non-key columns, other aggregates, a group key not a
  * function of the view key) leaves the plan untouched — a rewrite that fires wrongly
  * is a correctness bug, one that fails to fire is only a missed
  * optimization. Views are registered per SparkSession:
  * [[MvCatalog.register]] installs the rule in that session's
  * `experimental.extraOptimizations`, and the rule reads that session's
  * views only, so a session that registered nothing has no rule.
  */
object MvCatalog {
  /** A maintained view the rewrite rule can serve aggregates from. */
  sealed trait MvView

  /** One maintained view: `factPaths` = the EXACT unit paths of the
    * fact snapshot the state reflects; `groupKeySql`/`valueSql` parse
    * against that scan's columns; `statePath` holds (g, n, nn, total)
    * parquet where g is the key, n the signed live row count, nn the
    * signed non-null value count, total the value sum.
    */
  final case class MvDef(factPaths: Set[String], groupKeySql: String,
      valueSql: String, statePath: String) extends MvView

  /** A maintained JOIN view (round 15 — VERDICT r14 #2): the state
    * reflects `fact ⋈ dim ON factKeySql = dimKeySql` at EXACTLY
    * (factPaths, dimPaths) — the two-table freshness guard —
    * grouped by `groupKeySql` (resolves against the DIM scan) over
    * `valueSql` (resolves against the FACT scan). State schema is the
    * same (g, n, nn, total) the single-table views use, maintained by
    * the dml_cdc_join_view signed-delta fold.
    */
  final case class MvJoinDef(factPaths: Set[String], dimPaths: Set[String],
      factKeySql: String, dimKeySql: String, groupKeySql: String,
      valueSql: String, statePath: String) extends MvView

  /** A STALE-TOLERANT view (round 15, second wave): the state was
    * folded through `stateVersion` of the commit-log table at
    * `tableRoot`, and a query scanning ANY later version `v` rewrites
    * to the state COMPENSATED with the signed deltas of the tail
    * feed (changes stateVersion+1 .. v) — O(state + tail changes)
    * instead of O(fact), without requiring the maintenance job to
    * have caught up. The 100 TB shape: the state covers the
    * historical bulk; a query after an un-refreshed ingest reads only
    * the new units' change feed. Long tails should still refresh
    * (the compensation plan grows one branch per tail version).
    */
  final case class MvStaleDef(tableRoot: String, stateVersion: Long,
      groupKeySql: String, valueSql: String, statePath: String) extends MvView

  /** The stale-tolerant JOIN view (round 15, second wave — the fourth
    * cell of the {single,join} × {fresh,stale} rewrite matrix): the
    * state was folded through the cut (factStateVersion,
    * dimStateVersion), and `tail` DECLARES the maintenance schedule's
    * remaining steps — (isFactStep, changedVersion, otherSideVersion)
    * in fold order, exactly the interleaving the registrar's
    * maintenance job would apply. A query scanning the cut reached by
    * the tail rewrites to the state compensated step-by-step with the
    * same signed delta ⋈ other-snapshot algebra the fold uses. The
    * schedule MAY be registration-declared (the registrar's contract,
    * honored verbatim when present); round 17 (VERDICT r16 #5) also
    * accepts `tail = Nil` with a newer scanned pair, INFERRING the
    * canonical fact-steps-then-dim-steps staircase from the two logs
    * — sound because the signed-multiset join is bilinear and the
    * fold additive, so every monotone staircase's deltas telescope to
    * the same frame (see tryRewriteJoinStale); version CONTINUITY is
    * still verified per step, never guessed. Each SQL is evaluated on
    * its own side before the compensation join (round 16), so fact
    * and dim may freely share column names beyond the keys.
    */
  final case class MvJoinStaleDef(factRoot: String, dimRoot: String,
      factStateVersion: Long, dimStateVersion: Long,
      tail: Seq[(Boolean, Long, Long)],
      factKeySql: String, dimKeySql: String, groupKeySql: String,
      valueSql: String, statePath: String) extends MvView

  /** Register `view` under `name` in `s`'s catalog (replacing a view
    * of that name) and install the rewrite rule in `s`.
    */
  def register(s: SparkSession, name: String, view: MvView): Unit = {
    val st = graft.PerSession(s)
    st.views.put(name, view)
    st.synchronized {
      if (!s.experimental.extraOptimizations.contains(st.mvRule))
        s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ st.mvRule
    }
  }

  def drop(s: SparkSession, name: String): Unit = graft.PerSession(s).views.remove(name)

  /** The unit paths of commit-log `table` at `version`, absolute and
    * normalized: the set a fresh view's `factPaths` must equal.
    */
  def snapshotPaths(table: String, version: Long): Set[String] =
    graft.sources.CommitLog.units(table, version)
      .map(u => java.nio.file.Paths.get(u).toAbsolutePath.normalize.toString).toSet
}

/** The signed-delta algebra of a maintained (g, n, nn, total) view
  * state — one copy shared by the rewrite's compensations and the
  * fixture folds that build the states (LakehouseQueries,
  * StreamQueries), so nn/decimal/NULL handling cannot drift between
  * them. A state is additive: the state after versions 0..v is the
  * [[deltaAgg]] of the UNION of those versions' signed feeds, and a
  * state plus later deltas is their [[refold]] — a union and one
  * groupBy, where an empty feed is a free empty union branch.
  */
private[graft] object MvFold {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.{functions => F}

  private val dec382 = org.apache.spark.sql.types.DecimalType(38, 2)

  /** The version's change feed with the signed multiplicity column. */
  def signedChanges(spark: SparkSession, root: String, v: Long): DataFrame =
    graft.sources.CommitLog.changes(spark, root, v)
      .withColumn("__sgn",
        F.when(F.col("_change_type") === "insert", F.lit(1L))
          .otherwise(F.lit(-1L)))
      .drop("_change_type")

  /** A signed frame projected to (__g, __val, __sgn) — the input of
    * [[deltaAgg]]; project each feed before a union, so feeds whose
    * other columns differ still union by position.
    */
  def signedProj(df: DataFrame, groupKeySql: String, valueSql: String)
      : DataFrame =
    df.select(F.expr(groupKeySql).as("__g"), F.expr(valueSql).as("__val"),
      F.col("__sgn"))

  /** One additive (g, n, nn, total) delta from a (__g, __val, __sgn)
    * frame; `minMax` adds (mn, mx), exact only over an insert-only
    * frame.
    */
  def deltaAgg(df: DataFrame, minMax: Boolean = false): DataFrame = {
    val zero = F.lit(java.math.BigDecimal.ZERO).cast(dec382)
    val sums = Seq(F.sum(F.col("__sgn")).as("n"),
      F.sum(F.when(F.col("__val").isNotNull, F.col("__sgn"))
        .otherwise(F.lit(0L))).as("nn"),
      F.coalesce(F.sum((F.col("__val") * F.col("__sgn")).cast(dec382)),
        zero).cast(dec382).as("total"))
    val extremes =
      if (minMax) Seq(F.min(F.col("__val")).as("mn"), F.max(F.col("__val")).as("mx"))
      else Nil
    val aggs = sums ++ extremes
    df.groupBy(F.col("__g").as("g")).agg(aggs.head, aggs.tail: _*)
  }

  /** The persisted state normalized to the fold schema. */
  def stateSelect(spark: SparkSession, statePath: String): DataFrame =
    Parquet.read(spark, statePath).select(F.col("g"), F.col("n"),
      F.col("nn"), F.col("total").cast(dec382).as("total"))

  /** States ⊎ additive deltas → one union + one groupBy re-fold — NOT
    * a chain of full_outer merges, which (a) never match NULL group
    * keys (a NULL-g state row and a NULL-g delta would emerge as two
    * output rows where the direct aggregate has one — groupBy treats
    * NULL as an ordinary group) and (b) would need a per-step
    * emptiness probe; an empty delta is a free empty union branch
    * here, no extra Spark job.
    */
  def refold(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_ unionAll _).groupBy("g").agg(
      F.sum(F.col("n")).as("n"),
      F.sum(F.col("nn")).as("nn"),
      F.sum(F.col("total")).cast(dec382).as("total"))

  /** The signed (g, n, nn, total) delta of one join-view maintenance
    * step (isFactStep, changedVersion, otherSideVersion): the changed
    * side's feed joined to the other side's snapshot at its version.
    * Each side's registered expressions are evaluated BEFORE the join
    * and everything else projected away: the group key is a dim-side
    * expression and the value a fact-side one, so a column name shared
    * by fact and dim never reaches the join. No broadcast hint: the
    * rewrite runs after EliminateResolvedHint, and the delta side is
    * O(changes), so size-based join selection broadcasts it unhinted.
    */
  def joinDelta(spark: SparkSession, d: MvCatalog.MvJoinStaleDef,
      step: (Boolean, Long, Long)): DataFrame = {
    val (isFact, chV, otherV) = step
    val (chRoot, otherRoot, chKey, otherKey) =
      if (isFact) (d.factRoot, d.dimRoot, d.factKeySql, d.dimKeySql)
      else (d.dimRoot, d.factRoot, d.dimKeySql, d.factKeySql)
    val ch = signedChanges(spark, chRoot, chV)
    val other = graft.sources.CommitLog.snapshot(spark, otherRoot, otherV)
    val (chProj, otherProj) =
      if (isFact)
        (ch.select(F.expr(chKey).as("__ck"),
          F.expr(d.valueSql).as("__val"), F.col("__sgn")),
          other.select(F.expr(otherKey).as("__ok"),
            F.expr(d.groupKeySql).as("__g")))
      else
        (ch.select(F.expr(chKey).as("__ck"),
          F.expr(d.groupKeySql).as("__g"), F.col("__sgn")),
          other.select(F.expr(otherKey).as("__ok"),
            F.expr(d.valueSql).as("__val")))
    deltaAgg(otherProj.join(chProj, F.col("__ok") === F.col("__ck")))
  }
}

/** The rewrite rule over one session's registered views;
  * [[MvCatalog.register]] installs it.
  */
final class MvRewrite private[graft] (registered: java.util.Map[String, MvCatalog.MvView])
    extends Rule[LogicalPlan] {
  import MvFold._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    import scala.jdk.CollectionConverters._
    val views = registered.values.asScala.toSeq
    val defs = views.collect { case d: MvCatalog.MvDef => d }
    val joinDefs = views.collect { case d: MvCatalog.MvJoinDef => d }
    val staleDefs = views.collect { case d: MvCatalog.MvStaleDef => d }
    val joinStaleDefs = views.collect { case d: MvCatalog.MvJoinStaleDef => d }
    if (views.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        // fresh exact-snapshot views first (cheapest plan), then the
        // join twin, then stale-state + tail compensation (single,
        // then join)
        defs.view.flatMap(tryRewrite(agg, _)).headOption
          .orElse(joinDefs.view.flatMap(tryRewriteJoin(agg, _)).headOption)
          .orElse(tryRewriteUnion(agg, defs))
          .orElse(staleDefs.view.flatMap(tryRewriteStale(agg, _)).headOption)
          .orElse(joinStaleDefs.view
            .flatMap(tryRewriteJoinStale(agg, _)).headOption)
          .getOrElse(agg)
    }
  }

  /** The scan beneath an Aggregate plus the Project aliases on the
    * way down — by rewrite time the optimizer has pulled complex
    * grouping expressions into a child Project
    * (PullOutGroupingExpressions), so the Aggregate groups by a
    * `_groupingexpression` attribute whose definition lives one node
    * below; the alias map lets the matcher compare DEFINITIONS, not
    * surface attributes. Filters on the way down are COLLECTED
    * (alias-inlined) rather than rejected: a deterministic predicate
    * that is a function of the view key selects WHOLE groups, so it
    * subsumes as a filter over the state (round 14); any predicate
    * that fails that test declines later — fail-safe unchanged.
    */
  private def scanWithAliases(plan: LogicalPlan)
      : Option[(LogicalRelation, Map[Long, Expression], Seq[Expression])] =
    plan match {
      case r: LogicalRelation => Some((r, Map.empty, Nil))
      case Project(projectList, child) =>
        scanWithAliases(child).map { case (r, inner, preds) =>
          val here = projectList.collect {
            case a: Alias => a.exprId.id -> inlineWith(a.child, inner)
          }.toMap
          (r, inner ++ here, preds)
        }
      case Filter(cond, child) =>
        scanWithAliases(child).map { case (r, inner, preds) =>
          (r, inner, preds ++ conjuncts(inlineWith(cond, inner)))
        }
      case _ => None
    }

  /** Split a predicate into its top-level conjuncts — the optimizer
    * merges stacked Filters (and InferFiltersFromConstraints plants
    * isnotnull conjuncts) into one And tree; subsumption must judge
    * each conjunct on its own.
    */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  private def inlineWith(e: Expression,
      m: Map[Long, Expression]): Expression =
    if (m.isEmpty) e
    else e.transformUp {
      case a: AttributeReference if m.contains(a.exprId.id) => m(a.exprId.id)
    }

  private def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case other => other
  }

  private def tryRewrite(agg: Aggregate, d: MvCatalog.MvDef)
      : Option[LogicalPlan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    for {
      relAliases <- scanWithAliases(agg.child)
      (rel, aliasMap, preds) = relAliases
      fsRel <- rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      // freshness: the scan must read exactly the registered snapshot
      scanPaths = fsRel.location.rootPaths.map(_.toUri.getPath).toSet
      if scanPaths == d.factPaths
      if agg.groupingExpressions.nonEmpty
      groupExprs = agg.groupingExpressions.map(g =>
        inlineWith(stripAlias(g), aliasMap))
      keyExpr <- resolveAgainst(spark, d.groupKeySql, rel)
      valExpr <- resolveAgainst(spark, d.valueSql, rel)
      rewritten <- buildFromState(spark, agg, d.statePath, groupExprs,
        keyExpr, valExpr, aliasMap, preds)
    } yield rewritten
  }

  /** The two scans beneath an Aggregate-over-Join plus the collected
    * Project aliases and Filter predicates on EVERY path (above the
    * join and below it on either side — predicate pushdown moves a
    * group-key filter below the join before this rule runs), and the
    * alias-inlined join condition. Only a single INNER join with a
    * condition matches; anything else declines.
    */
  private def joinScanWithAliases(plan: LogicalPlan)
      : Option[(LogicalRelation, LogicalRelation, Map[Long, Expression],
        Seq[Expression], Expression)] =
    plan match {
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        for {
          l <- scanWithAliases(j.left)
          r <- scanWithAliases(j.right)
        } yield {
          val m = l._2 ++ r._2
          (l._1, r._1, m, l._3 ++ r._3, inlineWith(j.condition.get, m))
        }
      case Project(projectList, child) =>
        joinScanWithAliases(child).map { case (a, b, inner, preds, cond) =>
          val here = projectList.collect {
            case al: Alias => al.exprId.id -> inlineWith(al.child, inner)
          }.toMap
          (a, b, inner ++ here, preds, cond)
        }
      case Filter(c, child) =>
        joinScanWithAliases(child).map { case (a, b, inner, preds, cond) =>
          (a, b, inner, preds ++ conjuncts(inlineWith(c, inner)), cond)
        }
      case _ => None
    }

  /** JOIN-VIEW REWRITE (round 15 — VERDICT r14 #2): an aggregate over
    * `fact ⋈ dim` whose state `dml_cdc_join_view` maintains reads the
    * O(groups) state instead of either table. Guards, in order:
    * freshness = BOTH scans' path sets equal the registered snapshots
    * (either join order); the join condition is exactly the registered
    * key equality; IsNotNull filters on either join key are dropped as
    * join-implied (the inner join the state was folded from never saw
    * a null-key row — InferFiltersFromConstraints plants these on both
    * sides); every remaining predicate and every grouping expression
    * must be a deterministic function of the registered GROUP key,
    * exactly like the single-table path — then [[buildFromState]]
    * reuses the whole exact/rollup/avg/NULL machinery unchanged.
    */
  private def tryRewriteJoin(agg: Aggregate, d: MvCatalog.MvJoinDef)
      : Option[LogicalPlan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    for {
      scans <- joinScanWithAliases(agg.child)
      (relA, relB, aliasMap, preds, cond) = scans
      pathsA <- pathsOf(relA)
      pathsB <- pathsOf(relB)
      // freshness on BOTH tables, accepting either join order
      (factRel, dimRel) <-
        if (pathsA == d.factPaths && pathsB == d.dimPaths)
          Some((relA, relB))
        else if (pathsA == d.dimPaths && pathsB == d.factPaths)
          Some((relB, relA))
        else None
      if agg.groupingExpressions.nonEmpty
      kv <- joinKeysAndPreds(spark, cond, factRel, dimRel,
        d.factKeySql, d.dimKeySql, d.groupKeySql, d.valueSql, preds)
      (keyExpr, valExpr, remaining) = kv
      groupExprs = agg.groupingExpressions.map(g =>
        inlineWith(stripAlias(g), aliasMap))
      rewritten <- buildFromState(spark, agg, d.statePath, groupExprs,
        keyExpr, valExpr, aliasMap, remaining)
    } yield rewritten
  }

  private def pathsOf(rel: LogicalRelation): Option[Set[String]] =
    rel.relation match {
      case h: HadoopFsRelation =>
        Some(h.location.rootPaths.map(_.toUri.getPath).toSet)
      case _ => None
    }

  /** MULTI-VIEW UNION ROLLUP (round 16 — VERDICT r15 #4; predicate
    * subsumption + multi-def assignment round 17 — VERDICT r16 #4 +
    * ADVICE r16): an Aggregate over the UNION of registered snapshots
    * — the archive ∪ current-quarter shape, the most common real MV
    * miss after plain staleness — refolds the branches' states (one
    * union + one groupBy over O(groups) rows each) and serves the
    * aggregate from the refold, never scanning any branch's table.
    * Guards:
    *  - every union branch walks down (through the Projects
    *    PushProjectionThroughUnion leaves in the branches) to a scan
    *    whose path set IS some registered view's snapshot — one
    *    unregistered branch declines the whole union;
    *  - the branches bind to defs sharing ONE (groupKeySql, valueSql)
    *    text: the states must share a key domain or the refold's
    *    groupBy("g") would merge a k%10 row with a k%20 row. Round 17
    *    (ADVICE r16): when several defs cover one snapshot with
    *    DIFFERENT (key, value) pairs, the binding SEARCHES for a
    *    consistent assignment across branches instead of taking each
    *    branch's first path-match — first-match could pick def A for
    *    branch 0 and have only def B available for branch 1, declining
    *    a union a consistent assignment serves;
    *  - Filters (round 17 — VERDICT r16 #4): a predicate over the
    *    union subsumes when every branch carries the SAME predicate
    *    set expressed over its registered key — the optimizer pushes a
    *    common filter into each branch, rebinding attributes, so
    *    sameness is checked by canonicalizing each branch's predicates
    *    (key occurrences substituted with branch 0's key) and
    *    requiring cross-branch semantic equality. The predicate then
    *    filters the REFOLDED state exactly like the single-view
    *    `view_rewrite_filtered` path, because filtering each branch by
    *    a whole-group predicate and unioning equals filtering the
    *    union: the same groups survive on both sides. A genuinely
    *    branch-LOCAL predicate fails the cross-branch equality (or the
    *    key-functional check inside [[buildFromStateDf]]) and declines
    *    fail-safe — applied to the combined refold it would filter the
    *    other branches' contributions too;
    *  - each branch independently passes the full
    *    [[buildFromStateDf]] shape check (group keys functions of the
    *    view key, count/sum/avg only — the refold carries no mn/mx,
    *    so min/max declines structurally) with its own attribute
    *    mapping and its own predicate copy; the emitted plan is branch
    *    0's build over the refolded state, identical across branches
    *    by the same-SQL guard + predicate canon equality.
    * unionAll semantics make the refold exact: aggregating the
    * concatenated multisets IS summing the per-branch (n, nn, total)
    * folds per group — including the degenerate self-union (both
    * branches one table), where the refold doubles the state exactly
    * as the direct plan doubles the rows.
    */
  private def tryRewriteUnion(agg: Aggregate, defs: Seq[MvCatalog.MvDef])
      : Option[LogicalPlan] = {
    if (defs.isEmpty) return None
    val spark = org.apache.spark.sql.SparkSession.active
    // walk to the Union, collecting Project aliases exactly like
    // scanWithAliases (inner aliases first so outer definitions
    // inline fully) and any Filters still sitting ABOVE the union
    // (the optimizer normally pushes them into the branches; a
    // straggler is appended to every branch's predicate set below,
    // which is exactly what pushdown would have done)
    def toUnion(plan: LogicalPlan)
        : Option[(Union, Map[Long, Expression], Seq[Expression])] =
      plan match {
        case u: Union => Some((u, Map.empty, Nil))
        case Project(pl, child) => toUnion(child).map { case (u, inner, ps) =>
          (u, inner ++ pl.collect {
            case a: Alias => a.exprId.id -> inlineWith(a.child, inner)
          }.toMap, ps)
        }
        case Filter(cond, child) => toUnion(child).map { case (u, inner, ps) =>
          (u, inner, ps ++ conjuncts(inlineWith(cond, inner)))
        }
        case _ => None
      }
    for {
      unionAliases <- toUnion(agg.child)
      (u, outerAliases, abovePreds) = unionAliases
      if agg.groupingExpressions.nonEmpty
      branchCands <- {
        val resolved = u.children.map { br =>
          for {
            scan <- scanWithAliases(br)
            (rel, am, brPreds) = scan
            paths <- pathsOf(rel)
            cands = defs.filter(_.factPaths == paths).flatMap { d =>
              for {
                keyExpr <- resolveAgainst(spark, d.groupKeySql, rel)
                valExpr <- resolveAgainst(spark, d.valueSql, rel)
              } yield {
                // one substitution map from the aggregate's expression
                // space down to THIS branch's scan: union output attr
                // → branch output attr (Union.output reuses branch 0's
                // exprIds, so branch 0's entries are identities), with
                // every value pre-inlined to scan attributes —
                // transformUp replaces once and must land in rel space
                val subst = u.output.map(_.exprId.id)
                  .zip(br.output.map(a => inlineWith(a, am))).toMap
                val full = am ++ subst ++ outerAliases.view.mapValues(v =>
                  inlineWith(inlineWith(v, subst), am)).toMap
                val preds = brPreds ++
                  abovePreds.map(p => inlineWith(p, full))
                (d, keyExpr, valExpr, full, preds)
              }
            }
            if cands.nonEmpty
          } yield cands
        }
        if (resolved.forall(_.isDefined)) Some(resolved.map(_.get)) else None
      }
      // consistent-assignment search (ADVICE r16): try each (key,
      // value) pair branch 0 offers; the first pair every branch can
      // bind wins. Within a pair the first matching def is taken —
      // two defs with identical (paths, key, value) but different
      // states would be a registrar inconsistency no rule can judge.
      branches <- branchCands.head
        .map(c => (c._1.groupKeySql, c._1.valueSql)).distinct.view
        .flatMap { pair =>
          val picked = branchCands.map(_.find(c =>
            (c._1.groupKeySql, c._1.valueSql) == pair))
          if (picked.forall(_.isDefined)) Some(picked.map(_.get)) else None
        }.headOption
      // cross-branch predicate sameness: canonicalize each branch's
      // predicates into branch 0's key space and require pairwise
      // semantic equality (pushdown preserves conjunct order, so the
      // zip pairing is exact; any mismatch declines fail-safe). A
      // predicate not purely key-functional keeps branch-local attrs
      // after canonicalization and fails the equality here or the
      // reference check in buildFromStateDf.
      canonKey = branches.head._2
      canonPreds = branches.map { case (_, keyExpr, _, _, preds) =>
        preds.map(_.transformUp {
          case e if e.semanticEquals(keyExpr) => canonKey
        })
      }
      if canonPreds.forall(ps => ps.size == canonPreds.head.size &&
        ps.zip(canonPreds.head).forall { case (a, b) => a.semanticEquals(b) })
      effective <- (try Some(refold(branches.map(b =>
        stateSelect(spark, b._1.statePath)))) catch {
        case _: Exception => None
      })
      built = branches.map { case (_, keyExpr, valExpr, full, preds) =>
        buildFromStateDf(spark, agg, effective,
          agg.groupingExpressions.map(g =>
            inlineWith(stripAlias(g), full)),
          keyExpr, valExpr, full, preds)
      }
      if built.forall(_.isDefined)
      head <- built.head
    } yield head
  }

  /** Shared join-shape guard (review r15 — extracted so the fresh and
    * stale join paths cannot diverge): resolve the registered keys
    * against the assigned scans, require the join condition be
    * exactly their equality (either order), resolve the group key
    * (dim side) and value (fact side), and drop the inner-join-
    * implied IsNotNull predicates before subsumption.
    */
  private def joinKeysAndPreds(spark: org.apache.spark.sql.SparkSession,
      cond: Expression, factRel: LogicalRelation, dimRel: LogicalRelation,
      factKeySql: String, dimKeySql: String, groupKeySql: String,
      valueSql: String, preds: Seq[Expression])
      : Option[(Expression, Expression, Seq[Expression])] =
    for {
      factKey <- resolveAgainst(spark, factKeySql, factRel)
      dimKey <- resolveAgainst(spark, dimKeySql, dimRel)
      if (cond match {
        case EqualTo(a, b) =>
          (a.semanticEquals(factKey) && b.semanticEquals(dimKey)) ||
            (a.semanticEquals(dimKey) && b.semanticEquals(factKey))
        case _ => false
      })
      keyExpr <- resolveAgainst(spark, groupKeySql, dimRel)
      valExpr <- resolveAgainst(spark, valueSql, factRel)
    } yield {
      val remaining = preds.filterNot {
        case IsNotNull(e) =>
          e.semanticEquals(factKey) || e.semanticEquals(dimKey)
        case _ => false
      }
      (keyExpr, valExpr, remaining)
    }

  /** STALE JOIN VIEW (round 15, second wave — the fourth rewrite
    * cell): an aggregate over `fact ⋈ dim` where BOTH scans may be
    * newer than the registered state's cut. The registration declares
    * the maintenance schedule's remaining steps; the rewrite verifies
    * the declared tail walks consistently from the state cut to
    * exactly the scanned version pair, then compensates the state
    * step-by-step with the SAME signed delta ⋈ other-snapshot algebra
    * the dml_cdc_join_view fold uses (delta side broadcast). Any
    * inconsistency — tail not reaching the scanned cut, out-of-order
    * step, missing feed — declines fail-safe.
    */
  private def tryRewriteJoinStale(agg: Aggregate, d: MvCatalog.MvJoinStaleDef)
      : Option[LogicalPlan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    for {
      scans <- joinScanWithAliases(agg.child)
      (relA, relB, aliasMap, preds, cond) = scans
      pathsA <- pathsOf(relA)
      pathsB <- pathsOf(relB)
      assigned <- {
        val aAsFact =
          for (fv <- versionOf(d.factRoot, pathsA);
               dv <- versionOf(d.dimRoot, pathsB)) yield (relA, relB, fv, dv)
        val bAsFact =
          for (fv <- versionOf(d.factRoot, pathsB);
               dv <- versionOf(d.dimRoot, pathsA)) yield (relB, relA, fv, dv)
        aAsFact.orElse(bAsFact)
      }
      (factRel, dimRel, factScanV, dimScanV) = assigned
      if agg.groupingExpressions.nonEmpty
      // TAIL INFERENCE (round 17 — VERDICT r16 #5, carried from r15
      // #4): when the registration declares NO tail but the scanned
      // pair is ahead of the state cut, the tail is INFERRED as the
      // canonical staircase — every fact log version from the cut to
      // the scanned fact version (each against the dim cut), then
      // every dim version (each against the scanned fact version).
      // This is sound because the compensation is PATH-INDEPENDENT:
      // the join is bilinear over signed multisets and the (n, nn,
      // total) aggregate additive, so for any monotone staircase the
      // deltas telescope — Δfact ⋈ dim@d0 + fact@f1 ⋈ Δdim =
      // (f1−f0)⋈d0 + f1⋈(d1−d0) = f1⋈d1 − f0⋈d0 — and every valid
      // interleaving (including the registrar's real maintenance
      // schedule) sums to the same frame. The r15 rationale ("the
      // optimizer must not guess the interleaving") was therefore
      // stronger than needed: the interleaving CANNOT matter; what
      // must never be guessed is version CONTINUITY, and the
      // predecessor-verified walk below still checks that for the
      // inferred tail exactly as for a declared one (a vacuumed
      // intermediate manifest fails the predecessor probe and
      // declines). A declared tail still takes precedence — it is the
      // registrar's contract and costs nothing to honor.
      effTail <- (try {
        if (d.tail.nonEmpty ||
          (factScanV == d.factStateVersion && dimScanV == d.dimStateVersion))
          Some(d.tail)
        else {
          val factVs = graft.sources.CommitLog.versions(d.factRoot)
            .filter(v => v > d.factStateVersion && v <= factScanV)
          val dimVs = graft.sources.CommitLog.versions(d.dimRoot)
            .filter(v => v > d.dimStateVersion && v <= dimScanV)
          Some(factVs.map(v => (true, v, d.dimStateVersion)) ++
            dimVs.map(v => (false, v, factScanV)))
        }
      } catch { case _: Exception => None })
      // the (declared or inferred) tail must walk consistently from
      // the state cut to exactly the scanned version pair, stepping
      // through EVERY log version on the way. The check is
      // PREDECESSOR-based (review r15, second pass): each step's
      // changed version must have the CURRENT CUT as its log
      // predecessor — a tail that skips a version declines (its feed
      // would be silently
      // omitted), and so does a cut whose manifest has since been
      // vacuumed out of the log (changes(chV) would then diff against
      // an earlier survivor and double-apply deltas the state already
      // folded).
      if (try {
        val factVs = graft.sources.CommitLog.versions(d.factRoot)
        val dimVs = graft.sources.CommitLog.versions(d.dimRoot)
        var cf = d.factStateVersion
        var cd = d.dimStateVersion
        var ok = true
        effTail.foreach { case (isFact, chV, otherV) =>
          if (isFact) {
            ok &&= otherV == cd &&
              factVs.filter(_ < chV).lastOption.contains(cf)
            cf = chV
          } else {
            ok &&= otherV == cf &&
              dimVs.filter(_ < chV).lastOption.contains(cd)
            cd = chV
          }
        }
        ok && cf == factScanV && cd == dimScanV
      } catch { case _: Exception => false })
      kv <- joinKeysAndPreds(spark, cond, factRel, dimRel,
        d.factKeySql, d.dimKeySql, d.groupKeySql, d.valueSql, preds)
      (keyExpr, valExpr, remaining) = kv
      groupExprs = agg.groupingExpressions.map(g =>
        inlineWith(stripAlias(g), aliasMap))
      effective <- compensatedJoinState(spark, d.copy(tail = effTail))
      rewritten <- buildFromStateDf(spark, agg, effective, groupExprs,
        keyExpr, valExpr, aliasMap, remaining)
    } yield rewritten
  }

  /** The registered join-view state folded forward through the
    * declared tail steps — the dml_cdc_join_view algebra (signed
    * delta against the other side's snapshot at its declared
    * version), as an in-memory DataFrame.
    */
  private def compensatedJoinState(spark: org.apache.spark.sql.SparkSession,
      d: MvCatalog.MvJoinStaleDef)
      : Option[org.apache.spark.sql.DataFrame] =
    try Some(refold(stateSelect(spark, d.statePath) +:
      d.tail.map(joinDelta(spark, d, _))))
    catch { case _: Exception => None }

  /** STALE-STATE + TAIL COMPENSATION (round 15, second wave): the
    * scan's snapshot may be NEWER than the registered state — resolve
    * which version the scan reads (unit-set equality against the
    * commit log), and if it is ≥ the state's version, rewrite to the
    * state COMPENSATED with the tail versions' signed change-feed
    * deltas, folded into an effective (g, n, nn, total) frame that
    * the shared exact/rollup/avg machinery consumes unchanged. The
    * plan reads O(state) + O(tail changes) — at 100 TB that is the
    * historical bulk via 10-row state plus only the un-refreshed
    * ingest's feed, never the fact. min/max never compensate (no
    * mn/mx in the folded frame → a min/max query declines fail-safe).
    */
  private def tryRewriteStale(agg: Aggregate, d: MvCatalog.MvStaleDef)
      : Option[LogicalPlan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    for {
      relAliases <- scanWithAliases(agg.child)
      (rel, aliasMap, preds) = relAliases
      fsRel <- rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      scanPaths = fsRel.location.rootPaths.map(_.toUri.getPath).toSet
      scanV <- versionOf(d.tableRoot, scanPaths)
      if scanV >= d.stateVersion
      if agg.groupingExpressions.nonEmpty
      groupExprs = agg.groupingExpressions.map(g =>
        inlineWith(stripAlias(g), aliasMap))
      keyExpr <- resolveAgainst(spark, d.groupKeySql, rel)
      valExpr <- resolveAgainst(spark, d.valueSql, rel)
      effective <- compensatedState(spark, d, scanV)
      rewritten <- buildFromStateDf(spark, agg, effective, groupExprs,
        keyExpr, valExpr, aliasMap, preds)
    } yield rewritten
  }

  /** Which version's snapshot a unit-path set reads, if any. The
    * cheap prefix test runs first (review r15): once any stale def is
    * registered this is probed for every Aggregate in every query, and
    * scans of unrelated tables must not pay the manifest enumeration.
    */
  private def versionOf(root: String,
      scanPaths: Set[String]): Option[Long] =
    try {
      val rootAbs = java.nio.file.Paths.get(root)
        .toAbsolutePath.normalize.toString
      if (scanPaths.isEmpty ||
        !scanPaths.forall(_.startsWith(rootAbs + "/"))) None
      else graft.sources.CommitLog.versions(root)
        .find(MvCatalog.snapshotPaths(root, _) == scanPaths)
    } catch { case _: Exception => None }

  /** The registered state unioned with the tail versions' signed
    * change-feed deltas, re-folded to one (g, n, nn, total) frame.
    * Any failure (missing feed, unresolvable key over the feed)
    * declines the rewrite rather than risking a wrong compensation.
    */
  private def compensatedState(spark: org.apache.spark.sql.SparkSession,
      d: MvCatalog.MvStaleDef, scanV: Long)
      : Option[org.apache.spark.sql.DataFrame] =
    try {
      val st = stateSelect(spark, d.statePath)
      val vs = graft.sources.CommitLog.versions(d.tableRoot)
      val tail = vs.filter(v => v > d.stateVersion && v <= scanV)
      if (tail.isEmpty) Some(st)
      // the cut must still be the first tail version's LOG PREDECESSOR
      // (review r15, second pass): if the cut's manifest was vacuumed,
      // changes(tail.head) diffs against an earlier survivor and
      // double-applies deltas the state already folded — decline
      else if (!vs.filter(_ < tail.head).lastOption.contains(d.stateVersion))
        None
      else Some(refold(st +: tail.map(v =>
        deltaAgg(signedProj(signedChanges(spark, d.tableRoot, v),
          d.groupKeySql, d.valueSql)))))
    } catch { case _: Exception => None }

  /** Build the state-backed replacement plan, or None if the shape is
    * not subsumed. Exact match (group key ≡ view key) projects the
    * state; a group key that is an expression OVER the view key
    * re-aggregates it.
    */
  private def buildFromState(spark: org.apache.spark.sql.SparkSession,
      agg: Aggregate, statePath: String, groupExprs: Seq[Expression],
      keyExpr: Expression, valExpr: Expression,
      aliasMap: Map[Long, Expression],
      preds: Seq[Expression]): Option[LogicalPlan] =
    buildFromStateDf(spark, agg, Parquet.read(spark, statePath), groupExprs,
      keyExpr, valExpr, aliasMap, preds)

  private def buildFromStateDf(spark: org.apache.spark.sql.SparkSession,
      agg: Aggregate, state: org.apache.spark.sql.DataFrame,
      groupExprs: Seq[Expression],
      keyExpr: Expression, valExpr: Expression,
      aliasMap: Map[Long, Expression],
      preds: Seq[Expression]): Option[LogicalPlan] = {
    // groups whose rows have all been deleted net to n = 0 in the
    // fold — a direct aggregate has no such group
    val stateDf = state
      .filter(org.apache.spark.sql.functions.col("n") =!= 0L)
    val basePlan =
      org.apache.spark.sql.graft.GraftSqlInternals.analyzed(stateDf)
    val stateAttr = basePlan.output.map(a => a.name -> a).toMap
    if (!Set("g", "n", "nn", "total").subsetOf(stateAttr.keySet)) return None
    // min/max (round 15 — VERDICT r14 #4): NOT self-maintainable under
    // deletes (retracting the max needs a rescan), so only a state
    // maintained from an APPEND-ONLY feed carries mn/mx columns — the
    // fold refuses to produce them otherwise. A min/max query over a
    // state WITHOUT them declines here (fail-safe: the direct
    // aggregate runs); over a state WITH them it projects (exact) or
    // re-aggregates (rollup — min/max are distributive, so
    // rollup-from-state is exact, and both ignore nulls natively:
    // an all-null group's stored mn/mx are already NULL).
    val hasMinMax = Set("mn", "mx").subsetOf(stateAttr.keySet)
    val gAttr = stateAttr("g")
    val gAsKey: Expression =
      if (gAttr.dataType == keyExpr.dataType) gAttr
      else Cast(gAttr, keyExpr.dataType)

    // PREDICATE SUBSUMPTION (round 14): a deterministic filter that is
    // a function of the view key selects whole groups — substitute the
    // key subtree with the state key and require nothing else of the
    // scan to remain; the rewritten filter runs over O(groups) state
    // rows. Any other predicate (e.g. on the value column — a
    // row-level filter INSIDE groups) declines the whole rewrite.
    val predsOverState = preds.map { p =>
      val sub = p.transformUp {
        case e if e.semanticEquals(keyExpr) => gAsKey
      }
      (p, sub)
    }
    val subsumed = predsOverState.forall { case (p, sub) =>
      p.deterministic && sub.references.subsetOf(AttributeSet(Seq(gAttr)))
    }
    if (!subsumed) return None
    val statePlan = predsOverState.foldLeft(basePlan)(
      (pl, ps) => Filter(ps._2, pl))

    // avg(value) = total / nn (avg IGNORES nulls, so the divisor is
    // the non-null count, never n) — supported for DECIMAL values
    // only: the state total is an exact decimal fold, and the
    // division below reproduces the DIRECT query's arithmetic by
    // first casting total down to Average's own sum type (p+10, s) so
    // both sides round the same rational at the same scales. A double
    // value column would compare a shuffle-order-dependent direct sum
    // against the fold — declined.
    val avgSumType = valExpr.dataType match {
      case dt: org.apache.spark.sql.types.DecimalType =>
        Some(org.apache.spark.sql.types.DecimalType(
          math.min(38, dt.precision + 10), dt.scale))
      case _ => None
    }
    def avgOf(totalE: Expression, nnE: Expression): Option[Expression] =
      avgSumType.map { st =>
        val div = Divide(Cast(totalE, st),
          Cast(nnE, org.apache.spark.sql.types.DecimalType(20, 0)))
        If(EqualTo(nnE, Literal(0L)), Literal(null, div.dataType), div)
      }

    if (groupExprs.size == 1 && groupExprs.head.semanticEquals(keyExpr)) {
      // EXACT: one state row per output row — project, no re-agg.
      // sum maps to total guarded by nn = 0 → NULL (all-NULL group).
      val sumGuarded: Expression = If(
        EqualTo(stateAttr("nn"), Literal(0L)),
        Literal(null, stateAttr("total").dataType), stateAttr("total"))
      mapOutputs(agg.aggregateExpressions,
        onGroups = Seq(groupExprs.head -> gAsKey), valExpr, aliasMap,
        onCount = stateAttr("n"), onSum = sumGuarded,
        onAvg = avgOf(stateAttr("total"), stateAttr("nn")),
        onMin = if (hasMinMax) Some(stateAttr("mn")) else None,
        onMax = if (hasMinMax) Some(stateAttr("mx")) else None)
        .map(Project(_, statePlan))
    } else {
      // ROLLUP (round 14; multi-key round-14 second wave): substitute
      // every key-subtree occurrence in EVERY grouping expression with
      // the state key; subsumed iff each result depends on NOTHING
      // else of the scan (every query key is a function of the view
      // key — grouping the state re-partitions whole groups, so the
      // re-aggregation is exact), and at least one substitution
      // happened (an all-constant key set over the raw scan is not a
      // state query). count(*) → sum(n); sum(v) → sum(total) with the
      // re-aggregated nn deciding the all-NULL → NULL case;
      // avg(v) → sum(total) / sum(nn).
      val rolledPairs = groupExprs.map { ge =>
        ge -> ge.transformUp {
          case e if e.semanticEquals(keyExpr) => gAsKey
        }
      }
      // Determinism gate (ADVICE r14): a nondeterministic grouping
      // expression (GROUP BY k%10, rand()) references nothing of the
      // scan, so it passes the containment check below — but grouping
      // the tiny state by a fresh rand() draw is NOT grouping every
      // fact row by one. Whole-group selection semantics only hold for
      // deterministic functions of the view key.
      val selfContained = rolledPairs.forall {
        case (ge, r) => ge.deterministic &&
          r.references.subsetOf(AttributeSet(Seq(gAttr)))
      }
      val substituted = rolledPairs.exists {
        case (ge, r) => !r.semanticEquals(ge)
      }
      if (!selfContained || !substituted) None
      else {
        def sumOf(e: Expression): Expression =
          AggregateExpression(Sum(e), org.apache.spark.sql.catalyst
            .expressions.aggregate.Complete, isDistinct = false)
        val countFromState: Expression = sumOf(stateAttr("n"))
        val sumFromState: Expression = If(
          EqualTo(sumOf(stateAttr("nn")), Literal(0L)),
          Literal(null, stateAttr("total").dataType),
          sumOf(stateAttr("total")))
        def minMaxOf(fn: Expression => org.apache.spark.sql.catalyst
            .expressions.aggregate.DeclarativeAggregate,
            c: String): Option[Expression] =
          if (!hasMinMax) None
          else Some(AggregateExpression(fn(stateAttr(c)),
            org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
            isDistinct = false))
        mapOutputs(agg.aggregateExpressions, onGroups = rolledPairs,
          valExpr, aliasMap,
          onCount = countFromState, onSum = sumFromState,
          onAvg = avgOf(sumOf(stateAttr("total")), sumOf(stateAttr("nn"))),
          onMin = minMaxOf(Min(_), "mn"), onMax = minMaxOf(Max(_), "mx"))
          .map(outs => Aggregate(rolledPairs.map(_._2), outs, statePlan))
      }
    }
  }

  /** Parse `sql`, resolve it against the scan via the session's
    * analyzer (so type coercion matches what the query's own analysis
    * produced — e.g. `k % 10` becomes `k % CAST(10 AS BIGINT)`), then
    * fold constant subtrees (the query side arrives constant-folded by
    * the optimizer, so both sides must be). The result carries the
    * scan's attribute ids, making semanticEquals exact.
    */
  private def resolveAgainst(spark: org.apache.spark.sql.SparkSession,
      sql: String, rel: LogicalRelation): Option[Expression] =
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val analyzed = spark.sessionState.analyzer.execute(
        Project(Seq(Alias(parsed, "__mv_expr")()), rel))
      analyzed match {
        case Project(Seq(a: Alias), _) => Some(foldLiterals(a.child))
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Evaluate foldable non-literal subtrees to literals — the piece of
    * ConstantFolding these comparisons need, applied locally so both
    * comparison sides share normal form.
    */
  private def foldLiterals(e: Expression): Expression = e.transformUp {
    case sub if sub.foldable &&
        !sub.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(sub.eval(null), sub.dataType)
  }

  /** Each aggregate output must be the group key, count(*) or
    * sum(value) — returns the output list with each mapped onto the
    * caller-provided state-side expression (exact: a state column;
    * rollup: a re-aggregation), cast to the output's exact dataType
    * and keeping its exprId so parents never see the substitution.
    * Comparison happens after child-Project alias inlining, so the
    * pulled-out `_groupingexpression` attribute and the raw expression
    * match the same way.
    */
  private def mapOutputs(outs: Seq[NamedExpression],
      onGroups: Seq[(Expression, Expression)],
      valExpr: Expression, aliasMap: Map[Long, Expression],
      onCount: Expression, onSum: Expression,
      onAvg: Option[Expression],
      onMin: Option[Expression] = None,
      onMax: Option[Expression] = None)
      : Option[Seq[NamedExpression]] = {
    val mapped = outs.map { ne =>
      // outer casts collapse into the Aggregate (CollapseProject) —
      // strip them for matching; the rewrite re-casts the state column
      // to the output's exact dataType, so values are unchanged
      stripCasts(inlineWith(stripAlias(ne), aliasMap)) match {
        case e if onGroups.exists(g => e.semanticEquals(g._1)) =>
          onGroups.find(g => e.semanticEquals(g._1)).map(_._2)
        case AggregateExpression(Count(Seq(lit)), _, false, None, _)
            if lit.foldable => Some(onCount)
        case AggregateExpression(Sum(e, _), _, false, None, _)
            if e.semanticEquals(valExpr) => Some(onSum)
        case AggregateExpression(
            org.apache.spark.sql.catalyst.expressions.aggregate
              .Average(e, _), _, false, None, _)
            if e.semanticEquals(valExpr) => onAvg
        case AggregateExpression(Min(e), _, false, None, _)
            if e.semanticEquals(valExpr) => onMin
        case AggregateExpression(Max(e), _, false, None, _)
            if e.semanticEquals(valExpr) => onMax
        case _ => None
      }
    }
    if (!mapped.forall(_.isDefined)) None
    else Some(outs.zip(mapped.map(_.get)).map { case (ne, stateSide) =>
      val typed: Expression =
        if (stateSide.dataType == ne.dataType) stateSide
        else Cast(stateSide, ne.dataType)
      val guarded =
        if (!ne.nullable && typed.nullable) KnownNotNull(typed) else typed
      Alias(guarded, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
    })
  }

  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case other => other
  }
}
