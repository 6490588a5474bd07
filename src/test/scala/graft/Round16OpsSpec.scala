package graft

import org.apache.spark.sql.functions._

/** Round-16 pins: the representative collapse in front of the
  * near-dup tiers (VERDICT r15 #1) is EXACTLY loss-free — the
  * collapsed-then-expanded pair set / clustering equals the direct
  * formulation's on a replica-heavy corpus — and its NULL-text and
  * id-interleaving edge cases hold.
  */
class Round16OpsSpec extends GraftSpec {

  // Replica-heavy corpus with every case the expansion must get
  // right: group A replicated under INTERLEAVED ids (1, 9, 50 — a
  // cross pair's ordered ids are NOT rep-ordered), group B (10, 11)
  // near-dup to A (one word differs → high shingle overlap), group C
  // a distinct singleton, group D two replicas of an unrelated text,
  // plus two NULL-text docs (must stay singletons, never one group).
  private lazy val corpus = {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    val dTx = "completely unrelated body of text about winter mountain weather"
    Seq(
      (1L, a), (9L, a), (50L, a),
      (10L, b), (11L, b),
      (20L, "nothing in common with anything else whatsoever here at all"),
      (30L, dTx), (31L, dTx),
      (40L, null.asInstanceOf[String]), (41L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("collapseReplicas: membership maps every doc to its group-min; NULL texts stay singletons") {
    val (reps, members) = graft.api.GraftOps.collapseReplicas(corpus, "doc_id", "text")
    val m = members.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 9L -> 1L, 50L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 30L -> 30L, 31L -> 30L, 40L -> 40L, 41L -> 41L), m.toString)
    val repIds = reps.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(repIds == Set(1L, 10L, 20L, 30L, 40L, 41L), repIds.toString)
  }

  test("expandRepPairs == direct minHashNearDupPairs (LSH tier is text-pure)") {
    val direct = pairSet(graft.api.GraftOps.minHashNearDupPairs(
      corpus, "doc_id", "text", maxJaccardDist = 0.5))
    val (reps, members) = graft.api.GraftOps.collapseReplicas(corpus, "doc_id", "text")
    val expanded = pairSet(graft.api.GraftOps.expandRepPairs(
      graft.api.GraftOps.minHashNearDupPairs(reps, "doc_id", "text",
        maxJaccardDist = 0.5),
      members, "doc_id"))
    assert(direct == expanded,
      s"only-direct=${(direct -- expanded).take(5)} only-expanded=${(expanded -- direct).take(5)}")
    // the corpus plants both expansion legs: within-group (1,9) and a
    // cross pair whose ordering interleaves the groups (9,10 & 10,50)
    assert(expanded.contains((1L, 9L)) && expanded.contains((9L, 10L))
      && expanded.contains((10L, 50L)), expanded.toString)
  }

  test("expandRepPairs == direct simhashPairs, hamming carried exactly") {
    graft.functions.GraftFunctions.register(spark)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val direct = asMap(graft.api.GraftOps.simhashPairs(corpus, "doc_id", "text"))
    val (reps, members) = graft.api.GraftOps.collapseReplicas(corpus, "doc_id", "text")
    val expanded = asMap(graft.api.GraftOps.expandRepPairs(
      graft.api.GraftOps.simhashPairs(reps, "doc_id", "text"),
      members, "doc_id", passCols = Seq("hamming"),
      withinExtras = Seq(lit(0).cast("int").as("hamming"))))
    assert(direct == expanded,
      s"only-direct=${(direct.toSet -- expanded.toSet).take(5)} " +
        s"only-expanded=${(expanded.toSet -- direct.toSet).take(5)}")
    assert(expanded((1L, 9L)) == 0)
  }

  test("collapsed dedup_cluster == direct connectedComponents clustering") {
    val direct = graft.api.GraftOps.connectedComponents(corpus, "doc_id",
        graft.api.GraftOps.ngramJaccardPairs(corpus, "doc_id", "text",
          minJaccard = 0.8), "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (reps, members) = graft.api.GraftOps.collapseReplicas(corpus, "doc_id", "text")
    val viaReps = members.join(
        graft.api.GraftOps.connectedComponents(reps, "doc_id",
          graft.api.GraftOps.ngramJaccardPairs(reps, "doc_id", "text",
            minJaccard = 0.8), "a_id", "b_id")
          .withColumnRenamed("id", "__rep"), "__rep")
      .select("doc_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct == viaReps, s"direct=$direct viaReps=$viaReps")
    // NULL-text docs: the TIER itself renders NULL as '' (concat_ws
    // skips nulls → block '' and shingles ['']) and therefore pairs
    // them — in BOTH formulations. The collapse must not pre-merge
    // them (only byte-identical texts are provably interchangeable);
    // it keeps each NULL doc a singleton rep and the rep-level tier
    // reproduces the merge, which is exactly what the equality above
    // pins. The cluster label is the min NULL doc id.
    assert(viaReps(40L) == 40L && viaReps(41L) == 40L, viaReps.toString)
    // replica group A and near-dup group B share one component
    // labeled by the global min id
    assert(Seq(1L, 9L, 50L, 10L, 11L).forall(viaReps(_) == 1L), viaReps.toString)
  }

  test("collapsedPairs routes both ways and equals the direct tier either way") {
    def direct(df: org.apache.spark.sql.DataFrame) = pairSet(
      graft.api.GraftOps.minHashNearDupPairs(df, "doc_id", "text",
        maxJaccardDist = 0.5))
    def adaptive(df: org.apache.spark.sql.DataFrame) = pairSet(
      graft.api.GraftOps.collapsedPairs(df, "doc_id", "text")(
        graft.api.GraftOps.minHashNearDupPairs(_, "doc_id", "text",
          maxJaccardDist = 0.5)))
    // replica-bearing corpus → collapse + expansion branch
    assert(adaptive(corpus) == direct(corpus))
    // replica-free corpus (drop the copies; NULL singletons are not
    // replicas — each is its own representative) → short-circuit
    // branch, the tier runs directly on the input
    val free = corpus.filter(!col("doc_id").isin(9L, 50L, 11L, 31L))
    assert(adaptive(free) == direct(free))
  }

  test("collapsedClusters routes both ways and equals the direct clustering") {
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      graft.api.GraftOps.ngramJaccardPairs(df, "doc_id", "text",
        minJaccard = 0.8)
    def direct(df: org.apache.spark.sql.DataFrame) =
      graft.api.GraftOps.connectedComponents(df, "doc_id", pairsOf(df),
          "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def adaptive(df: org.apache.spark.sql.DataFrame) =
      graft.api.GraftOps.collapsedClusters(df, "doc_id", "text")(pairsOf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(adaptive(corpus) == direct(corpus))
    val free = corpus.filter(!col("doc_id").isin(9L, 50L, 11L, 31L))
    assert(adaptive(free) == direct(free))
  }

  // ---- MV union rollup (VERDICT r15 #4) ------------------------------

  private def unionQuery(): org.apache.spark.sql.DataFrame = {
    import graft.sources.CommitLog
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val arch = graft.queries.LakehouseQueries.archTable(spark, sf)
    CommitLog.snapshot(spark, root, CommitLog.versions(root).last)
      .select(col("k"), col("p"))
      .unionAll(CommitLog.snapshot(spark, arch, 0L).select(col("k"), col("p")))
      .groupBy((col("k") % 10).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
      .select(col("g"), col("n"), col("sum_p")
        .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("total"))
      .orderBy("g")
  }

  test("MV union rewrite: archive ∪ current aggregate reads both states, neither table") {
    val df = SparkEntry.queries("view_rewrite_union")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_aggview") && plan.contains("graft_archstate"),
      "union rewrite did not fire on both states:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc") && !plan.contains("graft_archtab"),
      "union rewrite still scans a table:\n" + plan.take(3000))
    // values equal the real direct union aggregate with both views
    // dropped (the entry would re-register, so the unrewritten twin is
    // built by hand on the same snapshots)
    graft.plans.MvCatalog.drop(spark, "orders_by_g")
    graft.plans.MvCatalog.drop(spark, "orders_arch_by_g")
    try {
      val off = unionQuery()
      val offPlan = planText(off)
      assert(!offPlan.contains("graft_aggview") &&
        !offPlan.contains("graft_archstate"))
      assert(off.collect().map(_.toSeq).toSeq ==
        df.collect().map(_.toSeq).toSeq,
        "rewritten union diverges from the direct aggregate")
    } finally SparkEntry.queries("view_rewrite_union")(spark, sf).count()
  }

  test("MV union rewrite declines when one branch is unregistered") {
    SparkEntry.queries("view_rewrite_union")(spark, sf).count()
    graft.plans.MvCatalog.drop(spark, "orders_arch_by_g")
    try {
      val plan = planText(unionQuery())
      // fail-safe: the whole union declines — the archive branch
      // scans its table and the current branch must NOT be served
      // from state either (a half-rewritten union would double-count
      // nothing but read state + table inconsistently on a later
      // registration race)
      assert(!plan.contains("graft_archstate") && !plan.contains("graft_aggview"),
        "union half-rewrote with an unregistered branch:\n" + plan.take(3000))
      assert(plan.contains("graft_archtab"),
        "archive branch not scanned directly:\n" + plan.take(3000))
    } finally SparkEntry.queries("view_rewrite_union")(spark, sf).count()
  }

  // VERDICT r15 #3: fact and dim sharing a NON-key column name must
  // pass through the stale-join compensation — each side's registered
  // expressions are now evaluated before the compensation join, so no
  // shared name can be ambiguous (the old disjoint-names registration
  // contract is gone).
  test("stale join compensation tolerates fact/dim sharing a non-key column name") {
    import spark.implicits._
    import graft.sources.CommitLog
    import org.apache.spark.sql.types.DecimalType
    val t = scratch("graft_r16_shared")
    val fact = s"$t/fact"
    val dim = s"$t/dim"
    // BOTH tables carry a column named "note" (non-key, non-value)
    Seq((1L, "10.00", "fa"), (2L, "20.00", "fb"))
      .toDF("k", "ps", "note").select(col("k"),
        col("ps").cast(DecimalType(18, 2)).as("p"), col("note"))
      .coalesce(1).write.parquet(s"$fact/u0")
    CommitLog.commit(fact, 0L, Seq("u0"))
    Seq((3L, "30.00", "fc")).toDF("k", "ps", "note").select(col("k"),
        col("ps").cast(DecimalType(18, 2)).as("p"), col("note"))
      .coalesce(1).write.parquet(s"$fact/u1")
    CommitLog.commit(fact, 1L, Seq("u0", "u1"))
    Seq((1L, 7L, "da"), (2L, 5L, "db"), (3L, 7L, "dc"))
      .toDF("k", "g", "note").coalesce(1).write.parquet(s"$dim/u0")
    CommitLog.commit(dim, 0L, Seq("u0"))
    val statePath = s"$t/state"
    CommitLog.snapshot(spark, fact, 0L).select("k", "p")
      .join(CommitLog.snapshot(spark, dim, 0L).select("k", "g"), "k")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull, lit(1L)).otherwise(lit(0L))).as("nn"),
        sum(col("p").cast(DecimalType(38, 2)))
          .cast(DecimalType(38, 2)).as("total"))
      .write.parquet(statePath)
    graft.plans.MvCatalog.register(spark, "tmp_shared_stale",
      graft.plans.MvCatalog.MvJoinStaleDef(fact, dim, 0L, 0L,
        tail = Seq((true, 1L, 0L)), "k", "k", "g", "p", statePath))
    try {
      val df = CommitLog.snapshot(spark, fact, 1L).select(col("k"), col("p"))
        .join(CommitLog.snapshot(spark, dim, 0L).select(col("k"), col("g")),
          "k")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("p")).cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
      assert(planText(df).contains(statePath),
        "shared-name fixture rewrite did not fire")
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
      // g=7 merges state (k=1: 10.00) + compensated v1 append (k=3:
      // 30.00); g=5 untouched from state
      assert(rows == Set((5L, 1L, "20.00"), (7L, 2L, "40.00")), rows.toString)
    } finally graft.plans.MvCatalog.drop(spark, "tmp_shared_stale")
  }

  // VERDICT r15 #5: the stale path feeds the shared buildFromStateDf,
  // so predicate subsumption and rollup over a COMPENSATED state work
  // structurally — pin the composition (values + both plan
  // directions) so it can't silently regress.
  test("stale compensation composes with predicate subsumption and rollup") {
    import graft.sources.CommitLog
    val (root, _) =
      graft.queries.LakehouseQueries.registerStaleOrdersView(spark, sf)
    // whole-group filter (a function of the view key) over a scan
    // NEWER than the state: rewrite fires, filter runs over the
    // compensated refold, v0 bulk stays out of the plan
    def filtered() = CommitLog.snapshot(spark, root, 1L)
      .filter((col("k") % 7).isin(1, 3, 5))
      .groupBy((col("k") % 7).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
      .select(col("g"), col("n"), col("sum_p")
        .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("total"))
      .orderBy("g")
    val df = filtered()
    val plan = planText(df)
    assert(plan.contains("graft_stalestate"),
      "stale + predicate did not reroute:\n" + plan.take(3000))
    assert(!plan.contains("data/v0"),
      "stale + predicate still reads the v0 bulk:\n" + plan.take(3000))
    val got = df.collect().map(_.toSeq).toSeq
    // values equal the direct filtered aggregate with the view dropped
    graft.plans.MvCatalog.drop(spark, "orders_append_stale_k7")
    try {
      val off = filtered()
      assert(!planText(off)
        .contains("graft_stalestate"))
      assert(off.collect().map(_.toSeq).toSeq == got,
        "stale + predicate rewrite diverges from the direct aggregate")
      // rollup VALUES through the compensation (r15 pinned the plan
      // only): coarser key over the compensated state == direct
      val direct = CommitLog.snapshot(spark, root, 1L)
        .groupBy(((col("k") % 7) % 2).as("g2"))
        .agg(count(lit(1)).as("n")).orderBy("g2")
        .collect().map(_.toSeq).toSeq
      graft.queries.LakehouseQueries.registerStaleOrdersView(spark, sf)
      val roll = CommitLog.snapshot(spark, root, 1L)
        .groupBy(((col("k") % 7) % 2).as("g2"))
        .agg(count(lit(1)).as("n")).orderBy("g2")
      assert(planText(roll)
        .contains("graft_stalestate"))
      assert(roll.collect().map(_.toSeq).toSeq == direct,
        "stale rollup diverges from the direct aggregate")
    } finally
      graft.queries.LakehouseQueries.registerStaleOrdersView(spark, sf)
    // NEGATIVE: a row-level predicate (on the value column) declines
    // the whole rewrite — compensation must not serve filtered rows
    val row = CommitLog.snapshot(spark, root, 1L)
      .filter(col("p") > 10)
      .groupBy((col("k") % 7).as("g")).agg(count(lit(1)).as("n"))
    assert(!planText(row)
      .contains("graft_stalestate"),
      "row-level predicate wrongly rerouted through compensation")
  }

  test("MV union rewrite: coarser rollup over the union re-aggregates the refold") {
    SparkEntry.queries("view_rewrite_union")(spark, sf).count()
    import graft.sources.CommitLog
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val arch = graft.queries.LakehouseQueries.archTable(spark, sf)
    val df = CommitLog.snapshot(spark, root, CommitLog.versions(root).last)
      .select(col("k"), col("p"))
      .unionAll(CommitLog.snapshot(spark, arch, 0L).select(col("k"), col("p")))
      .groupBy(((col("k") % 10) % 3).as("g3"))
      .agg(count(lit(1)).as("n"))
      .orderBy("g3")
    val plan = planText(df)
    assert(plan.contains("graft_aggview") && plan.contains("graft_archstate"),
      "union rollup did not fire:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc") && !plan.contains("graft_archtab"))
    // n per g3 bucket = direct count over the union
    graft.plans.MvCatalog.drop(spark, "orders_by_g")
    graft.plans.MvCatalog.drop(spark, "orders_arch_by_g")
    try {
      val direct = unionQuery()
        .groupBy((col("g") % 3).as("g3"))
        .agg(sum(col("n")).as("n")).orderBy("g3")
      assert(df.collect().map(_.toSeq).toSeq ==
        direct.collect().map(_.toSeq).toSeq)
    } finally SparkEntry.queries("view_rewrite_union")(spark, sf).count()
  }
}
