package graft

import org.apache.spark.sql.functions._

/** Round-17 pins: the persisted similarity-graph index (VERDICT r16
  * #1) is value-identical to the direct blocked-cosine formulations
  * at every consumer threshold and grows O(delta); the shared
  * collapse-routing hint (VERDICT r16 #3) changes plans, never
  * results.
  */
class Round17OpsSpec extends GraftSpec {

  private def edgeMap(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), String] =
    df.select("a_id", "b_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2).toPlainString)
      .toMap

  test("sim-graph index latest snapshot == from-scratch full-corpus edge build (cos_sim included)") {
    graft.functions.GraftFunctions.register(spark)
    val direct = edgeMap(graft.api.GraftOps.cosinePairsBlocked(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      minCos = 0.3))
    val indexed = edgeMap(graft.queries.SimGraph.edges(spark, sf, 0.3))
    assert(direct == indexed,
      s"only-direct=${(direct.toSet -- indexed.toSet).take(5)} " +
        s"only-indexed=${(indexed.toSet -- direct.toSet).take(5)}")
    assert(indexed.nonEmpty, "edge set empty — fixture degenerate")
  }

  test("sim-graph index filtered to 0.4 == direct 0.4 build (the pagerank/dedup_embed_cos route)") {
    graft.functions.GraftFunctions.register(spark)
    val direct = edgeMap(graft.api.GraftOps.cosinePairsBlocked(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      minCos = 0.4))
    val indexed = edgeMap(graft.queries.SimGraph.edges(spark, sf, 0.4))
    assert(direct == indexed,
      s"only-direct=${(direct.toSet -- indexed.toSet).take(5)} " +
        s"only-indexed=${(indexed.toSet -- direct.toSet).take(5)}")
    // a threshold below the build floor must refuse, not under-report
    intercept[IllegalArgumentException] {
      graft.queries.SimGraph.edges(spark, sf, 0.2)
    }
  }

  test("sim-graph index grows O(delta): v1 appends one unit, the standing unit carries by name") {
    import graft.sources.CommitLog
    val root = graft.queries.SimGraph.tableFor(spark, sf)
    val v0 = CommitLog.units(root, 0L)
    val v1 = CommitLog.units(root, 1L)
    assert(v0.size == 1 && v0.head.endsWith("data/base"), v0.toString)
    assert(v1.size == 2 && v1.take(1) == v0 &&
      v1.last.endsWith("data/delta"), v1.toString)
    // the delta unit holds ONLY edges touching the vec_id%10 batch —
    // the append never re-crossed the standing corpus with itself
    val delta = spark.read.parquet(v1.last)
    assert(delta.filter(col("a_id") % 10 =!= 0 && col("b_id") % 10 =!= 0)
      .count() == 0L, "delta unit contains standing-only edges")
  }

  test("cross-blocked cosine == the full build's cross-group slice") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, sf, "embeddings")
    val standing = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val full = edgeMap(graft.api.GraftOps.cosinePairsBlocked(
      emb, "vec_id", "embedding", minCos = 0.3))
    val crossSlice = full.filter { case ((a, b), _) =>
      (a % 10 == 0) != (b % 10 == 0)
    }
    val cross = edgeMap(graft.api.GraftOps.cosinePairsBlockedCross(
      batch, standing, "vec_id", "embedding", minCos = 0.3))
    assert(cross == crossSlice,
      s"only-cross=${(cross.toSet -- crossSlice.toSet).take(5)} " +
        s"only-slice=${(crossSlice.toSet -- cross.toSet).take(5)}")
  }

  // ---- shared collapse-routing hint (VERDICT r16 #3) -----------------

  private lazy val corpus = {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    Seq((1L, a), (9L, a), (50L, a),
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (20L, "nothing in common with anything else whatsoever here at all")
    ).toDF("doc_id", "text")
  }

  test("routeHint forces either route; both equal the unhinted result") {
    def pairs(hint: Option[Boolean]) =
      graft.api.GraftOps.collapsedPairs(corpus, "doc_id", "text",
          routeHint = hint)(
          graft.api.GraftOps.minHashNearDupPairs(_, "doc_id", "text",
            maxJaccardDist = 0.5))
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unhinted = pairs(None)
    assert(pairs(Some(true)) == unhinted && pairs(Some(false)) == unhinted)
    def clusters(hint: Option[Boolean]) =
      graft.api.GraftOps.collapsedClusters(corpus, "doc_id", "text",
          routeHint = hint)(
          graft.api.GraftOps.ngramJaccardPairs(_, "doc_id", "text",
            minJaccard = 0.8))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cUnhinted = clusters(None)
    assert(clusters(Some(true)) == cUnhinted &&
      clusters(Some(false)) == cUnhinted)
  }

  // ---- union rewrite: predicate subsumption (VERDICT r16 #4) ---------

  private def filteredUnionQuery(): org.apache.spark.sql.DataFrame = {
    import graft.sources.CommitLog
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val arch = graft.queries.LakehouseQueries.archTable(spark, sf)
    CommitLog.snapshot(spark, root, CommitLog.versions(root).last)
      .select(col("k"), col("p"))
      .unionAll(CommitLog.snapshot(spark, arch, 0L).select(col("k"), col("p")))
      .filter((col("k") % 10).isin(2L, 4L, 6L))
      .groupBy((col("k") % 10).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
      .select(col("g"), col("n"), col("sum_p")
        .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("total"))
      .orderBy("g")
  }

  test("union + whole-group filter rewrites to the filtered refold; row-level filter declines") {
    val df = SparkEntry.queries("view_rewrite_union_filtered")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_aggview") && plan.contains("graft_archstate"),
      "filtered union did not reroute to both states:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc") && !plan.contains("graft_archtab"),
      "filtered union still scans a table:\n" + plan.take(3000))
    val got = df.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    // values equal the direct filtered union with both views dropped
    graft.plans.MvCatalog.drop(spark, "orders_by_g")
    graft.plans.MvCatalog.drop(spark, "orders_arch_by_g")
    try {
      val off = filteredUnionQuery()
      assert(!planText(off).contains("graft_aggview"))
      assert(off.collect().map(_.toSeq).toSeq == got,
        "filtered union rewrite diverges from the direct aggregate")
    } finally
      SparkEntry.queries("view_rewrite_union_filtered")(spark, sf).count()
    // NEGATIVE: a row-level predicate (on the value column) must
    // decline — filtering the refold by p would drop whole groups
    // where the direct plan drops rows
    import graft.sources.CommitLog
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val arch = graft.queries.LakehouseQueries.archTable(spark, sf)
    val row = CommitLog.snapshot(spark, root, CommitLog.versions(root).last)
      .select(col("k"), col("p"))
      .unionAll(CommitLog.snapshot(spark, arch, 0L).select(col("k"), col("p")))
      .filter(col("p") > 10)
      .groupBy((col("k") % 10).as("g")).agg(count(lit(1)).as("n"))
    val rowPlan = planText(row)
    assert(!rowPlan.contains("graft_aggview") &&
      !rowPlan.contains("graft_archstate"),
      "row-level predicate wrongly rerouted through the refold:\n" +
        rowPlan.take(3000))
  }

  // ADVICE r16: a second def over the SAME snapshot with a different
  // (key, value) must not break the union binding — the assignment
  // search skips the inconsistent pair instead of first-match-binding
  // to it and declining.
  test("union rewrite finds a consistent def assignment among multiple defs per snapshot") {
    import graft.sources.CommitLog
    SparkEntry.queries("view_rewrite_union")(spark, sf).count() // register
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(root).last
    graft.plans.MvCatalog.register(spark, "tmp_decoy_k20",
      graft.plans.MvCatalog.MvDef(graft.plans.MvCatalog.snapshotPaths(root, vLast),
        "k % 20", "p", "/nonexistent_decoy_state"))
    try {
      val df = SparkEntry.queries("view_rewrite_union")(spark, sf)
      val plan = planText(df)
      assert(plan.contains("graft_aggview") && plan.contains("graft_archstate"),
        "union rewrite lost the consistent assignment to a decoy def:\n" +
          plan.take(3000))
      assert(!plan.contains("nonexistent_decoy_state"))
    } finally graft.plans.MvCatalog.drop(spark, "tmp_decoy_k20")
  }

  // ---- stale-join tail inference (VERDICT r16 #5) --------------------

  /** Fact (v0: k=1,2; v1 appends k=3; v2 appends k=4) ⋈ dim (v0;
    * v1 appends k=4's row) with the state folded at a given cut —
    * the fixture for declared-vs-inferred tails. Returns (fact root,
    * dim root, state path).
    */
  private def staleJoinFixture(cutFact: Long, cutDim: Long): (String, String, String) = {
    import spark.implicits._
    import graft.sources.CommitLog
    import org.apache.spark.sql.types.DecimalType
    val t = scratch("graft_r17_infer")
    val fact = s"$t/fact"
    val dim = s"$t/dim"
    def factRows(rows: Seq[(Long, String)], unit: String): Unit =
      rows.toDF("k", "ps").select(col("k"),
          col("ps").cast(DecimalType(18, 2)).as("p"))
        .coalesce(1).write.parquet(s"$fact/$unit")
    factRows(Seq((1L, "10.00"), (2L, "20.00")), "u0")
    CommitLog.commit(fact, 0L, Seq("u0"))
    factRows(Seq((3L, "30.00")), "u1")
    CommitLog.commit(fact, 1L, Seq("u0", "u1"))
    factRows(Seq((4L, "40.00")), "u2")
    CommitLog.commit(fact, 2L, Seq("u0", "u1", "u2"))
    Seq((1L, 7L), (2L, 5L), (3L, 7L)).toDF("k", "g")
      .coalesce(1).write.parquet(s"$dim/u0")
    CommitLog.commit(dim, 0L, Seq("u0"))
    Seq((4L, 5L)).toDF("k", "g").coalesce(1).write.parquet(s"$dim/u1")
    CommitLog.commit(dim, 1L, Seq("u0", "u1"))
    val statePath = s"$t/state"
    CommitLog.snapshot(spark, fact, cutFact).select("k", "p")
      .join(CommitLog.snapshot(spark, dim, cutDim).select("k", "g"), "k")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull, lit(1L)).otherwise(lit(0L))).as("nn"),
        sum(col("p").cast(DecimalType(38, 2)))
          .cast(DecimalType(38, 2)).as("total"))
      .write.parquet(statePath)
    (fact, dim, statePath)
  }

  private def staleJoinQuery(fact: String, dim: String, fv: Long, dv: Long) = {
    import graft.sources.CommitLog
    import org.apache.spark.sql.types.DecimalType
    CommitLog.snapshot(spark, fact, fv).select(col("k"), col("p"))
      .join(CommitLog.snapshot(spark, dim, dv).select(col("k"), col("g")), "k")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("p")).cast(DecimalType(38, 2)).as("total"))
      .orderBy("g")
  }

  test("undeclared stale-join tail is inferred from the two logs and compensates exactly") {
    val (fact, dim, statePath) = staleJoinFixture(0L, 0L)
    // tail = Nil, but the query scans (fact@2, dim@1) — two fact
    // steps + one dim step ahead of the cut
    graft.plans.MvCatalog.register(spark, "tmp_infer_stale",
      graft.plans.MvCatalog.MvJoinStaleDef(fact, dim, 0L, 0L,
        tail = Nil, "k", "k", "g", "p", statePath))
    try {
      val df = staleJoinQuery(fact, dim, 2L, 1L)
      assert(planText(df).contains(statePath),
        "inferred-tail rewrite did not fire:\n" + planText(df).take(3000))
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
      // direct: k=1,3 → g7 (10+30); k=2,4 → g5 (20+40)
      assert(rows == Set((5L, 2L, "60.00"), (7L, 2L, "40.00")), rows.toString)
      // the fresh cut still rewrites with zero deltas
      val fresh = staleJoinQuery(fact, dim, 0L, 0L)
      assert(planText(fresh).contains(statePath))
    } finally graft.plans.MvCatalog.drop(spark, "tmp_infer_stale")
  }

  test("inference declines when the state cut's manifest was vacuumed (continuity unprovable)") {
    val (fact, dim, statePath) = staleJoinFixture(1L, 0L)
    // vacuum the CUT version's manifest: changes(v2) would then diff
    // against v0 and double-apply v1's delta the state already folded
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(fact, "_log", "v00001.txt"))
    graft.plans.MvCatalog.register(spark, "tmp_infer_vacuumed",
      graft.plans.MvCatalog.MvJoinStaleDef(fact, dim, 1L, 0L,
        tail = Nil, "k", "k", "g", "p", statePath))
    try {
      val df = staleJoinQuery(fact, dim, 2L, 0L)
      assert(!planText(df).contains(statePath),
        "inference compensated across a vacuumed cut")
    } finally graft.plans.MvCatalog.drop(spark, "tmp_infer_vacuumed")
  }

  test("collapseRoute agrees with the direct gate decision") {
    val direct = graft.api.GraftOps.collapseGate(
      Tables.load(spark, sf, "documents"), "doc_id", "text")
    assert(graft.queries.LlmQueries.collapseRoute(spark, sf) == direct)
    // stored: a second call returns the same decision from the same
    // derived entry, without re-aggregating
    val entry = Derived.path("collapse_route", sf)
    assert(graft.queries.LlmQueries.collapseRoute(spark, sf) == direct)
    assert(Derived.path("collapse_route", sf) == entry)
  }
}
