package graft

import org.apache.spark.sql.functions._

/** Round-15 pins: the dedup_fuzzy flood guard (VERDICT r14 #1), the
  * MvRewrite grouping-determinism gate (ADVICE r14 medium), and the
  * FK/unique stats-routing footer-kind gate (ADVICE r14 low).
  */
class Round15OpsSpec extends GraftSpec {

  test("dedup_fuzzy flood guard: hot blocks route through banding; exact verify unchanged") {
    import spark.implicits._
    // one HOT block (40 docs share the 2-word prefix "alpha beta"; the
    // first 20 carry an IDENTICAL 60-char prefix → C(20,2) planted
    // pairs at dist 0, the other 20 are pairwise-distant fillers) plus
    // small 2-doc blocks with a dist ≤ 5 pair each
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val hot = (0 until 20).map(i => (i.toLong, s"$common tail$i")) ++
      (20 until 40).map(i => (i.toLong,
        s"alpha beta q$i w$i e$i r$i t$i y$i u$i i$i o$i p$i a$i s$i d$i f$i"))
    val small = (0 until 5).flatMap { j =>
      val base = s"block$j word$j some shared sentence body here padded out to sixty chars"
      Seq((100L + 2 * j, base), (101L + 2 * j, base.replace("shared", "shered")))
    }
    val df = (hot ++ small).toDF("doc_id", "text")
    val guarded = graft.api.GraftOps.fuzzyPrefixPairs(df, "doc_id", "text",
      maxBlock = 8)
    val got = guarded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted identical-prefix pair recalls (identical shingle
    // sets share every band signature — recall 1 by construction)
    val planted = (for (a <- 0 until 20; b <- (a + 1) until 20)
      yield (a.toLong, b.toLong)).toSet
    assert(planted.subsetOf(got),
      s"banding lost planted pairs: ${(planted -- got).take(5)}")
    // every small-block pair survives the guard untouched
    val smallPairs = (0 until 5).map(j => (100L + 2 * j, 101L + 2 * j)).toSet
    assert(smallPairs.subsetOf(got))
    // the verify stays exact: every emitted dist really is ≤ 5, and on
    // this corpus (fillers pairwise-distant) the guarded result equals
    // the unguarded operator's exactly
    guarded.collect().foreach { r =>
      assert(r.getLong(2) <= 5L, s"verify leak: $r")
    }
    val unguarded = graft.api.GraftOps.fuzzyPrefixPairs(df, "doc_id", "text",
      maxBlock = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == unguarded,
      s"guarded/unguarded diverge: only-guarded=${(got -- unguarded).take(5)} " +
        s"only-unguarded=${(unguarded -- got).take(5)}")
  }

  test("dedup_fuzzy flood guard bounds hot-block candidates below the quadratic") {
    import spark.implicits._
    // 200 docs in ONE block, pairwise-distant prefixes (distinct
    // hex-word bodies): the unguarded operator compares C(200,2) =
    // 19900 pairs; the banding tier's candidate volume must stay well
    // below that — the guard's whole point
    def hexWords(i: Int): String = (0 until 8).map { j =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    }.mkString(" ")
    val df = (0 until 200).map(i => (i.toLong, s"omega psi ${hexWords(i)}"))
      .toDF("doc_id", "text")
    val out = graft.api.GraftOps.fuzzyPrefixPairs(df, "doc_id", "text",
      maxBlock = 32)
    assert(out.count() == 0L)
    // and the banded candidate volume stayed bounded: re-derive the
    // candidate tier's size through the same signature algebra
    val p = df.select(col("doc_id"), substring(col("text"), 1, 60).as("__p"))
      .withColumn("__s", explode(expr(
        "array_distinct(transform(sequence(1, greatest(length(__p) - 2, 1)), " +
          "i -> substring(__p, i, 3)))")))
    val aggs = (0 until 8).map { k =>
      min(substring(md5(concat(lit(s"${k / 4}:"), col("__s"))),
        (k % 4) * 8 + 1, 8)).as(s"__h$k")
    }
    val mh = p.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bands = mh.select(col("doc_id"), explode(array((0 until 4).map { b =>
      concat(col(s"__h${2 * b}"), col(s"__h${2 * b + 1}"))
    }: _*)).as("sig"))
    val cand = bands.groupBy("sig").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) DIV 2"))).head().getLong(0)
    assert(cand < 19900L / 10,
      s"banding produced $cand candidates for 19900 possible pairs")
  }

  test("MV join rewrite: fact⋈dim aggregate reads the maintained state, neither table scanned") {
    import graft.sources.CommitLog
    val df = SparkEntry.queries("view_rewrite_join")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_joinview"),
      "join rewrite did not fire — no state scan:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc") && !plan.contains("graft_dim"),
      "rewritten join query still touches a base table:\n" + plan.take(3000))
    // values equal the maintained view read (the state itself)
    val direct = SparkEntry.queries("dml_cdc_join_view")(spark, sf)
      .collect().map(_.toSeq)
    assert(df.collect().map(_.toSeq).toSeq == direct.toSeq)
    val (fact, dim, vf, vd) =
      graft.queries.LakehouseQueries.registerOrdersJoinView(spark, sf)
    def factSnap = CommitLog.snapshot(spark, fact, vf)
      .select(col("k"), col("p"))
    def dimSnap = CommitLog.snapshot(spark, dim, vd)
      .select(col("k"), col("g"))
    // ROLLUP through the join: a coarser key over the dim group key
    // re-aggregates the state — and a whole-group filter subsumes too
    val roll = factSnap.join(dimSnap, "k")
      .filter(col("g") % 2 === 0)
      .groupBy((col("g") % 3).as("g3"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"))
    val rollPlan = planText(roll)
    assert(rollPlan.contains("graft_joinview") &&
      !rollPlan.contains("graft_cdc") && !rollPlan.contains("graft_dim"),
      "join rollup+filter did not reroute:\n" + rollPlan.take(3000))
    val rollDirect = SparkEntry.queries("dml_cdc_join_view")(spark, sf)
      .filter(col("g") % 2 === 0)
      .groupBy((col("g") % 3).as("g3"))
      .agg(sum(col("n")).as("n"),
        sum(col("total"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("sp"))
    assert(roll.orderBy("g3").collect().map(_.toSeq).toSeq ==
      rollDirect.orderBy("g3").collect().map(_.toSeq).toSeq)
    // NEGATIVE: a different join condition (k = k + 1) keeps the scans
    val shifted = factSnap
      .join(dimSnap.select((col("k") + 1L).as("k2"), col("g")),
        col("k") === col("k2"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    assert(!planText(shifted)
      .contains("graft_joinview"),
      "non-registered join condition wrongly rerouted")
    // NEGATIVE: an outer join declines (the state reflects the inner)
    val lj = factSnap.join(dimSnap, Seq("k"), "left")
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    assert(!planText(lj)
      .contains("graft_joinview"),
      "left join wrongly rerouted")
    // NEGATIVE: a row-level predicate (on the fact value) declines
    val rowLevel = factSnap.join(dimSnap, "k")
      .filter(col("p") > 1000.0)
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    assert(!planText(rowLevel)
      .contains("graft_joinview"),
      "row-level predicate wrongly subsumed through the join")
  }

  test("MV min/max rewrite: append-only state serves min/max; delete-bearing view declines") {
    import graft.sources.CommitLog
    val df = SparkEntry.queries("view_rewrite_minmax")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_appendview"),
      "min/max rewrite did not fire:\n" + plan.take(3000))
    assert(!plan.contains("graft_appendtab"),
      "rewritten min/max query still touches the fact:\n" + plan.take(3000))
    // ROLLUP: min(mn)/max(mx) re-aggregation is exact
    val (root, vLast) =
      graft.queries.LakehouseQueries.registerAppendOrdersView(spark, sf)
    def rollQ = CommitLog.snapshot(spark, root, vLast)
      .groupBy(((col("k") % 10) % 3).as("g3"))
      .agg(min(col("p")).as("mn"), max(col("p")).as("mx"))
      .orderBy("g3")
    val roll = rollQ
    assert(planText(roll)
      .contains("graft_appendview"), "min/max rollup did not reroute")
    val rolled = roll.collect().map(_.toSeq).toSeq
    graft.plans.MvCatalog.drop(spark, "orders_append_by_g")
    try {
      val off = rollQ
      assert(!planText(off)
        .contains("graft_appendview"))
      assert(off.collect().map(_.toSeq).toSeq == rolled,
        "rewritten min/max rollup diverges from the direct aggregate")
    } finally
      graft.queries.LakehouseQueries.registerAppendOrdersView(spark, sf)
    // NEGATIVE: the DELETE-bearing S12 view's state has no mn/mx —
    // a min query over it must keep the fact scan (fail-safe decline)
    SparkEntry.queries("view_rewrite_agg")(spark, sf).count()
    val cdcRoot = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vc = CommitLog.versions(cdcRoot).last
    val m = CommitLog.snapshot(spark, cdcRoot, vc)
      .groupBy((col("k") % 10).as("g")).agg(min(col("p")).as("mn"))
    assert(!planText(m).contains("graft_aggview"),
      "min over a delete-bearing view wrongly rerouted")
    // NEGATIVE: the fold itself REFUSES a retraction-bearing feed
    val e = intercept[IllegalArgumentException] {
      graft.queries.LakehouseQueries.foldAppendMinMaxState(spark, cdcRoot,
        scratch("graft_r15_mmrefuse"))
    }
    assert(e.getMessage.contains("retraction"), e.getMessage)
  }

  test("MV stale rewrite: state(v0) + tail delta serves a v1 scan without reading the v0 bulk") {
    import graft.sources.CommitLog
    val df = SparkEntry.queries("view_rewrite_stale")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_stalestate"),
      "stale rewrite did not fire — no state scan:\n" + plan.take(3000))
    assert(plan.contains("data/v1"),
      "compensation did not read the tail delta unit:\n" + plan.take(3000))
    assert(!plan.contains("data/v0"),
      "stale rewrite still reads the v0 bulk:\n" + plan.take(3000))
    // values equal the direct aggregate with the view dropped
    val (root, state) =
      graft.queries.LakehouseQueries.registerStaleOrdersView(spark, sf)
    val got = df.collect().map(_.toSeq).toSeq
    graft.plans.MvCatalog.drop(spark, "orders_append_stale_k7")
    try {
      val off = CommitLog.snapshot(spark, root, 1L)
        .groupBy((col("k") % 7).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"),
          col("sum_p").cast(org.apache.spark.sql.types.DecimalType(38, 2))
            .as("total"))
        .orderBy("g")
      assert(!planText(off)
        .contains("graft_stalestate"))
      assert(off.collect().map(_.toSeq).toSeq == got,
        "compensated rewrite diverges from the direct aggregate")
    } finally
      graft.queries.LakehouseQueries.registerStaleOrdersView(spark, sf)
    // ROLLUP through the compensation: a coarser key still rewrites
    val roll = CommitLog.snapshot(spark, root, 1L)
      .groupBy(((col("k") % 7) % 2).as("g2"))
      .agg(count(lit(1)).as("n"))
    assert(planText(roll)
      .contains("graft_stalestate"), "stale rollup did not reroute")
    // NEGATIVE: min/max never compensate (no mn/mx in the folded frame)
    val m = CommitLog.snapshot(spark, root, 1L)
      .groupBy((col("k") % 7).as("g")).agg(min(col("p")).as("mn"))
    assert(!planText(m)
      .contains("graft_stalestate"),
      "min through the stale compensation wrongly rerouted")
    // NEGATIVE: a state NEWER than the scan declines (the rewrite only
    // compensates forward, never un-applies versions)
    graft.plans.MvCatalog.drop(spark, "orders_append_stale_k7")
    graft.plans.MvCatalog.register(spark, "tmp_stale_newer",
      graft.plans.MvCatalog.MvStaleDef(root, 1L, "k % 7", "p", state))
    try {
      val back = CommitLog.snapshot(spark, root, 0L)
        .groupBy((col("k") % 7).as("g")).agg(count(lit(1)).as("n"))
      assert(!planText(back)
        .contains("graft_stalestate"),
        "scan OLDER than the state wrongly compensated")
    } finally {
      graft.plans.MvCatalog.drop(spark, "tmp_stale_newer")
      graft.queries.LakehouseQueries.registerStaleOrdersView(spark, sf)
    }
  }

  test("MV stale join rewrite: declared-tail compensation serves a cut no fresh view covers") {
    import graft.sources.CommitLog
    import org.apache.spark.sql.types.DecimalType
    val (fact, dim, root) =
      graft.queries.LakehouseQueries.registerStaleOrdersJoinView(spark, sf)
    val df = SparkEntry.queries("view_rewrite_join_stale")(spark, sf)
    val plan = planText(df)
    assert(plan.contains(s"$root/s2"),
      "stale join rewrite did not read the s2 cut state:\n" + plan.take(3000))
    assert(!plan.contains("v1b3"),
      "compensation touched dim v1's promoted unit:\n" + plan.take(3000))
    def joinQ(dimV: Long, factV: Long = 3L) =
      CommitLog.snapshot(spark, fact, factV).select(col("k"), col("p"))
        .join(CommitLog.snapshot(spark, dim, dimV)
          .select(col("k"), col("g")), "k")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g").cast("bigint").as("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    // values equal the direct join+aggregate with the def dropped
    val got = df.collect().map(_.toSeq).toSeq
    graft.plans.MvCatalog.drop(spark, "orders_join_dim_stale")
    try {
      val off = joinQ(0L)
      assert(!planText(off).contains(s"$root/s2"))
      assert(off.collect().map(_.toSeq).toSeq == got,
        "compensated join rewrite diverges from the direct aggregate")
    } finally
      graft.queries.LakehouseQueries.registerStaleOrdersJoinView(spark, sf)
    // NEGATIVE: a version pair the declared tail does not reach —
    // fact@2 ⋈ dim@1 — declines (no view, fresh or stale, covers it)
    val other = joinQ(dimV = 1L, factV = 2L)
    assert(!planText(other)
      .contains("graft_joinview"),
      "uncovered version pair wrongly rerouted")
  }

  test("MV stale join rewrite: NULL group keys merge across state and compensation") {
    import spark.implicits._
    import graft.sources.CommitLog
    import org.apache.spark.sql.types.DecimalType
    val t = scratch("graft_r15_nullg")
    val fact = s"$t/fact"
    val dim = s"$t/dim"
    // fact v0: (1,10),(2,20); v1 appends (3,30)
    Seq((1L, "10.00"), (2L, "20.00"))
      .toDF("k", "ps").select(col("k"),
        col("ps").cast(DecimalType(18, 2)).as("p"))
      .coalesce(1).write.parquet(s"$fact/u0")
    CommitLog.commit(fact, 0L, Seq("u0"))
    Seq((3L, "30.00")).toDF("k", "ps").select(col("k"),
        col("ps").cast(DecimalType(18, 2)).as("p"))
      .coalesce(1).write.parquet(s"$fact/u1")
    CommitLog.commit(fact, 1L, Seq("u0", "u1"))
    // dim v0: keys 1 and 3 carry a NULL group
    Seq((1L, Option.empty[Long]), (2L, Some(5L)), (3L, Option.empty[Long]))
      .toDF("k", "g").coalesce(1).write.parquet(s"$dim/u0")
    CommitLog.commit(dim, 0L, Seq("u0"))
    // state at the (fact v0, dim v0) cut — includes a NULL-g row
    val statePath = s"$t/state"
    CommitLog.snapshot(spark, fact, 0L)
      .join(CommitLog.snapshot(spark, dim, 0L), "k")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull, lit(1L)).otherwise(lit(0L))).as("nn"),
        sum(col("p").cast(DecimalType(38, 2)))
          .cast(DecimalType(38, 2)).as("total"))
      .write.parquet(statePath)
    graft.plans.MvCatalog.register(spark, "tmp_nullg_stale",
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
      // ADVICE r15: pin the FULL statePath, not the bare word "state"
      // (which matches any path/operator containing it) — the
      // rewrite-fired precondition must be real before the NULL-merge
      // assertion below means anything
      assert(planText(df).contains(statePath),
        "NULL-g fixture rewrite did not fire")
      val rows = df.collect()
      // review r15: the full_outer-merge formulation emitted TWO
      // NULL-g rows (NULL never joins NULL); the union+re-fold must
      // emit exactly one, with both NULL-key fact rows merged
      assert(rows.length == 2, rows.mkString(", "))
      val nullRow = rows.find(_.isNullAt(0)).get
      assert(nullRow.getLong(1) == 2L &&
        nullRow.getDecimal(2).compareTo(new java.math.BigDecimal("40.00")) == 0,
        s"NULL group mis-merged: $nullRow")
    } finally graft.plans.MvCatalog.drop(spark, "tmp_nullg_stale")
  }

  test("MV stale join rewrite: a declared tail that skips a log version declines") {
    import graft.sources.CommitLog
    val (fact, dim, root) =
      graft.queries.LakehouseQueries.registerStaleOrdersJoinView(spark, sf)
    def q3 = CommitLog.snapshot(spark, fact, 3L).select(col("k"), col("p"))
      .join(CommitLog.snapshot(spark, dim, 0L).select(col("k"), col("g")),
        "k")
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    graft.plans.MvCatalog.drop(spark, "orders_join_dim_stale")
    // a tail jumping fact 1 → 3 silently omits v2's feed (empty here,
    // but the rule cannot know that) — the successor check declines
    graft.plans.MvCatalog.register(spark, "tmp_skip_stale",
      graft.plans.MvCatalog.MvJoinStaleDef(fact, dim, 1L, 0L,
        tail = Seq((true, 3L, 0L)), "k", "k", "g", "p", s"$root/s2"))
    try {
      assert(!planText(q3).contains(s"$root/s2"),
        "version-skipping tail wrongly accepted")
      // the COMPLETE tail from the same cut — including the empty v2
      // step — walks and fires, and the empty delta is a no-op
      graft.plans.MvCatalog.drop(spark, "tmp_skip_stale")
      graft.plans.MvCatalog.register(spark, "tmp_full_stale",
        graft.plans.MvCatalog.MvJoinStaleDef(fact, dim, 1L, 0L,
          tail = Seq((true, 2L, 0L), (true, 3L, 0L)),
          "k", "k", "g", "p", s"$root/s2"))
      val df = q3
      assert(planText(df).contains(s"$root/s2"),
        "complete tail did not fire")
      val got = df.orderBy("g").collect().map(_.toSeq).toSeq
      // ground truth = the UNREWRITTEN aggregate (review r15, second
      // pass: the previous baseline re-registered the entry's own
      // stale def and compared two rewrites against each other)
      graft.plans.MvCatalog.drop(spark, "tmp_full_stale")
      val direct = q3
      assert(!planText(direct)
        .contains(s"$root/s2"))
      assert(got == direct.orderBy("g").collect().map(_.toSeq).toSeq,
        "multi-step compensation diverges from the direct aggregate")
    } finally {
      graft.plans.MvCatalog.drop(spark, "tmp_skip_stale")
      graft.plans.MvCatalog.drop(spark, "tmp_full_stale")
      graft.queries.LakehouseQueries.registerStaleOrdersJoinView(spark, sf)
    }
  }

  test("snapshotWithStats: directory units size correctly; non-integral long-footer columns stay out") {
    import spark.implicits._
    import graft.sources.CommitLog
    val t = scratch("graft_r15_swstats")
    // ONE directory unit written by df.write.parquet (the routine unit
    // shape), with a long column and a TIMESTAMP column — whose footer
    // kind is also "long" but whose CatalogColumnStat external form is
    // not the raw number
    val df0 = spark.range(0, 1000).toDF("id")
      .withColumn("ts",
        expr("timestamp_micros(cast(id * 1000000 as long))"))
    df0.write.parquet(s"$t/data/v0")
    CommitLog.commit(t, 0L, Seq("data/v0"))
    CommitLog.writeColStats(t, 0L,
      CommitLog.footerColStats(spark, t, Seq("data/v0"), Seq("id", "ts")))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val snap = CommitLog.snapshotWithStats(spark, t, 0L)
    val rel = snap.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr
    }.head
    // review r15: Files.size on the directory inode reported ~4 KB for
    // any snapshot — the stats must reflect the actual part files
    import scala.jdk.CollectionConverters._
    val walked = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$t/data/v0"))
      .iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    // (plan-level stats re-derive sizeInBytes from rowCount × row
    // width under CBO, so the injected CATALOG value is the thing to
    // pin — it drives the non-CBO broadcast decision)
    assert(rel.catalogTable.get.stats.get.sizeInBytes == BigInt(walked),
      s"catalog sizeInBytes ${rel.catalogTable.get.stats.get.sizeInBytes}" +
        s" != walked $walked")
    assert(rel.stats.rowCount.contains(BigInt(1000)))
    val statCols = rel.stats.attributeStats.keys.map(_.name).toSet
    assert(statCols == Set("id"),
      s"non-integral column leaked into column stats: $statCols")
    // and a range predicate on the timestamp column must not crash
    // CBO's estimation (it would, had ts published its raw INT64)
    assert(snap.filter(col("ts") >
      lit("1970-01-01 00:00:10").cast("timestamp")).count() == 989L)
  }

  test("stream-maintained agg view: equals the one-shot fold per version and serves the rewrite") {
    import graft.sources.CommitLog
    import org.apache.spark.sql.types.DecimalType
    val df = SparkEntry.queries("stream_agg_view")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_sgv_state"),
      "rewrite did not fire against the stream-maintained state:\n" +
        plan.take(3000))
    assert(!plan.contains("graft_sgv_tab"),
      "rewritten aggregate still scans the fact:\n" + plan.take(3000))
    // fresh fixture; for EVERY published state version, the stream-
    // maintained content must equal a one-shot signed fold of all
    // changes up to that version (an independent recomputation — no
    // shared code with the consumer)
    val (root, stateDir, _) =
      graft.streaming.StreamQueries.streamAggViewFixture(spark, sf)
    val published = CommitLog.replayStates(stateDir)
    assert(published.nonEmpty)
    for (v <- published) {
      val allCh = CommitLog.versions(root).filter(_ <= v)
        .map(CommitLog.changes(spark, root, _)).reduce(_ unionAll _)
        .withColumn("sgn",
          when(col("_change_type") === "insert", lit(1L))
            .otherwise(lit(-1L)))
      val expected = allCh.groupBy((col("k") % 10).as("g"))
        .agg(sum(col("sgn")).as("n"),
          sum(when(col("p").isNotNull, col("sgn")).otherwise(lit(0L)))
            .as("nn"),
          coalesce(sum((col("p") * col("sgn")).cast(DecimalType(38, 2))),
            lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 2)))
            .cast(DecimalType(38, 2)).as("total"))
        .orderBy("g").collect().map(_.toSeq).toSeq
      val got = spark.read.parquet(s"$stateDir/v$v")
        .select(col("g"), col("n"), col("nn"),
          col("total").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g").collect().map(_.toSeq).toSeq
      assert(got == expected, s"stream state v$v diverges from the fold")
    }
  }

  test("MV rewrite declines a nondeterministic grouping expression (ADVICE r14)") {
    import graft.sources.CommitLog
    // registers the view + rule
    SparkEntry.queries("view_rewrite_rollup")(spark, sf).count()
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(root).last
    val snap = CommitLog.snapshot(spark, root, vLast)
    // GROUP BY (k%10, rand()): rand() references nothing of the scan,
    // so the old containment check passed and the rewrite grouped the
    // 10-row STATE by a fresh rand() draw instead of grouping every
    // fact row — the determinism gate must decline
    val nd = snap.groupBy((col("k") % 10).as("g"),
        (rand(7L) * 4).cast("int").as("r"))
      .agg(count(lit(1)).as("n"))
    val plan = planText(nd)
    assert(!plan.contains("graft_aggview"),
      "nondeterministic grouping wrongly rerouted to the state:\n" +
        plan.take(3000))
    // the direct aggregate still runs over the fact — total row weight
    // must equal the snapshot count (the state-grouped wrong answer
    // would produce ≤ 10·4 tiny groups summing to 10 state rows)
    val totalN = nd.agg(sum(col("n"))).head().getLong(0)
    assert(totalN == snap.count(),
      s"grouped row weight $totalN != fact count ${snap.count()}")
  }

  test("snapshot stats: commit-log reads carry sidecar-fed CatalogStatistics, no ANALYZE") {
    val df = SparkEntry.queries("cbo_snapshot_stats")(spark, sf)
    // relation-level rowCount must be visible to the optimizer on BOTH
    // scans — only the injected CatalogStatistics can put it there (a
    // plain parquet relation has sizeInBytes only)
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr
    }
    assert(rels.size == 2, s"expected 2 scans, got ${rels.size}")
    val no = Tables.load(spark, sf, "orders").count()
    val nc = Tables.load(spark, sf, "customer").count()
    val rcs = rels.flatMap(_.stats.rowCount.map(_.toLong)).toSet
    assert(rcs == Set(no, nc),
      s"sidecar rowCounts not visible at the relations: $rcs vs $no/$nc")
    // and the sidecar min/max made it into attributeStats
    assert(rels.exists(_.stats.attributeStats.exists(
      _._1.name == "o_orderkey")),
      "o_orderkey column stats missing from the snapshot relation")
    // the smaller side (customer) broadcasts; orders stays probe-side
    val plan = planText(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("BroadcastExchange"))
      .foreach { case (bLine, i) =>
        val subtree = lines.drop(i + 1)
          .takeWhile(l => nodeStart(l) > nodeStart(bLine))
        assert(!subtree.exists(_.contains("/orders/")),
          s"orders broadcast as a build side:\n" +
            (bLine +: subtree).mkString("\n"))
      }
    // historical correctness: the v0 read equals the base table even
    // though v1 (with a duplicating delta unit) exists
    assert(df.agg(org.apache.spark.sql.functions.sum("n_orders"))
      .head().getLong(0) == no)
  }

  test("FK stats routing: footer-kind mismatch falls back to the full-snapshot probe") {
    import graft.sources.CommitLog
    import spark.implicits._
    // Case A (spurious-prune direction, ADVICE r14): the referenced
    // key is the STRING "02" — equal to the batch's LONG 2 under SQL
    // coercion, but lexically BELOW the rendered bound "2" ("02" < "2"
    // since '0' < '2'). The pruned path compares the numeric bounds
    // lexically against the string footer, sees max "02" < lo "2",
    // prunes the only unit, and falsely rejects a VALID commit. The
    // kind gate must fall back to the full-snapshot probe and accept.
    val t = scratch("graft_r15_fkkind")
    val ref = s"$t/ref"
    Seq("02", "03").toDF("ck").coalesce(1).write.parquet(s"$ref/u0")
    CommitLog.commit(ref, 0L, Seq("u0"))
    CommitLog.writeColStats(ref, 0L,
      CommitLog.footerColStats(spark, ref, Seq("u0"), Seq("ck")))
    val fact = s"$t/fact"
    CommitLog.declareConstraints(fact,
      Seq(CommitLog.ForeignKeyConstraint("c", ref, "ck")))
    Seq((1L, 2L)).toDF("k", "c").coalesce(1).write.parquet(s"$fact/u0")
    CommitLog.commitConstrained(spark, fact, 0L, Seq("u0")) // must accept
    assert(CommitLog.versions(fact) == Seq(0L))

    // Case B (the reverse mismatch): referenced keys are LONG with a
    // long footer; the batch FK column is STRING. The kind gate routes
    // to the fallback probe, where SQL coercion gives the right
    // answers: a coercible valid reference accepts, a coercible orphan
    // rejects with the constraint message. (A NON-coercible string —
    // 'abc' against a BIGINT key — fails the ANSI cast loudly inside
    // the probe: a user type error surfaced as an error, never a
    // silent accept; the unique-probe scaladoc documents the same
    // pass-the-column's-own-type contract.)
    val ref2 = s"$t/ref2"
    Seq(1L, 2L, 3L).toDF("ck").coalesce(1).write.parquet(s"$ref2/u0")
    CommitLog.commit(ref2, 0L, Seq("u0"))
    CommitLog.writeColStats(ref2, 0L,
      CommitLog.footerColStats(spark, ref2, Seq("u0"), Seq("ck")))
    val fact2 = s"$t/fact2"
    CommitLog.declareConstraints(fact2,
      Seq(CommitLog.ForeignKeyConstraint("c", ref2, "ck")))
    Seq((1L, "2")).toDF("k", "c").coalesce(1).write.parquet(s"$fact2/u0")
    CommitLog.commitConstrained(spark, fact2, 0L, Seq("u0")) // valid ref
    assert(CommitLog.versions(fact2) == Seq(0L))
    Seq((2L, "99")).toDF("k", "c").coalesce(1).write.parquet(s"$fact2/u1")
    val e = intercept[IllegalArgumentException] {
      CommitLog.commitConstrained(spark, fact2, 1L, Seq("u0", "u1"))
    }
    assert(e.getMessage.contains("foreignkey(c)"), e.getMessage)
  }

  test("unique stats routing: a type-evolved key (long batch vs string footer) still probes correctly") {
    import graft.sources.CommitLog
    import spark.implicits._
    val t = scratch("graft_r15_uqkind")
    CommitLog.declareConstraints(t, Seq(CommitLog.UniqueConstraint("k")))
    // v0 committed the key as STRINGS ("02" — coercion-equal to long 2
    // but lexically below the rendered bound "2") with lexical footer
    // stats
    Seq("02", "03").toDF("k").coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commitConstrained(spark, t, 0L, Seq("u0"))
    CommitLog.writeColStats(t, 0L,
      CommitLog.footerColStats(spark, t, Seq("u0"), Seq("k")))
    // the next batch writes the key as LONG 2 — a real duplicate of
    // "02" under coercion. The pruned path compares [2,2] lexically
    // against ["02","03"], sees max "03" < lo "2", prunes the unit and
    // silently ACCEPTS the duplicate; the kind gate must fall back to
    // the full probe and reject.
    Seq(2L).toDF("k").coalesce(1).write.parquet(s"$t/u1")
    val e = intercept[IllegalArgumentException] {
      CommitLog.commitConstrained(spark, t, 1L, Seq("u0", "u1"))
    }
    assert(e.getMessage.contains("unique(k)"), e.getMessage)
  }
}
