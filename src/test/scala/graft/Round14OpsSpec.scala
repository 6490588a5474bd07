package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-14 pins: MvRewrite rollup subsumption + NULL-sum semantics
  * (VERDICT r13 #4, ADVICE r13), the exact-integer ts_decompose chain,
  * and the CBO catalog single-dir cache (ADVICE r13 medium).
  */
class Round14OpsSpec extends GraftSpec {

  test("MV rollup rewrite: coarser group-by reads the view state, never the fact units") {
    val df = SparkEntry.queries("view_rewrite_rollup")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_aggview"),
      "rollup rewrite did not fire — no view-state scan:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc"),
      "rewritten rollup still touches the fact units:\n" + plan.take(3000))
    // the re-aggregation must equal rolling up the maintained view read
    val direct = SparkEntry.queries("dml_cdc_agg_view")(spark, sf)
      .groupBy((col("g") % 3).as("g3"))
      .agg(sum(col("n")).as("n"),
        sum(col("total")).cast(DecimalType(38, 2)).as("total"))
      .orderBy("g3").collect().map(_.toSeq)
    assert(df.collect().map(_.toSeq).toSeq == direct.toSeq)
  }

  test("MV predicate subsumption: a whole-group filter reads the state; a value filter declines") {
    import graft.sources.CommitLog
    val df = SparkEntry.queries("view_rewrite_filtered")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_aggview"),
      "filtered rewrite did not fire:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc"),
      "filtered rewrite still touches the fact:\n" + plan.take(3000))
    // values equal the maintained-view read filtered the same way
    val direct = SparkEntry.queries("dml_cdc_agg_view")(spark, sf)
      .filter(col("g").isin(2L, 4L, 6L)).collect().map(_.toSeq)
    assert(df.collect().map(_.toSeq).toSeq == direct.toSeq)
    // NEGATIVE: a row-level predicate (on the value column) must keep
    // the fact scan — filtering p inside groups is not group-selection
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(root).last
    val rowLevel = CommitLog.snapshot(spark, root, vLast)
      .filter(col("p") > 1000.0)
      .groupBy((col("k") % 10).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
    val rlPlan = planText(rowLevel)
    assert(!rlPlan.contains("graft_aggview"),
      "row-level predicate wrongly subsumed:\n" + rlPlan.take(3000))
  }

  test("MV avg rewrite: rollup avg reads the state and matches the direct quotient") {
    val df = SparkEntry.queries("view_rewrite_avg")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_aggview"),
      "avg rewrite did not fire:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc"),
      "avg rewrite still touches the fact:\n" + plan.take(3000))
    // the re-aggregated quotient equals rolling up the maintained
    // view read: sum(total)/sum(n) at this fixture (no NULL values,
    // so nn == n) — computed through the same decimal division
    val direct = SparkEntry.queries("dml_cdc_agg_view")(spark, sf)
      .groupBy((col("g") % 3).as("g3"))
      .agg(sum(col("n")).as("n"),
        (sum(col("total"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 2))
          / sum(col("n")).cast(org.apache.spark.sql.types.DecimalType(20, 0)))
          .cast(df.schema("avg_p").dataType).as("avg_p"))
      .orderBy("g3").collect().map(_.toSeq)
    assert(df.collect().map(_.toSeq).toSeq == direct.toSeq)
    // and the values equal the REAL direct aggregate with the view
    // dropped from the catalog (the entry would re-register, so the
    // unrewritten twin is built by hand on the same snapshot)
    import graft.sources.CommitLog
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(root).last
    graft.plans.MvCatalog.drop(spark, "orders_by_g")
    try {
      val off = CommitLog.snapshot(spark, root, vLast)
        .groupBy(((col("k") % 10) % 3).as("g3"))
        .agg(count(lit(1)).as("n"), avg(col("p")).as("avg_p"))
        .orderBy("g3")
      assert(!planText(off)
        .contains("graft_aggview"))
      assert(off.collect().map(_.toSeq).toSeq ==
        df.collect().map(_.toSeq).toSeq,
        "rewritten avg diverges from the direct aggregate")
    } finally SparkEntry.queries("view_rewrite_avg")(spark, sf).count()
  }

  test("MV multi-key rollup: both key-functional grouping keys read the state") {
    val df = SparkEntry.queries("view_rewrite_multikey")(spark, sf)
    val plan = planText(df)
    assert(plan.contains("graft_aggview"),
      "multi-key rewrite did not fire:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc"),
      "multi-key rewrite still touches the fact:\n" + plan.take(3000))
    val direct = SparkEntry.queries("dml_cdc_agg_view")(spark, sf)
      .groupBy(
        expr("CASE WHEN g < 5 THEN 'low' ELSE 'high' END").as("band"),
        col("g"))
      .agg(sum(col("n")).as("n"),
        sum(col("total")).cast(DecimalType(38, 2)).as("total"))
      .orderBy("band", "g").collect().map(_.toSeq)
    assert(df.collect().map(_.toSeq).toSeq == direct.toSeq)
    // and a PAIR where one key is non-key-functional still declines
    import graft.sources.CommitLog
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(root).last
    val mixed = CommitLog.snapshot(spark, root, vLast)
      .groupBy((col("k") % 10).as("g"), (col("k") % 7).as("g7"))
      .agg(count(lit(1)).as("n"))
    assert(!planText(mixed)
      .contains("graft_aggview"),
      "pair with a non-key-functional member wrongly rerouted")
  }

  test("MV rollup rewrite never fires when the key mixes in non-key columns") {
    import graft.sources.CommitLog
    SparkEntry.queries("view_rewrite_rollup")(spark, sf).count()
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(root).last
    // (k % 10) appears, but the group key ALSO references p — not a
    // function of the view key; substitution leaves a scan attribute
    // behind and the rule must decline
    val mixed = CommitLog.snapshot(spark, root, vLast)
      .groupBy(((col("k") % 10) + col("p").cast("bigint")).as("gx"))
      .agg(count(lit(1)).as("n"))
    val mixedPlan = planText(mixed)
    assert(!mixedPlan.contains("graft_aggview"),
      "non-subsumed rollup rerouted:\n" + mixedPlan.take(3000))
  }

  test("MV rewrite emits NULL (not 0) for a group whose values are all NULL") {
    import spark.implicits._
    val dir = scratch("graft_r14_mvnull")
    // fact: k % 4 groups 1 and 3 carry only NULL values
    val fact = Seq[(Long, Option[java.math.BigDecimal])](
      (0L, Some(new java.math.BigDecimal("10.00"))),
      (1L, None), (2L, Some(new java.math.BigDecimal("20.00"))),
      (3L, None), (4L, Some(new java.math.BigDecimal("30.00"))),
      (5L, None), (6L, Some(new java.math.BigDecimal("40.00"))),
      (7L, None)).toDF("k", "p")
      .select(col("k"), col("p").cast(DecimalType(18, 2)).as("p"))
    fact.coalesce(1).write.parquet(s"$dir/fact")
    // the maintained state the fold would produce: nn = non-null count
    fact.groupBy((col("k") % 4).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("nn"),
        coalesce(sum(col("p")),
          lit(java.math.BigDecimal.ZERO)).cast(DecimalType(38, 2)).as("total"))
      .write.parquet(s"$dir/state")
    val factPath = java.nio.file.Paths.get(s"$dir/fact")
      .toAbsolutePath.normalize.toString
    graft.plans.MvCatalog.register(spark, "r14_nulls",
      graft.plans.MvCatalog.MvDef(Set(factPath), "k % 4", "p", s"$dir/state"))
    try {
      def expect(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
        val plan = planText(df)
        assert(plan.contains("graft_r14_mvnull") && plan.contains("state"),
          "rewrite did not fire:\n" + plan.take(2000))
        assert(!plan.contains("fact"),
          "rewritten plan still reads the fact:\n" + plan.take(2000))
        df.collect().map(_.toSeq).toSeq
      }
      // EXACT shape: groups 1 and 3 must sum to NULL, not 0
      val exact = expect(spark.read.parquet(s"$dir/fact")
        .groupBy((col("k") % 4).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"))
        .orderBy("g"))
      assert(exact.map(r => (r(0), r(1))) ==
        Seq((0L, 2L), (1L, 2L), (2L, 2L), (3L, 2L)))
      assert(exact(1)(2) == null && exact(3)(2) == null,
        s"all-NULL groups must sum to NULL: $exact")
      assert(exact(0)(2) != null && exact(2)(2) != null)
      // ROLLUP shape: (k%4)%2 = 1 merges two all-NULL groups → NULL;
      // (k%4)%2 = 0 merges NULL-free groups → 10+20+30+40
      val rolled = expect(spark.read.parquet(s"$dir/fact")
        .groupBy(((col("k") % 4) % 2).as("g2"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"))
        .orderBy("g2"))
      assert(rolled.map(r => (r(0), r(1))) == Seq((0L, 4L), (1L, 4L)))
      assert(rolled(1)(2) == null, s"merged all-NULL rollup must be NULL: $rolled")
      assert(rolled(0)(2).toString == "100.00", s"rollup sum wrong: $rolled")
    } finally graft.plans.MvCatalog.drop(spark, "r14_nulls")
  }

  test("ts_decompose: integer chain matches a reference decimal computation (no double ever cast)") {
    val rows = SparkEntry.queries("ts_decompose")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val trend = r.getDecimal(3); val seasonal = r.getDecimal(4)
      val resid = r.getDecimal(5)
      assert(trend.scale == 6 && seasonal.scale == 6 && resid.scale == 6)
      // the decomposition identity holds EXACTLY in 1e-6 units:
      // cnt - trend - seasonal - resid == 0 (every term exact)
      val cnt = new java.math.BigDecimal(r.getLong(2)).setScale(6)
      assert(cnt.subtract(trend).subtract(seasonal).subtract(resid)
        .compareTo(java.math.BigDecimal.ZERO) == 0,
        s"decomposition identity broken at $r")
    }
  }

  test("CBO family: q3/q5/q7/q10 hint-free plans are all-broadcast with the fact probe-side") {
    for (q <- Seq("tpch_q3_cbo", "tpch_q5_cbo", "tpch_q7_cbo",
        "tpch_q10_cbo")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = planText(df)
      // plan parity with the hand-tuned entries: every dim broadcasts,
      // no shuffle join anywhere — from statistics alone, no hints
      assert(plan.contains("BroadcastHashJoin") &&
        !plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"$q: stats-driven plan missed the all-broadcast shape:\n" +
          plan.take(2500))
      // The RAW fact must never be a broadcast build side: walk each
      // BroadcastExchange's SUBTREE in the plan text (child lines
      // indent deeper) and require that any lineitem scan under it is
      // FILTERED first (ADVICE r14: the previous formulation computed
      // the exchange lines but never asserted on them). A filtered
      // fact legitimately broadcasts when the stats say it is the
      // smaller side — at this SF q10's returnflag-filtered lineitem
      // fits the threshold while the orders side estimates large (its
      // TIMESTAMP_NTZ date predicate carries no column stats, see
      // ensureCatalog) — but an UNFILTERED fact build is always a
      // stats failure.
      val lines = plan.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("BroadcastExchange"))
        .foreach { case (bLine, i) =>
          val ind = nodeStart(bLine)
          val subtree = lines.drop(i + 1)
            .takeWhile(l => nodeStart(l) > ind)
          if (subtree.exists(_.contains("lineitem")))
            assert(subtree.exists(l =>
              l.contains("Filter") && l.contains("l_")),
              s"$q: RAW lineitem broadcast as a build side:\n" +
                (bLine +: subtree).mkString("\n"))
        }
      assert(df.count() > 0)
    }
    // and the values equal the hand-tuned entries (shared oracle body)
    val cbo = SparkEntry.queries("tpch_q10_cbo")(spark, sf)
      .collect().map(_.toSeq)
    val hand = SparkEntry.queries("tpch_q10")(spark, sf)
      .collect().map(_.toSeq)
    assert(cbo.toSeq == hand.toSeq, "q10 CBO values diverge from hand-tuned")
  }

  test("sidecar-fed stats: catalog rowCount/min/max come from cstats alone, no ANALYZE") {
    SparkEntry.queries("cbo_sidecar_stats")(spark, sf).count()
    val rel = spark.table("g_sc_orders").queryExecution.optimizedPlan
    val rc = rel.stats.rowCount
    val truth = Tables.load(spark, sf, "orders").count()
    assert(rc.isDefined && rc.get.toLong == truth,
      s"sidecar rowCount not visible to the optimizer: $rc vs $truth")
    // the column min/max folded from the sidecar are in the catalog
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst
        .TableIdentifier("g_sc_orders"))
    val okStat = meta.stats.get.colStats("o_orderkey")
    val okTruth = Tables.load(spark, sf, "orders")
      .agg(min("o_orderkey"), max("o_orderkey")).head()
    assert(okStat.min.get.toLong == okTruth.getLong(0) &&
      okStat.max.get.toLong == okTruth.getLong(1),
      s"sidecar min/max wrong: $okStat vs $okTruth")
    // structural no-ANALYZE guarantee: the registration path never
    // issues one — the stats above could only have come from the
    // sidecar fold (this assertion documents the contract)
    val plan = planText(SparkEntry.queries("cbo_sidecar_stats")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "sidecar-stats'd join did not broadcast:\n" + plan.take(2000))
  }

  test("foreign-key constraint: lifecycle accepts/rejects and the probe edge cases hold") {
    import graft.sources.CommitLog
    import spark.implicits._
    // the shipped lifecycle embeds its own reject/accept requires —
    // running it IS the pin (orphan reject via stats routing, WAP
    // audit failure, MoR dead-parent reject, no burned versions)
    val out = SparkEntry.queries("dml_fk_constraint")(spark, sf)
      .collect()
    assert(out.length == 2 && out(1).getLong(1) > out(0).getLong(1))
    // edge 1: an fk against a referenced table with NO committed
    // version rejects any non-null reference
    val t = scratch("graft_r14_fkedge")
    val emptyRef = s"$t/emptyref"
    val fact = s"$t/fact"
    CommitLog.declareConstraints(fact,
      Seq(CommitLog.ForeignKeyConstraint("c", emptyRef, "ck")))
    Seq((1L, 5L)).toDF("k", "c").coalesce(1).write.parquet(s"$fact/u0")
    val e = intercept[IllegalArgumentException] {
      CommitLog.commitConstrained(spark, fact, 0L, Seq("u0"))
    }
    assert(e.getMessage.contains("no committed version"), e.getMessage)
    // edge 2: an all-NULL fk batch passes (SQL simple match rule)
    Seq((1L, Option.empty[Long])).toDF("k", "c")
      .coalesce(1).write.parquet(s"$fact/u1")
    CommitLog.commitConstrained(spark, fact, 0L, Seq("u1"))
    assert(CommitLog.versions(fact) == Seq(0L))
    // edge 3: round-trip of the declared constraint through the file
    val cs = CommitLog.constraintsOf(fact)
    assert(cs == Seq(CommitLog.ForeignKeyConstraint("c", emptyRef, "ck")))
  }

  test("unique constraint: decimal keys take the full-snapshot path (no footer reparse crash)") {
    import graft.sources.CommitLog
    import spark.implicits._
    val t = scratch("graft_r14_uqdec")
    CommitLog.declareConstraints(t, Seq(CommitLog.UniqueConstraint("dk")))
    Seq("1.10", "2.20").map(new java.math.BigDecimal(_)).toDF("dk")
      .select(col("dk").cast(DecimalType(18, 2)).as("dk"))
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commitConstrained(spark, t, 0L, Seq("u0"))
    // a cstats sidecar on the decimal key exists — ADVICE r13: the
    // range-pruned path would stringify Row.get.toString ("3.30") and
    // reparse by the footer kind ("long", the INT64 physical) →
    // NumberFormatException; the type gate must route around it
    CommitLog.writeColStats(t, 0L,
      CommitLog.footerColStats(spark, t, Seq("u0"), Seq("dk")))
    Seq("3.30").map(new java.math.BigDecimal(_)).toDF("dk")
      .select(col("dk").cast(DecimalType(18, 2)).as("dk"))
      .coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commitConstrained(spark, t, 1L, Seq("u0", "u1")) // must not throw
    // and a genuine duplicate still rejects through the fallback path
    Seq("1.10").map(new java.math.BigDecimal(_)).toDF("dk")
      .select(col("dk").cast(DecimalType(18, 2)).as("dk"))
      .coalesce(1).write.parquet(s"$t/u2")
    val e = intercept[IllegalArgumentException] {
      CommitLog.commitConstrained(spark, t, 2L, Seq("u0", "u1", "u2"))
    }
    assert(e.getMessage.contains("unique(dk)"), e.getMessage)
  }

  test("unique constraint: a key whose only copy was MoR-deleted accepts a re-insert") {
    import graft.sources.CommitLog
    import spark.implicits._
    val t = scratch("graft_r14_uqmor")
    CommitLog.declareConstraints(t, Seq(CommitLog.UniqueConstraint("k")))
    Seq(1L, 2L, 3L).toDF("k").coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commitConstrained(spark, t, 0L, Seq("u0"))
    // v1: MoR-delete k=2 (tombstone unit, no data rewrite)
    Seq(2L).toDF("k").coalesce(1).write.parquet(s"$t/t0")
    CommitLog.commit(t, 1L, Seq("u0"))
    CommitLog.writeDeletes(t, 1L, Seq("t0"))
    // ADVICE r13: the probe used to run on the raw pre-image, so the
    // dead key 2 falsely rejected its re-insert; it must commit now
    Seq(2L).toDF("k").coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commitConstrained(spark, t, 2L, Seq("u0", "u1"))
    assert(CommitLog.versions(t) == Seq(0L, 1L, 2L))
    // while a LIVE key still rejects under the same MoR snapshot
    Seq(3L).toDF("k").coalesce(1).write.parquet(s"$t/u2")
    val e = intercept[IllegalArgumentException] {
      CommitLog.commitConstrained(spark, t, 3L, Seq("u0", "u1", "u2"))
    }
    assert(e.getMessage.contains("unique(k)"), e.getMessage)
  }

  test("CBO catalog: switching data dirs re-registers the session-global tables") {
    // ADVICE r13 (medium): the g_cbo_* tables are session-global; a
    // per-(app,dir) cache stayed 'ready' for dir A after dir B
    // repointed them. Registering A, then B, then A again must leave
    // the catalog serving A's row counts.
    val a = sf
    val b = "/root/testdata/sf0.01"
    graft.queries.CboQueries.ensureCatalog(spark, a)
    val rowsA = spark.table("g_cbo_orders").count()
    graft.queries.CboQueries.ensureCatalog(spark, b)
    val rowsB = spark.table("g_cbo_orders").count()
    assert(rowsB > rowsA, s"dir switch did not repoint: $rowsA vs $rowsB")
    graft.queries.CboQueries.ensureCatalog(spark, a)
    assert(spark.table("g_cbo_orders").count() == rowsA,
      "switch-back served the stale dir's data")
    // and the optimizer-visible stats moved with it
    val rc = spark.table("g_cbo_orders")
      .queryExecution.optimizedPlan.stats.rowCount
    assert(rc.isDefined && rc.get.toLong == rowsA,
      s"stats stale after switch-back: $rc vs $rowsA")
  }
}
