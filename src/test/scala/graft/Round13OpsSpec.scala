package graft

import org.apache.spark.sql.functions._

/** Round-13 pins: the ADVICE r12 CommitLog hardening (drop-shadow
  * adds, constant-only defaults, data-only purge receipts).
  */
class Round13OpsSpec extends GraftSpec {

  import graft.sources.CommitLog

  test("addColumn cannot shadow a dropped physical column (no tombstone resurrection)") {
    import spark.implicits._
    val t = scratch("graft_r13_addback")
    Seq((1L, "secret-a"), (2L, "secret-b")).toDF("k", "pii")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.dropColumn(spark, t, "pii") // v1: tombstoned
    // ADVICE r12 (medium): re-adding the dropped NAME used to pass the
    // logical-schema check, and snapshotMapped then REQUESTED the name
    // from the scan — pre-drop files' physical values resurfaced
    // instead of the default, resurrecting erased data. Must refuse.
    val e = intercept[IllegalArgumentException] {
      CommitLog.addColumn(spark, t, "pii", "string", "'redacted'")
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    // a FRESH name is the sanctioned flow and must still work
    val v2 = CommitLog.addColumn(spark, t, "pii_masked", "string", "'redacted'")
    val s2 = CommitLog.snapshotMapped(spark, t, v2)
    assert(s2.columns.toSeq == Seq("k", "pii_masked"))
    assert(s2.filter(col("pii_masked") =!= "redacted").limit(1).isEmpty)
  }

  test("addColumn cannot shadow a renamed-away physical name") {
    import spark.implicits._
    val t = scratch("graft_r13_addrenamed")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p").coalesce(1)
      .write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.renameColumn(spark, t, "p", "price") // v1: physical p stays
    // logical schema is (k, price), so "p" looks free — but the
    // physical field p still backs price; an added column named p
    // would collide in the requested scan schema and evict price
    val e = intercept[IllegalArgumentException] {
      CommitLog.addColumn(spark, t, "p", "double", "0.0")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val s1 = CommitLog.snapshotMapped(spark, t, 1L)
    assert(s1.columns.toSeq == Seq("k", "price"))
  }

  test("addColumn refuses non-constant defaults (reads must never drift)") {
    import spark.implicits._
    val t = scratch("graft_r13_addnondet")
    Seq((1L, 1.0)).toDF("k", "v").coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    // ADVICE r12: snapshotMapped re-evaluates the default on EVERY
    // read, so rand()/current_timestamp would yield different values
    // per read and per engine; DDL-time validation must reject them.
    for (bad <- Seq("rand()", "current_timestamp()", "now()")) {
      val e = intercept[IllegalArgumentException] {
        CommitLog.addColumn(spark, t, s"c${bad.length}", "double",
          s"cast($bad AS double)")
      }
      assert(e.getMessage.contains("constant"), s"$bad: ${e.getMessage}")
    }
    // foldable expressions of literals remain fine
    val v = CommitLog.addColumn(spark, t, "c_ok", "double", "1.5 + 2.5")
    assert(CommitLog.snapshotMapped(spark, t, v)
      .filter(col("c_ok") =!= 4.0).limit(1).isEmpty)
  }

  test("filtered ANN: IVF pre-filter equals the exact filtered tier at nprobe=nlist") {
    import graft.api.GraftOps
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, sf, "embeddings")
    val cent = GraftOps.centroids(emb, "label", "embedding")
    val nlist = cent.count().toInt
    val idxDir = scratch("graft_r13_ivf_filter")
    GraftOps.ivfIndexBuild(emb, "vec_id", "embedding", cent,
      s"$idxDir/idx", payload = Seq("label"))
    // nprobe = nlist: every bucket scanned, so the ONLY difference
    // from exact is the index layout — pre-filtering on index payload
    // must reproduce the exact filtered top-k verbatim (the equality
    // anchor; at nprobe < nlist the tiers diverge only by recall)
    val viaIndex = GraftOps.ivfTopKFromIndex(spark, s"$idxDir/idx",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", cent,
        k = 5, nprobe = nlist,
        candidatePredicate = Some(col("label") % 2 === 1))
      .orderBy("q_id", "rn").collect().map(_.toSeq)
    val exact = GraftOps.cosineTopK(emb, "vec_id", "embedding",
        probePredicate = col("vec_id") < 10, k = 5,
        candidatePredicate = col("label") % 2 === 1)
      .orderBy("q_id", "rn").collect().map(_.toSeq)
    assert(viaIndex.toSeq == exact.toSeq,
      s"index tier diverged: ${viaIndex.take(3).toSeq} vs ${exact.take(3).toSeq}")
    // every returned candidate satisfies the predicate
    val odd = emb.filter(col("label") % 2 === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact.forall(r => odd(r(1).asInstanceOf[Long])))
  }

  test("filtered ANN: the predicate reaches the index parquet scan (plan pin)") {
    val df = SparkEntry.queries("sim_ivf_filtered")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // partition pruning on bucket AND the payload predicate pushed to
    // the same scan: the scan's PushedFilters must mention label — a
    // post-scan-only filter would read every row of the probed buckets
    val scanLine = plan.linesIterator
      .filter(l => l.contains("PushedFilters") && l.contains("label"))
    assert(scanLine.nonEmpty,
      "no scan pushes the label predicate:\n" + plan.take(3000))
    assert(df.count() > 0)
  }

  test("materialized-view rewrite: the aggregate reads the view state, never the fact units") {
    val df = SparkEntry.queries("view_rewrite_agg")(spark, sf)
    // string pin (AQE hides scan nodes from pre-execution collect):
    // the plan must scan the view state (the aggview fold dir) and the
    // fact table's units (graft_cdc.../data/...) must not appear
    val plan = planText(df)
    assert(plan.contains("graft_aggview"),
      "rewrite did not fire — no view-state scan:\n" + plan.take(3000))
    assert(!plan.contains("graft_cdc"),
      "rewritten plan still touches the fact units:\n" + plan.take(3000))
    // and the rewritten values equal the maintained-view read
    val direct = SparkEntry.queries("dml_cdc_agg_view")(spark, sf)
      .collect().map(_.toSeq)
    assert(df.collect().map(_.toSeq).toSeq == direct.toSeq)
  }

  test("materialized-view rewrite never fires for a non-subsumed aggregate") {
    import graft.sources.CommitLog
    // run the rewrite entry once so the catalog holds the view and
    // the rule is injected in this session
    SparkEntry.queries("view_rewrite_agg")(spark, sf).count()
    // same fact snapshot, DIFFERENT group key: must scan the fact
    val root = graft.queries.LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(root).last
    val other = CommitLog.snapshot(spark, root, vLast)
      .groupBy((col("k") % 7).as("g7"))
      .agg(count(lit(1)).as("n"))
    val otherPlan = planText(other)
    assert(!otherPlan.contains("graft_aggview"),
      "non-subsumed aggregate rerouted:\n" + otherPlan.take(3000))
    // and an OLDER version's snapshot never matches (freshness guard)
    val stale = CommitLog.snapshot(spark, root, 0L)
      .groupBy((col("k") % 10).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
    val stalePlan = planText(stale)
    assert(!stalePlan.contains("graft_aggview"),
      "stale snapshot rerouted to fresher state:\n" + stalePlan.take(3000))
  }

  test("CBO: catalog stats flow to the optimizer and join reorder replaces the written order") {
    val df = SparkEntry.queries("tpch_q8_cbo")(spark, sf)
    // 1. ANALYZE persisted row counts the optimizer can see
    val rc = spark.table("g_cbo_lineitem")
      .queryExecution.optimizedPlan.stats.rowCount
    assert(rc.isDefined && rc.get.toLong ==
      Tables.load(spark, sf, "lineitem").count(),
      s"catalog row count not visible to the optimizer: $rc")
    // 2. join reorder FIRED: the SQL is written fact-first, and with
    // stats the optimizer must not leave lineitem as the first (most
    // deeply nested left) relation — it builds the selective
    // customer⋈nation side first; with reorder disabled the written
    // order survives verbatim
    def firstRelation(plan: String): String =
      plan.linesIterator.filter(_.contains("Relation spark_catalog"))
        .map(_.split("g_cbo_")(1).takeWhile(_.isLetter)).next()
    val cboFirst = firstRelation(df.queryExecution.optimizedPlan.treeString)
    assert(cboFirst != "lineitem",
      s"join reorder did not fire — fact still leads: $cboFirst")
    try {
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      val naive = spark.sql(graft.queries.CboQueries.q8Sql("g_cbo_"))
      assert(firstRelation(naive.queryExecution.optimizedPlan.treeString)
        == "lineitem", "written order expected without reorder")
    } finally spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    // 3. the hint-free plan lands the hand-tuned tpch_q8 SHAPE: every
    // dimension broadcast, no sort-merge join anywhere
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin") &&
      !phys.contains("SortMergeJoin"),
      "stats-driven plan missed the all-broadcast shape:\n" + phys.take(2000))
    assert(df.count() > 0)
  }

  test("positional postings do not regress the BM25 probes' column pruning") {
    // the v-layout now carries a positions array in every postings
    // row (text_phrase_match); the BM25 probes must keep their narrow
    // reads — a scan that decodes tf-sized arrays for a scoring query
    // would pay the phrase feature on every lookup
    val df = SparkEntry.queries("text_bm25_postings")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val postingsReads = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("term"))
    assert(postingsReads.nonEmpty, plan.take(2000))
    postingsReads.foreach(l =>
      assert(!l.contains("positions"),
        s"BM25 probe decodes the positions payload: $l"))
    assert(df.count() > 0)
    // and the phrase probe's scan DOES read them
    val pf = SparkEntry.queries("text_phrase_match")(spark, sf)
    val pplan = pf.queryExecution.executedPlan.toString
    assert(pplan.contains("positions"), pplan.take(2000))
    assert(pf.count() > 0)
  }

  test("topKPerGroup: the cap-crossing row survives the partial overflow (sf1 find)") {
    import graft.api.GraftOps
    // One row per group, k=1: the output must contain every group. The
    // pre-fix code evaluated iter.hasNext AFTER capturing the
    // cap-crossing row without copying it — a WholeStageCodegen
    // child's hasNext produces the NEXT row into its shared buffer, so
    // the overflow row silently became a duplicate of its successor
    // and its group vanished from the result (caught at the sf1 probe
    // as one wrong group among 150k; invisible at any smaller SF
    // because the 2^17 cap never engaged).
    val df = spark.range(2000).selectExpr("id AS g", "id AS v").repartition(1)
    val out = GraftOps.topKPerGroup(df, Seq("g"), Seq(("v", true)), 1,
      maxPartialGroups = 1000)
    assert(out.count() == 2000L)
    assert(out.select("g").distinct().count() == 2000L,
      "a group vanished at the partial-phase cap boundary")
  }

  test("purge receipt counts data rows once when a key also sits in a dv sidecar") {
    import spark.implicits._
    val t = scratch("graft_r13_purgecount")
    (0L until 50L).map(k => (k, k * 10L)).toDF("k", "p")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    // v1: MoR-delete keys 5..9 — they now exist in BOTH a data unit
    // and the dv sidecar
    (5L until 10L).map(Tuple1(_)).toDF("k").coalesce(1)
      .write.parquet(s"$t/t0")
    CommitLog.commit(t, 1L, Seq("u0"))
    CommitLog.writeDeletes(t, 1L, Seq("t0"))
    // purging keys 5..7: 3 data rows erased; the 3 tombstone rows are
    // scrubbed from the dv too but are NOT data (ADVICE r12 — the old
    // sum over data++dv units reported 6)
    val rep = CommitLog.purgeKeys(spark, t, "k", Seq(5L, 6L, 7L))
    assert(rep.rowsPurged == 3L, rep.toString)
    // semantics unchanged: 8..9 still MoR-deleted, 5..7 gone everywhere
    val v1 = CommitLog.snapshotMoR(spark, t, 1L, "k")
    assert(v1.filter(col("k").between(5L, 9L)).limit(1).isEmpty)
    assert(v1.count() == 45L)
  }
}
