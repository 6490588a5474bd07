package graft

import org.apache.spark.sql.functions._

/** Round-11 commit-log maintenance layer: bloom sidecars that survive
  * compaction / COW merge / delete application, the delta-sized bloom
  * publish, the rebuildStats crash-recovery op, per-touched-unit
  * rewrites that keep the stats layout disjoint, encoding-armored
  * sidecar lines, and the probe/build hash parity fix.
  */
class Round11OpsSpec extends GraftSpec {

  import graft.sources.CommitLog

  /** `n` units clustered on k (disjoint ranges of `per` keys) with a
    * scattered `uid` string column, committed as v0 WITH range stats —
    * the bloom fixture: uid min/max spans the domain in every unit, so
    * range stats prune nothing and only the bloom layer can skip.
    */
  private def seedBloom(dir: String, n: Int, per: Int): Unit = {
    import spark.implicits._
    (0 until n).foreach { u =>
      (0 until per).map { i =>
        val k = u * per + i
        (k.toLong, f"uid_${(k * 2654435761L) % 100000}%05d")
      }.toDF("k", "uid").coalesce(1).write.parquet(s"$dir/u$u")
    }
    CommitLog.commit(dir, 0L, (0 until n).map(u => s"u$u"))
    CommitLog.writeColStats(dir, 0L, longStats("k", (0 until n).map(u =>
      (s"u$u", u.toLong * per, u.toLong * per + per - 1, per.toLong))))
  }

  private def uidOf(k: Long): String =
    f"uid_${(k * 2654435761L) % 100000}%05d"

  test("bloom sidecar survives compaction as pure sidecar arithmetic") {
    val t = scratch("graft_r11_bpack")
    seedBloom(t, 4, 250)
    CommitLog.writeBloomStats(spark, t, 0L, "uid", 250L, 0.01)
    // pack everything: the packed unit's filter must be the merged
    // union of the four packed filters — no data reads needed
    val v1 = CommitLog.compact(spark, t, Long.MaxValue).get
    assert(CommitLog.unitNames(t, v1).size == 1)
    val snap = CommitLog.snapshot(spark, t, v1).filter(col("uid") === uidOf(700L))
    val scanned = CommitLog.scannedUnits(snap)
    assert(scanned == 1, s"present probe must scan the packed unit, got $scanned")
    assert(snap.count() >= 1)
    // definitely-absent probe: the merged filter still says no
    val missScanned = CommitLog.scannedUnits(
      CommitLog.snapshot(spark, t, v1).filter(col("uid") === "no_such_uid"))
    assert(missScanned == 0,
      s"absent probe must prune the packed unit, got $missScanned")
  }

  test("bloom sidecar survives mergeCow: carried verbatim + rebuilt delta-only") {
    import spark.implicits._
    val t = scratch("graft_r11_bmerge")
    seedBloom(t, 4, 250)
    CommitLog.writeBloomStats(spark, t, 0L, "uid", 250L, 0.01)
    // update one key inside u1: only u1's filter is rebuilt
    val v1 = CommitLog.mergeCow(spark, t,
      Seq((260L, "uid_fresh")).toDF("k", "uid"), "k")
    // an untouched unit's value still prunes to ~1 unit
    val snap = CommitLog.snapshot(spark, t, v1).filter(col("uid") === uidOf(700L))
    val scanned = CommitLog.scannedUnits(snap)
    assert(scanned >= 1 && scanned <= 2,
      s"carried filters must keep pruning (fp tolerance 1), got $scanned")
    assert(snap.count() >= 1)
    // the post-image value lives in the rebuilt filter
    val updSnap = CommitLog.snapshot(spark, t, v1).filter(col("uid") === "uid_fresh")
    assert(CommitLog.scannedUnits(updSnap) >= 1)
    assert(updSnap.count() == 1)
    // the replaced pre-image value is gone from the data whatever the
    // (rebuilt, hence honest) filter answers
    assert(CommitLog.snapshot(spark, t, v1)
      .filter(col("uid") === uidOf(260L)).count() == 0)
  }

  test("bloom sidecar survives applyDeletes; emptied units leave the manifest") {
    import spark.implicits._
    val t = scratch("graft_r11_bapply")
    seedBloom(t, 4, 250)
    CommitLog.writeBloomStats(spark, t, 0L, "uid", 250L, 0.01)
    // tombstone ALL of u0 plus one row of u2: u0 must vanish (no
    // empty-unit stats NPE — ADVICE r10), u2 is rewritten per-unit
    (0L until 250L).map(Tuple1(_)).toDF("k")
      .unionAll(Seq(Tuple1(600L)).toDF("k"))
      .coalesce(1).write.parquet(s"$t/dv")
    CommitLog.writeDeletes(t, 0L, Seq("dv"))
    val v1 = CommitLog.applyDeletes(spark, t, "k")
    assert(CommitLog.snapshot(spark, t, v1).count() == 4 * 250 - 251)
    assert(CommitLog.unitNames(t, v1).size == 3,
      "the fully-emptied unit must not survive in the manifest")
    // bloom still answers for the whole snapshot, including the
    // rewritten unit, and still prunes
    val snap = CommitLog.snapshot(spark, t, v1).filter(col("uid") === uidOf(300L))
    val scanned = CommitLog.scannedUnits(snap)
    assert(scanned >= 1 && scanned <= 2)
    assert(snap.count() >= 1)
    assert(CommitLog.snapshot(spark, t, v1)
      .filter(col("uid") === uidOf(600L)).count() == 0)
    // the folded stats still route: a follow-up merge succeeds
    val v2 = CommitLog.mergeCow(spark, t,
      Seq((700L, "uid_v2")).toDF("k", "uid"), "k")
    assert(CommitLog.snapshot(spark, t, v2)
      .filter(col("uid") === "uid_v2").count() == 1)
  }

  test("numeric probes hash like the build: no guaranteed false negatives") {
    import spark.implicits._
    val t = scratch("graft_r11_bnum")
    (0 until 100).map(i => Tuple1(i.toLong * 7)).toDF("k")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.writeBloomStats(spark, t, 0L, "k", 100L, 0.01)
    // a Long probe on a BIGINT column: the build hashed
    // cast('string'), so the probe must too — the raw-Long dispatch to
    // mightContainLong answered a guaranteed false negative here
    val snap = CommitLog.snapshot(spark, t, 0L).filter(col("k") === 77L)
    val scanned = CommitLog.scannedUnits(snap)
    assert(scanned == 1, s"numeric probe must hit its own unit, got $scanned")
    assert(snap.count() == 1)
  }

  test("mergeCow on non-adjacent units keeps ranges disjoint and the table mergeable") {
    import spark.implicits._
    val t = scratch("graft_r11_nonadj")
    (0 until 6).foreach { u =>
      (0 until 10).map(i => ((u * 10 + i).toLong, s"s$u"))
        .toDF("k", "s").coalesce(1).write.parquet(s"$t/u$u")
    }
    CommitLog.commit(t, 0L, (0 until 6).map(u => s"u$u"))
    CommitLog.writeColStats(t, 0L, longStats("k", (0 until 6).map(u =>
      (s"u$u", u.toLong * 10, u.toLong * 10 + 9, 10L))))
    // touch units 2 and 4 (non-adjacent): the rewrite must emit ONE
    // unit per touched unit, each range a subset of its source's — a
    // collapsed rewrite would span carried u3 and permanently trip the
    // next merge's overlap require
    val v1 = CommitLog.mergeCow(spark, t,
      Seq((25L, "upd"), (45L, "upd")).toDF("k", "s"), "k")
    val got = CommitLog.snapshot(spark, t, v1)
      .filter(col("k").isin(25L, 45L, 35L))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(25L -> "upd", 35L -> "s3", 45L -> "upd"))
    // the table is NOT locked out: a second merge routes and commits
    val v2 = CommitLog.mergeCow(spark, t,
      Seq((5L, "upd2")).toDF("k", "s"), "k")
    assert(CommitLog.snapshot(spark, t, v2)
      .filter(col("k") === 5L).head().getString(1) == "upd2")
    assert(CommitLog.snapshot(spark, t, v2).count() == 60)
  }

  test("cross-op OCC: a merge losing to a concurrent compaction retries on the packed snapshot") {
    import spark.implicits._
    val t = scratch("graft_r11_xrace")
    (0 until 4).foreach { u =>
      (0 until 10).map(i => ((u * 10 + i).toLong, s"s$u"))
        .toDF("k", "s").coalesce(1).write.parquet(s"$t/u$u")
    }
    CommitLog.commit(t, 0L, (0 until 4).map(u => s"u$u"))
    CommitLog.writeColStats(t, 0L, longStats("k", (0 until 4).map(u =>
      (s"u$u", u.toLong * 10, u.toLong * 10 + 9, 10L))))
    // the merge prepares against v0; in its commit window a COMPACTION
    // wins v1 (packing everything into one unit and FOLDING the stats
    // sidecar). The merge must lose, re-read the packed snapshot, and
    // re-apply — routing off the folded stats, not the stale v0 layout.
    var fired = false
    val v = CommitLog.mergeCow(spark, t,
      Seq((15L, "upd")).toDF("k", "s"), "k",
      beforeCommit = () => if (!fired) {
        fired = true
        assert(CommitLog.compact(spark, t, Long.MaxValue).contains(1L))
      })
    assert(v == 2L, s"merge must land AFTER the compaction, got v$v")
    val got = CommitLog.snapshot(spark, t, v).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.size == 40 && got.contains(15L -> "upd")
      && got.contains(14L -> "s1"),
      "the retried merge must apply on top of the packed layout")
    // and the winner's folded stats still route a THIRD writer
    val v3 = CommitLog.mergeCow(spark, t, Seq((25L, "u2")).toDF("k", "s"), "k")
    assert(CommitLog.snapshot(spark, t, v3)
      .filter(col("k") === 25L).head().getString(1) == "u2")
  }

  test("mergeCow inserts split per gap: an interior-gap layout stays mergeable") {
    import spark.implicits._
    val t = scratch("graft_r11_gaps")
    // layout with an INTERIOR RANGE GAP (natural after applyDeletes
    // empties a unit): [0..9] and [30..39]
    Seq((0L, "a"), (9L, "a")).toDF("k", "s").coalesce(1)
      .write.parquet(s"$t/u0")
    Seq((30L, "b"), (39L, "b")).toDF("k", "s").coalesce(1)
      .write.parquet(s"$t/u1")
    CommitLog.commit(t, 0L, Seq("u0", "u1"))
    CommitLog.writeColStats(t, 0L,
      longStats("k", Seq(("u0", 0L, 9L, 2L), ("u1", 30L, 39L, 2L))))
    // inserts land in the interior gap (15) AND above everything (50):
    // a collapsed insert unit would publish [15,50], spanning carried
    // u1 and permanently tripping the next merge's overlap guard
    val v1 = CommitLog.mergeCow(spark, t,
      Seq((15L, "gap"), (50L, "top")).toDF("k", "s"), "k")
    val st1 = CommitLog.keyRanges(t, v1, "k").sortBy(_._2)
    assert(st1.size == 4, s"one insert unit per gap, got $st1")
    st1.sliding(2).foreach { case Seq((_, _, mxa, _), (_, mnb, _, _)) =>
      assert(mxa < mnb, s"ranges must stay disjoint: $st1")
    }
    // the table is NOT locked out: a second merge routes and commits
    val v2 = CommitLog.mergeCow(spark, t, Seq((35L, "upd")).toDF("k", "s"), "k")
    assert(CommitLog.snapshot(spark, t, v2).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(0L -> "a", 9L -> "a", 15L -> "gap", 30L -> "b", 35L -> "upd",
        39L -> "b", 50L -> "top"))
  }

  test("rebuildStats recovers the published-but-statless crash window") {
    import spark.implicits._
    val t = scratch("graft_r11_rebuild")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.parquet(s"$t/u0")
    Seq((11L, "c"), (12L, "d")).toDF("k", "s").coalesce(1)
      .write.parquet(s"$t/u1")
    CommitLog.commit(t, 0L, Seq("u0", "u1"))
    CommitLog.writeColStats(t, 0L,
      longStats("k", Seq(("u0", 1L, 2L, 2L), ("u1", 11L, 12L, 2L))))
    // simulate the mergeCow crash window: v1 wins tryCommit (here: a
    // plain append commit) but its stats sidecar was never published —
    // the next merge refuses to route
    Seq((21L, "e")).toDF("k", "s").coalesce(1).write.parquet(s"$t/u2")
    CommitLog.commit(t, 1L, Seq("u0", "u1", "u2"))
    val ex = intercept[IllegalArgumentException](CommitLog.mergeCow(
      spark, t, Seq((1L, "A")).toDF("k", "s"), "k"))
    assert(ex.getMessage.nonEmpty) // routing refused without stats
    // recovery: derive the sidecar from parquet footers — no data
    // pages read, no caller-remembered state — then the merge proceeds
    CommitLog.rebuildStats(spark, t, 1L, "k")
    val v2 = CommitLog.mergeCow(spark, t, Seq((1L, "A")).toDF("k", "s"), "k")
    assert(CommitLog.snapshot(spark, t, v2)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq(1L -> "A", 2L -> "b", 11L -> "c", 12L -> "d", 21L -> "e"))
    // rebuilding a version that already has stats fails loudly —
    // sidecars are immutable, there is nothing to recover
    intercept[Exception](CommitLog.rebuildStats(spark, t, 1L, "k"))
  }

  test("sim_ivf_delete answers like a rebuild over the remaining corpus") {
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.col
    val out = q("sim_ivf_delete").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getLong(3))).toSet
    assert(out.nonEmpty)
    // assignment against the frozen quantizer is pointwise, so
    // removing vectors cannot move any survivor's bucket — the
    // tombstoned index must rank EXACTLY like a from-scratch rebuild
    // over the remaining corpus (same probes: none are deleted)
    val emb = Tables.load(spark, sf, "embeddings")
    val cent = api.GraftOps.centroids(emb, "label", "embedding")
    val remaining = emb.filter(
      !(col("vec_id") % 9 === 0 && col("vec_id") >= 10))
    val full = api.GraftOps.ivfTopK(remaining, "vec_id", "embedding", cent,
        col("vec_id") < 10, k = 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getLong(3))).toSet
    assert(out == full,
      "tombstoned IVF must rank identically to a remaining-corpus rebuild")
    // and no tombstoned id survives as a neighbor
    assert(out.forall { case (_, cId, _, _) => cId % 9 != 0 || cId < 10 })
  }

  test("a streamed table gets range skipping for free via per-batch delta stats") {
    import spark.implicits._
    val t = scratch("graft_r11_sinkstats")
    // the stream_commit_sink foreachBatch body EXTENDED by the
    // delta-sized stats publish: carry the previous entries verbatim,
    // footer-measure ONLY the new unit — O(batch) metadata per commit,
    // and every committed version is range-skippable from birth
    def applyBatch(rows: Seq[(Long, String)], id: Long): Unit = {
      val rel = f"data/b$id%05d"
      rows.toDF("k", "s").coalesce(1)
        .write.parquet(java.nio.file.Paths.get(t, rel).toString)
      val prev: Seq[String] =
        if (CommitLog.versions(t).isEmpty) Seq.empty
        else CommitLog.unitNames(t, CommitLog.latestVersion(t))
      val prevSt =
        if (CommitLog.versions(t).isEmpty) Seq.empty
        else CommitLog.colStats(t, CommitLog.latestVersion(t))
      assert(CommitLog.tryCommit(t, id, prev :+ rel))
      CommitLog.writeColStats(t, id,
        prevSt ++ CommitLog.footerColStats(spark, t, Seq(rel), Seq("k")))
    }
    applyBatch((0L until 10L).map(k => (k, "a")), 0L)
    applyBatch((100L until 110L).map(k => (k, "b")), 1L)
    applyBatch((200L until 210L).map(k => (k, "c")), 2L)
    val snap = CommitLog.snapshot(spark, t, 2L).filter(col("k").between(100L, 105L))
    val scanned = CommitLog.scannedUnits(snap)
    assert(scanned == 1, s"probe must open only its batch's unit, got $scanned")
    assert(snap.count() == 6)
    val none = CommitLog.scannedUnits(
      CommitLog.snapshot(spark, t, 2L).filter(col("k").between(500L, 600L)))
    assert(none == 0, "a no-match probe is a fully-pruned read")
  }

  test("changes() through additive schema evolution aligns pre-images with null") {
    import spark.implicits._
    val t = scratch("graft_r11_cdcevo")
    Seq((1L, "a")).toDF("k", "s").coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    // v1 COW-rewrites u0 into an evolved unit that ADDS a column: the
    // feed's universe is the touched units' merged schema, so the
    // removed pre-image surfaces with flag = null and the evolved
    // post-images with their real values — a downstream replica sees
    // the widening exactly once, at the version that introduced it
    Seq((1L, "a", true), (2L, "b", false)).toDF("k", "s", "flag")
      .coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u1"))
    val feed = CommitLog.changes(spark, t, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), r.getString(3))).toSet
    assert(feed == Set(
      (1L, "a", None, "delete"),
      (1L, "a", Some(true), "insert"),
      (2L, "b", Some(false), "insert")),
      s"evolution feed wrong: $feed")
  }

  test("footerColStats recurses into nested unit layouts") {
    import spark.implicits._
    val t = scratch("graft_r11_nested")
    // one UNIT whose files live in subdirectories — a top-level-only
    // listing would publish an understated entry that mis-prunes
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.parquet(s"$t/u0/part1")
    Seq((50L, "y"), (60L, "z")).toDF("k", "s").coalesce(1)
      .write.parquet(s"$t/u0/part2")
    CommitLog.commit(t, 0L, Seq("u0"))
    val st = CommitLog.footerColStats(spark, t, Seq("u0"), Seq("k"))
    assert(st.size == 1)
    assert(st.head.count == 4L, s"nested files must all count, got ${st.head}")
    assert(st.head.min.toLong == 1L && st.head.max.toLong == 60L)
  }

  test("bloom sidecar lines armor the column name") {
    import spark.implicits._
    val t = scratch("graft_r11_armor")
    Seq((1L, "x"), (2L, "y")).toDF("k", "weird|col").coalesce(1)
      .write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    // a '|' in the column name must not corrupt the 3-way sidecar
    // split at read time (URL-encoded like the cstats sidecar)
    CommitLog.writeBloomStats(spark, t, 0L, "weird|col", 2L, 0.01)
    val snap = CommitLog.snapshot(spark, t, 0L).filter(col("`weird|col`") === "x")
    assert(CommitLog.scannedUnits(snap) == 1)
    assert(snap.count() == 1)
  }

  test("writeBloomStatsDelta: append publish at delta cost, loud when uncovered") {
    import spark.implicits._
    val t = scratch("graft_r11_bdelta")
    seedBloom(t, 2, 250)
    CommitLog.writeBloomStats(spark, t, 0L, "uid", 250L, 0.01)
    (500 until 750).map(i => (i.toLong, uidOf(i.toLong))).toDF("k", "uid")
      .coalesce(1).write.parquet(s"$t/u_new")
    CommitLog.commit(t, 1L, Seq("u0", "u1", "u_new"))
    // naming only the delta builds only the delta; carried entries
    // answer for the old units
    CommitLog.writeBloomStatsDelta(spark, t, 0L, 1L, Seq("u_new"), 250L, 0.01)
    val snap = CommitLog.snapshot(spark, t, 1L).filter(col("uid") === uidOf(600L))
    val scanned = CommitLog.scannedUnits(snap)
    assert(scanned >= 1 && scanned <= 2)
    assert(snap.count() >= 1)
    val old = CommitLog.snapshot(spark, t, 1L).filter(col("uid") === uidOf(100L))
    val oldScanned = CommitLog.scannedUnits(old)
    assert(oldScanned >= 1 && oldScanned <= 2)
    assert(old.count() >= 1)
    // a delta publish that misses a new unit must fail loudly, never
    // leave a silently-partial sidecar behind
    Seq((900L, uidOf(900L))).toDF("k", "uid").coalesce(1)
      .write.parquet(s"$t/u_more")
    CommitLog.commit(t, 2L, Seq("u0", "u1", "u_new", "u_more"))
    intercept[IllegalArgumentException](CommitLog.writeBloomStatsDelta(
      spark, t, 1L, 2L, Seq.empty, 250L, 0.01))
    // and carrying from a bloom-less version is refused up front
    val t2 = scratch("graft_r11_bdelta2")
    seedBloom(t2, 1, 10)
    intercept[IllegalArgumentException](CommitLog.writeBloomStatsDelta(
      spark, t2, 0L, 0L, Seq.empty, 10L, 0.01))
  }

  test("TIMESTAMP AS OF: boundary inclusive, pre-history loud, monotone stamps") {
    import spark.implicits._
    val t = scratch("graft_r11_asof")
    Seq((1L, "a")).toDF("k", "s").coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    // AS OF before any stamp exists is refused, not defaulted
    intercept[IllegalArgumentException](CommitLog.versionAsOf(t, 5L))
    CommitLog.writeCommitTs(t, 0L, 100L)
    Seq((2L, "b")).toDF("k", "s").coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u0", "u1"))
    // non-monotonic stamp refused at publish (AS OF would be ambiguous)
    intercept[IllegalArgumentException](CommitLog.writeCommitTs(t, 1L, 100L))
    CommitLog.writeCommitTs(t, 1L, 200L)
    // boundary INCLUSIVE: the exact commit instant sees that commit
    assert(CommitLog.versionAsOf(t, 100L) == 0L)
    assert(CommitLog.versionAsOf(t, 199L) == 0L)
    assert(CommitLog.versionAsOf(t, 200L) == 1L)
    assert(CommitLog.versionAsOf(t, Long.MaxValue) == 1L)
    // pre-history stays loud even once stamps exist
    intercept[IllegalArgumentException](CommitLog.versionAsOf(t, 99L))
    // a sidecar is immutable: restamping a version is refused
    intercept[IllegalStateException](CommitLog.writeCommitTs(t, 0L, 300L))
  }

  test("dml_partition_evolution: mixed-grain layouts prune per unit") {
    // recompute the expected scanned-unit counts from first principles
    // with the same interval arithmetic the oracle uses — the query's
    // counts must match at ANY sf, proving pruning is layout-agnostic
    val keys = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0)) // test-sized
    val mk = keys.max
    val (wd2, wd8) = (mk / 2 + 1, mk / 8 + 1)
    def intervals(ks: Seq[Long], wd: Long): Seq[(Long, Long)] =
      ks.groupBy(_ / wd).values.map(g => (g.min, g.max)).toSeq
    val units = intervals(keys.filter(_ % 2 == 0).toSeq, wd2) ++
      intervals(keys.filter(_ % 2 == 1).toSeq, wd8)
    val probes = Seq((2 * wd8, 3 * wd8 - 1),
      (5 * wd8 + wd8 / 2, 6 * wd8 + wd8 / 2), (0L, mk))
    val rows = q("dml_partition_evolution").collect()
    assert(rows.length == 3)
    rows.zip(probes).foreach { case (r, (lo, hi)) =>
      val expScan = units.count { case (mn, mx) => mn <= hi && mx >= lo }
      val expRows = keys.count(k => k >= lo && k <= hi)
      assert(r.getLong(1) == expScan,
        s"probe ${r.getLong(0)}: scanned ${r.getLong(1)}, expected $expScan")
      assert(r.getLong(2) == expRows)
    }
    // the evolution property itself: the narrow probe reads a strict
    // subset of the table's units even though two specs coexist
    assert(rows(0).getLong(1) < rows(2).getLong(1),
      "narrow probe must scan fewer units than the full-range probe")
  }
}
