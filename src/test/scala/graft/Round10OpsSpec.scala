package graft

/** Round-10 additions: the vacuum ownership rule (a clone's vacuum
  * must never reach into its source table — ADVICE r9), vacuum's
  * deletion accounting, and the fully-pruned snapshot filter.
  */
class Round10OpsSpec extends GraftSpec {

  import graft.sources.CommitLog

  test("vacuum on a shallow clone never deletes the source's units") {
    import spark.implicits._
    val src = scratch("graft_vsrc")
    val clone = scratch("graft_vcl")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$src/u0")
    CommitLog.commit(src, 0L, Seq("u0"))
    // shallow clone: v0 borrows the source unit by ../-relative path,
    // v1 adds a unit of the clone's own
    val rel = java.nio.file.Paths.get(clone)
      .relativize(java.nio.file.Paths.get(src, "u0")).toString
    CommitLog.commit(clone, 0L, Seq(rel))
    Seq((3L, "c")).toDF("id", "s").write.parquet(s"$clone/own")
    CommitLog.commit(clone, 1L, Seq(rel, "own"))
    // expire the clone's v0 AND pretend the borrowed unit became
    // unreferenced by dropping it from v2 — the deletion candidate set
    // now contains the cross-table path
    CommitLog.commit(clone, 2L, Seq("own"))
    val rep = CommitLog.vacuum(clone, retain = Seq(2L))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(src, "u0")),
      "the source table's unit must survive a clone vacuum")
    assert(rep.skippedExternal.nonEmpty,
      "the refused cross-table unit is surfaced, not silently skipped")
    assert(CommitLog.snapshot(spark, src, 0L).count() == 2,
      "the source table still reads after the clone vacuum")
    assert(CommitLog.snapshot(spark, clone, 2L).count() == 1)
  }

  test("commitChecked enforces writer schema: types pinned, evolution opt-in") {
    import spark.implicits._
    val t = scratch("graft_enf")
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$t/u0")
    CommitLog.commitChecked(spark, t, 0L, Seq("u0"))
    // type flip on an existing column: rejected at the WRITE, not at
    // some later mergeSchema read
    Seq((2, "b")).toDF("k", "s").write.parquet(s"$t/bad") // k is INT here
    val ex = intercept[IllegalArgumentException](
      CommitLog.commitChecked(spark, t, 1L, Seq("u0", "bad")))
    assert(ex.getMessage.contains("schema enforcement"))
    assert(CommitLog.latestVersion(t) == 0L, "nothing published")
    // additive column: allowed by default, refused when opted out
    Seq((3L, "c", true)).toDF("k", "s", "flag").write.parquet(s"$t/add")
    intercept[IllegalArgumentException](CommitLog.commitChecked(
      spark, t, 1L, Seq("u0", "add"), allowAdditive = false))
    CommitLog.commitChecked(spark, t, 1L, Seq("u0", "add"))
    assert(CommitLog.snapshotEvolved(spark, t, 1L).count() == 2)
  }

  test("commit rejects unit names that would corrupt the log encoding") {
    val t = scratch("graft_badname")
    intercept[IllegalArgumentException](
      CommitLog.tryCommit(t, 0L, Seq("a\nphantom")))
    intercept[IllegalArgumentException](
      CommitLog.tryCommit(t, 0L, Seq("a|b")))
    intercept[IllegalArgumentException](
      CommitLog.tryCommit(t, 0L, Seq("")))
    assert(CommitLog.versions(t).isEmpty,
      "a rejected commit must publish nothing")
  }

  test("ownsUnit resolves .. segments against the table root") {
    val t = scratch("graft_own")
    assert(CommitLog.ownsUnit(t, "data/u0"))
    assert(!CommitLog.ownsUnit(t, "../elsewhere/u0"))
    assert(!CommitLog.ownsUnit(t, "data/../../elsewhere"))
    assert(!CommitLog.ownsUnit(t, "."), "the root itself is not a unit")
  }

  test("vacuum counts real file deletions and surfaces failures") {
    import spark.implicits._
    val t = scratch("graft_vcount")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$t/keep")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$t/dead")
    CommitLog.commit(t, 0L, Seq("keep", "dead"))
    CommitLog.commit(t, 1L, Seq("keep"))
    // make one file in the dead unit undeletable. Tests run as root,
    // so permission bits don't block unlink — the ext4 immutable flag
    // does. Skip (don't fake-pass) where the fs lacks chattr support.
    val deadDir = java.nio.file.Paths.get(t, "dead")
    val pinned = {
      val st = java.nio.file.Files.list(deadDir)
      try st.iterator().next() finally st.close()
    }
    import scala.sys.process._
    assume(Seq("chattr", "+i", pinned.toString).! == 0,
      "filesystem does not support the immutable flag")
    try {
      val rep = CommitLog.vacuum(t, retain = Seq(1L))
      assert(rep.unitsDeleted == 0L,
        "a unit whose files survive is NOT counted as reclaimed")
      assert(rep.failedPaths.nonEmpty,
        "the undeletable paths are surfaced to the caller")
      assert(java.nio.file.Files.exists(pinned))
    } finally Seq("chattr", "-i", pinned.toString).!
    // with the flag cleared the unit reclaims for real (manifest v0 is
    // already gone — the dir is unreferenced garbage now)
    val (n, failed) = graft.sources.Fs.deleteRecursively(deadDir.toString)
    assert(n > 0 && failed.isEmpty)
  }

  private def partFiles(dir: java.nio.file.Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(dir)
    try st.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> crc(p))
      .toMap
    finally st.close()
  }

  private def crc(p: java.nio.file.Path): Long = {
    val c = new java.util.zip.CRC32()
    c.update(java.nio.file.Files.readAllBytes(p))
    c.getValue
  }

  /** 3 range-clustered units (k 1-30, 31-60, 61-100) with stats. */
  private def rangeTable(): String = {
    import spark.implicits._
    val t = scratch("graft_mrg")
    def slice(lo: Long, hi: Long, u: String): (String, Long, Long, Long) = {
      (lo to hi).map(k => (k, k * 2.0)).toDF("k", "p")
        .coalesce(1).write.parquet(s"$t/$u")
      (u, lo, hi, hi - lo + 1)
    }
    val st = Seq(slice(1, 30, "u_a"), slice(31, 60, "u_b"), slice(61, 100, "u_c"))
    CommitLog.commit(t, 0L, st.map(_._1))
    CommitLog.writeColStats(t, 0L, longStats("k", st))
    t
  }

  test("mergeCow rewrites only touched units; untouched files stay byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = rangeTable()
    val before = partFiles(java.nio.file.Paths.get(t, "u_a")) ++
      partFiles(java.nio.file.Paths.get(t, "u_c"))
    // updates hit only u_b's range; one upsert key beyond every range
    val updates = Seq((35L, 999.0), (40L, 888.0), (500L, 7.0)).toDF("k", "p")
    val v = CommitLog.mergeCow(spark, t, updates, "k")
    assert(v == 1L)
    val after = partFiles(java.nio.file.Paths.get(t, "u_a")) ++
      partFiles(java.nio.file.Paths.get(t, "u_c"))
    assert(after == before,
      "units outside the update's key ranges must never be rewritten")
    val snap = CommitLog.snapshot(spark, t, 1L)
    assert(snap.count() == 101, "100 base rows + 1 upsert")
    val got = snap.filter(col("k").isin(35L, 40L, 500L, 36L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(35L -> 999.0, 40L -> 888.0, 500L -> 7.0, 36L -> 72.0),
      "updates replace, upserts insert, in-range non-targets survive")
    assert(CommitLog.units(t, 1L).size == 4, "3 - 1 touched + rewrite + insert")
    // the refreshed sidecar covers every v1 unit → a second merge routes
    val v2 = CommitLog.mergeCow(spark, t,
      Seq((500L, 8.0)).toDF("k", "p"), "k")
    assert(v2 == 2L)
    assert(CommitLog.snapshot(spark, t, 2L)
      .filter(col("k") === 500L).head().getDouble(1) == 8.0)
  }

  test("mergeCow loser retries on top of the winner's snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = rangeTable()
    // the race seam: a competing writer publishes v1 (an append of
    // k=1000 with its stats) between our prepare and our publish
    val competitor: () => Unit = () => {
      Seq((1000L, 1.0)).toDF("k", "p").coalesce(1).write.parquet(s"$t/appended")
      CommitLog.commit(t, 1L,
        CommitLog.unitNames(t, 0L) :+ "appended")
      CommitLog.writeColStats(t, 1L, CommitLog.colStats(t, 0L) ++
        longStats("k", Seq(("appended", 1000L, 1000L, 1L))))
    }
    val v = CommitLog.mergeCow(spark, t,
      Seq((35L, 999.0)).toDF("k", "p"), "k", beforeCommit = competitor)
    assert(v == 2L, "the loser must republish on top of the winner")
    val snap = CommitLog.snapshot(spark, t, 2L)
    assert(snap.count() == 101, "100 base + competitor's append")
    assert(snap.filter(col("k") === 35L).head().getDouble(1) == 999.0)
    assert(snap.filter(col("k") === 1000L).count() == 1,
      "the winner's append survives the retried merge")
  }

  test("changes(): appends are all-insert, OPTIMIZE is empty, updates pair up") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = scratch("graft_cdc_t")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "p")
      .write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    // append version: feed == the added rows, all inserts — exactly
    // what dml_incremental_read's guard calls "the CDC path's job"
    Seq((4L, 40.0)).toDF("k", "p").write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u0", "u1"))
    val app = CommitLog.changes(spark, t, 1L).collect()
    assert(app.map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set((4L, "insert")))
    // and the incremental() fast path agrees with it on an append
    assert(CommitLog.incremental(spark, t, 1L).count() == 1)
    // OPTIMIZE: rewrite both units into one, content unchanged — the
    // feed must be EMPTY (rewrite-without-change detection)
    CommitLog.snapshot(spark, t, 1L).coalesce(1).write.parquet(s"$t/compact")
    CommitLog.commit(t, 2L, Seq("compact"))
    intercept[IllegalArgumentException](CommitLog.incremental(spark, t, 2L))
    assert(CommitLog.changes(spark, t, 2L).count() == 0,
      "a pure rewrite must produce no change rows")
    // COW update: k=2 repriced — surfaces as one delete + one insert
    CommitLog.snapshot(spark, t, 2L)
      .withColumn("p", org.apache.spark.sql.functions
        .when(col("k") === 2L, 99.0).otherwise(col("p")))
      .coalesce(1).write.parquet(s"$t/u3")
    CommitLog.commit(t, 3L, Seq("u3"))
    val upd = CommitLog.changes(spark, t, 3L).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(upd == Set((2L, 20.0, "delete"), (2L, 99.0, "insert")),
      s"update must emit the pre/post-image pair, got $upd")
  }

  test("changes() across additive schema evolution null-fills the old side") {
    import spark.implicits._
    val t = scratch("graft_cdc_se")
    Seq((1L, 10.0)).toDF("k", "p").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    // v1 rewrites u0 WITH a new column: the removed side lacks `flag`,
    // so the old row must read as (1, 10.0, null) and pair against the
    // new (1, 10.0, "x") as delete+insert — not crash on schema drift
    Seq((1L, 10.0, "x")).toDF("k", "p", "flag").write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u1"))
    val rows = CommitLog.changes(spark, t, 1L).collect()
      .map(r => (r.getLong(0), Option(r.getString(2)), r.getString(3))).toSet
    assert(rows == Set((1L, None, "delete"), (1L, Some("x"), "insert")))
  }

  test("footerColStats agrees with a recomputing scan, long and string") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t = scratch("graft_fstat")
    val df = (1L to 500L).map(k => (k, f"id$k%06d")).toDF("k", "s")
    df.repartition(3).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    val st = CommitLog.footerColStats(spark, t, Seq("u0"), Seq("k", "s"))
    val byCol = st.map(s => s.col -> s).toMap
    assert(byCol("k").kind == "long" && byCol("k").min == "1"
      && byCol("k").max == "500" && byCol("k").count == 500L)
    assert(byCol("s").kind == "string" && byCol("s").min == "id000001"
      && byCol("s").max == "id000500")
    // published sidecar round-trips, including the | and newline armor
    CommitLog.writeColStats(t, 0L, st)
    assert(CommitLog.colStats(t, 0L).toSet == st.toSet)
    // immutability: a second publish of the same version's sidecar is
    // refused, never silently replaced (the round-9 rename race)
    intercept[IllegalStateException](CommitLog.writeColStats(t, 0L, st))
    // published-version check: stats can't attach to an unpublished v
    intercept[IllegalArgumentException](CommitLog.writeColStats(t, 5L, st))
  }

  test("dml_data_skipping string probe prunes like its numeric twin") {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"))
    val maxK = base.agg(max(col("k"))).head().getLong(0)
    val wd = maxK / 8L + 1L
    val keys = base.collect().map(_.getLong(0))
    val (lo, hi) = (6L * wd + wd / 2L, 7L * wd + wd / 2L)
    val unitRange = keys.groupBy(_ / wd)
      .map { case (b, ks) => b -> (ks.min, ks.max) }
    val out = q("dml_data_skipping").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(3L)._1 ==
      unitRange.count { case (_, (mn, mx)) => mn <= hi && mx >= lo }.toLong,
      "lexicographic pruning on the padded key must match numeric pruning")
    assert(out(3L)._2 == keys.count(k => k >= lo && k <= hi).toLong)
    assert(out(3L)._1 < out(2L)._1, "the string probe skips units")
  }

  test("file-stream batches consume exactly the commit log's added units") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = scratch("graft_slogt")
    val dataDir = s"$root/data"
    val ckpt = scratch("graft_slogt_ck")
    def unitFiles(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dataDir))
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Paths.get(root).relativize(p).toString)
        .toVector.sorted
      finally st.close()
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", "long")
    def drain(name: String): Long = {
      val q = spark.readStream.schema(schema).parquet(dataDir)
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).head().getLong(0)
    }
    (1L to 10L).toDF("k").coalesce(1).write.mode("append").parquet(dataDir)
    graft.sources.CommitLog.commit(root, 0L, unitFiles())
    assert(drain("slog_d0") == 10L)
    (11L to 15L).toDF("k").coalesce(1).write.mode("append").parquet(dataDir)
    graft.sources.CommitLog.commit(root, 1L, unitFiles())
    assert(drain("slog_d1") == 15L,
      "the resumed drain must carry state and add only the new unit")
    // the checkpoint's file-source log is the ground truth of what
    // each batch read — tie it to the log's version deltas
    def batchPaths(b: Int): Set[String] = {
      val f = java.nio.file.Paths.get(ckpt, "sources", "0", b.toString)
      val re = "\"path\":\"file://([^\"]+)\"".r
      re.findAllMatchIn(java.nio.file.Files.readString(f))
        .map(_.group(1)).toSet
    }
    def absUnits(v: Long): Set[String] =
      (if (v == 0L) graft.sources.CommitLog.units(root, 0L)
       else graft.sources.CommitLog.addedUnits(root, v)).toSet
    assert(batchPaths(0) == absUnits(0L),
      "batch 0 must read exactly v0's units")
    assert(batchPaths(1) == absUnits(1L),
      "batch 1 must read exactly the units v1 ADDED — nothing re-read")
  }

  test("sim_ivf_delta: the delta-grown index answers like a full rebuild") {
    import org.apache.spark.sql.functions.col
    graft.functions.GraftFunctions.register(spark)
    val out = q("sim_ivf_delta").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getLong(3))).toSet
    assert(out.nonEmpty)
    // full rebuild twin: the same probes against the WHOLE corpus
    // assigned in one shot (GraftOps.ivfTopK — no persisted index, no
    // deltas). Assignment against frozen centroids is pointwise, so
    // growing by delta must lose NOTHING: recall 1.0, exact equality.
    val emb = Tables.load(spark, sf, "embeddings")
    val cent = api.GraftOps.centroids(emb, "label", "embedding")
    val full = api.GraftOps.ivfTopK(emb, "vec_id", "embedding", cent,
        col("vec_id") < 10, k = 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getLong(3))).toSet
    assert(out == full,
      "delta-grown IVF must rank identically to a from-scratch rebuild")
  }

  test("dml_optimize_zorder trades one-axis locality for both-axis pruning") {
    val out = q("dml_optimize_zorder").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet == Set((0L, "cust"), (0L, "day"), (0L, "both"),
      (1L, "cust"), (1L, "day"), (1L, "both")))
    // the rectangle probe prunes conjunctively: never worse than the
    // better of its two single-dim probes, on either layout
    Seq(0L, 1L).foreach { v =>
      assert(out((v, "both"))._1 <=
        out((v, "cust"))._1.min(out((v, "day"))._1))
    }
    val nUnits = out((0L, "cust"))._1.max(out((1L, "cust"))._1)
    // v0 is date-clustered: the day probe prunes hard, the customer
    // probe cannot prune at all (xc uniform within any date range)
    assert(out((0L, "day"))._1 < out((0L, "cust"))._1)
    // v1 is z-ordered: the customer probe now prunes too (the whole
    // point), and the day probe must not collapse to a full scan
    assert(out((1L, "cust"))._1 < out((0L, "cust"))._1,
      "z-ordering must cut the off-axis probe's unit count")
    assert(out((1L, "day"))._1 < nUnits,
      "the on-axis probe must keep pruning after the re-cluster")
    // layout never changes answers
    assert(out((0L, "cust"))._2 == out((1L, "cust"))._2)
    assert(out((0L, "day"))._2 == out((1L, "day"))._2)
  }

  test("merge-on-read deletes never touch data files; compaction applies them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = scratch("graft_mor_t")
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "d")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    val before = partFiles(java.nio.file.Paths.get(t, "u0"))
    Seq(Tuple1(2L), Tuple1(7L)).toDF("k").coalesce(1).write.parquet(s"$t/dv")
    CommitLog.commit(t, 1L, Seq("u0"))
    CommitLog.writeDeletes(t, 1L, Seq("dv"))
    assert(partFiles(java.nio.file.Paths.get(t, "u0")) == before,
      "a MoR delete must not rewrite any data unit")
    assert(CommitLog.snapshotMoR(spark, t, 1L, "k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(CommitLog.snapshot(spark, t, 1L).count() == 4,
      "the raw pre-image keeps every row")
    // clean versions read through snapshotMoR with zero overhead
    assert(CommitLog.snapshotMoR(spark, t, 0L, "k").count() == 4)
    // vacuum accounting: retaining only a compacted v2 reclaims the
    // tombstone unit WITH the expired version that owned it
    CommitLog.snapshotMoR(spark, t, 1L, "k").coalesce(1)
      .write.parquet(s"$t/compact")
    CommitLog.commit(t, 2L, Seq("compact"))
    val rep = CommitLog.vacuum(t, retain = Seq(2L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "dv")),
      "an expired-exclusive tombstone unit is reclaimable storage")
    assert(rep.unitsDeleted == 2L, "u0 and dv both reclaimed")
    assert(CommitLog.snapshotMoR(spark, t, 2L, "k").count() == 2)
    // and a RETAINED version's tombstones survive a vacuum (deleting
    // them would resurrect its deleted rows)
    val t2 = scratch("graft_mor_t2")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$t2/u0")
    CommitLog.commit(t2, 0L, Seq("u0"))
    Seq(Tuple1(2L)).toDF("k").write.parquet(s"$t2/dv")
    CommitLog.commit(t2, 1L, Seq("u0"))
    CommitLog.writeDeletes(t2, 1L, Seq("dv"))
    CommitLog.vacuum(t2, retain = Seq(1L))
    assert(CommitLog.snapshotMoR(spark, t2, 1L, "k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L),
      "retained tombstones must survive vacuum")
  }

  test("compact() bin-packs only the small-file backlog") {
    import spark.implicits._
    val t = scratch("graft_cpt")
    (1L to 20000L).map(k => (k, s"row$k")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$t/big")
    (1 to 3).foreach { i =>
      Seq((100000L + i, "tiny")).toDF("k", "s")
        .coalesce(1).write.parquet(s"$t/small$i")
    }
    CommitLog.commit(t, 0L, Seq("big", "small1", "small2", "small3"))
    val before = partFiles(java.nio.file.Paths.get(t, "big"))
    val v = CommitLog.compact(spark, t, minUnitBytes = 16 * 1024)
    assert(v == Some(1L))
    assert(partFiles(java.nio.file.Paths.get(t, "big")) == before,
      "healthy-sized units are never opened by an incremental compaction")
    assert(CommitLog.units(t, 1L).size == 2, "big + one packed unit")
    assert(CommitLog.snapshot(spark, t, 1L).count() == 20003L)
    // idempotent: with the backlog gone there is nothing left to pack
    assert(CommitLog.compact(spark, t, minUnitBytes = 16 * 1024).isEmpty,
      "a second compaction must be a no-op, not log churn")
  }

  test("stats sidecars fold across compaction; merge routes on the folded stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = rangeTable() // 3 units, 1-30 / 31-60 / 61-100, k cstats
    val v = CommitLog.compact(spark, t, minUnitBytes = Long.MaxValue)
    assert(v == Some(1L))
    assert(CommitLog.units(t, 1L).size == 1)
    // the packed entry is the range-union / count-sum of the packed
    // units' entries — derived from sidecar text, no data read
    assert(CommitLog.keyRanges(t, 1L, "k").map(s => (s._2, s._3, s._4)) ==
      Seq((1L, 100L, 100L)))
    // and a MERGE after the OPTIMIZE routes on the folded sidecar
    val v2 = CommitLog.mergeCow(spark, t,
      Seq((35L, 999.0)).toDF("k", "p"), "k")
    val snap = CommitLog.snapshot(spark, t, v2)
    assert(snap.count() == 100)
    assert(snap.filter(col("k") === 35L).head().getDouble(1) == 999.0)
  }

  test("mergeCow carries the cstats sidecar via footer stats on new units") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = rangeTable() // v0 carries k cstats for every unit
    val v = CommitLog.mergeCow(spark, t,
      Seq((35L, 999.0), (500L, 7.0)).toDF("k", "p"), "k")
    val cs = CommitLog.colStats(t, v).filter(_.col == "k")
    assert(cs.size == CommitLog.units(t, v).size,
      "every unit of the merged version keeps a prunable stats entry")
    // skipping still works through the merged version
    val df = CommitLog.snapshot(spark, t, v).filter(col("k") === 500L)
    assert(CommitLog.scannedUnits(df) == 1 && df.count() == 1)
  }

  test("compaction carries outstanding MoR deletes; merge refuses them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = rangeTable()
    Seq(Tuple1(35L)).toDF("k").coalesce(1).write.parquet(s"$t/dv")
    CommitLog.writeDeletes(t, 0L, Seq("dv"))
    // bin-packing preserves raw pre-images, so the tombstone must ride
    // along — without the carry, k=35 would resurrect at v1
    val v = CommitLog.compact(spark, t, minUnitBytes = Long.MaxValue)
    assert(v == Some(1L))
    assert(CommitLog.snapshotMoR(spark, t, 1L, "k")
      .filter(col("k") === 35L).count() == 0,
      "a compaction must never resurrect MoR-deleted rows")
    assert(CommitLog.snapshotMoR(spark, t, 1L, "k").count() == 99)
    // a merge on outstanding deletes is refused (it rewrites raw
    // pre-images — Delta's DV-before-DML rule)
    val ex = intercept[IllegalArgumentException](
      CommitLog.mergeCow(spark, t, Seq((36L, 1.0)).toDF("k", "p"), "k"))
    assert(ex.getMessage.contains("outstanding merge-on-read deletes"))
    // the audit view surfaces tombstones, and a dv-declaring version
    // never masquerades as an append (v0 here declared the sidecar)
    val h = CommitLog.history(spark, t).collect()
      .map(r => r.getLong(0) -> (r.getLong(5), r.getBoolean(6))).toMap
    assert(h(0L) == (1L, false), "v0 declared a tombstone: not an append")
    assert(h(1L) == (1L, false),
      "the compaction carried the sidecar (n_dv_units=1); it removed " +
        "units, so it is rightly not an append either")
    // incremental() refuses the version that declared the deletes
    val t2 = scratch("graft_dvinc")
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$t2/u0")
    CommitLog.commit(t2, 0L, Seq("u0"))
    Seq((2L, "b")).toDF("k", "s").write.parquet(s"$t2/u1")
    CommitLog.commit(t2, 1L, Seq("u0", "u1"))
    Seq(Tuple1(1L)).toDF("k").write.parquet(s"$t2/dv")
    CommitLog.writeDeletes(t2, 1L, Seq("dv"))
    val ex2 = intercept[IllegalArgumentException](
      CommitLog.incremental(spark, t2, 1L))
    assert(ex2.getMessage.contains("merge-on-read deletes"))
  }

  test("bloom sidecar prunes point lookups where range stats cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = scratch("graft_bloomt")
    // 4 units clustered on k; uid is scattered (hash-shaped), so every
    // unit's uid min/max spans the domain — range stats prune nothing
    (0 until 4).foreach { u =>
      (0 until 250).map { i =>
        val k = u * 250 + i
        (k.toLong, f"uid_${(k * 2654435761L) % 100000}%05d")
      }.toDF("k", "uid").coalesce(1).write.parquet(s"$t/u$u")
    }
    CommitLog.commit(t, 0L, (0 until 4).map(u => s"u$u"))
    CommitLog.writeBloomStats(spark, t, 0L, "uid", 250L, 0.01)
    val probe = spark.read.parquet(s"$t/u2")
      .select("uid").head().getString(0) // a value known to live in u2
    val snap = CommitLog.snapshot(spark, t, 0L).filter(col("uid") === probe)
    val scanned = CommitLog.scannedUnits(snap)
    assert(scanned >= 1 && scanned <= 2,
      s"bloom must prune to ~1 unit (fp tolerance 1), got $scanned")
    assert(snap.count() >= 1)
    // definitely-absent value: everything prunes (<=1 fp), zero rows
    val miss = CommitLog.snapshot(spark, t, 0L).filter(col("uid") === "no_such_uid")
    assert(CommitLog.scannedUnits(miss) <= 1)
    assert(miss.count() == 0)
    // unknown column fails loudly, not as a silent full scan
    intercept[org.apache.spark.sql.AnalysisException](
      CommitLog.snapshot(spark, t, 0L).filter(col("nope") === "x"))
  }

  test("versionAsOf resolves what a reader at that instant saw") {
    import spark.implicits._
    val t = scratch("graft_asof")
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    val between = java.time.Instant.now()
    // manifest mtimes carry the commit instant; push v1 visibly later
    // than `between` without sleeping the test
    Seq((2L, "b")).toDF("k", "s").write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u0", "u1"))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(t, "_log", "v00001.txt"),
      java.nio.file.attribute.FileTime.from(between.plusSeconds(60)))
    assert(CommitLog.versionAsOf(t, between) == 0L,
      "a reader between the commits saw v0")
    assert(CommitLog.versionAsOf(t, between.plusSeconds(120)) == 1L)
    assert(CommitLog.versionAsOf(t, java.time.Instant.now()
      .plusSeconds(3600)) == 1L, "the future reads latest")
    intercept[IllegalArgumentException](
      CommitLog.versionAsOf(t, between.minusSeconds(3600)))
  }

  test("dml_restore republishes the target manifest without moving data") {
    val out = q("dml_restore").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    assert(out(2L) == out(0L),
      "the restored version must be value-identical to its target")
    assert(out(1L)._1 < out(0L)._1, "the incident version lost rows")
  }

  test("changes() and snapshotMoR compile to the plans their cost model claims") {
    import spark.implicits._
    val t = scratch("graft_plan_t")
    (1L to 500L).map(k => (k, k * 2.0)).toDF("k", "p").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    (1L to 400L).map(k => (k, k * 2.0)).toDF("k", "p").write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u1"))
    // the signed-weight diff: each touched side scanned ONCE, one
    // row-keyed exchange, no join anywhere
    val cp = CommitLog.changes(spark, t, 1L)
      .queryExecution.executedPlan.toString
    assert(!cp.contains("CartesianProduct") && !cp.contains("Join"))
    assert("Scan parquet".r.findAllIn(cp).size == 2,
      s"each touched side must be scanned exactly once:\n$cp")
    // MoR read: broadcast anti-join, tombstones on the build side
    Seq(Tuple1(5L)).toDF("k").write.parquet(s"$t/dv")
    CommitLog.writeDeletes(t, 1L, Seq("dv"))
    val mp = CommitLog.snapshotMoR(spark, t, 1L, "k")
      .queryExecution.executedPlan.toString
    assert(mp.contains("BroadcastHashJoin") && mp.contains("LeftAnti"),
      s"MoR deletes must apply as a broadcast anti-join:\n$mp")
  }

  test("dml_cdc_replay: the feed-built replica equals the final snapshot exactly") {
    val r = q("dml_cdc_replay").head()
    assert(r.getLong(0) == r.getLong(2), "row counts must match")
    assert(r.getDecimal(1) == r.getDecimal(3), "exact totals must match")
  }

  test("a no-match snapshot filter scans zero units and returns the empty frame") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = scratch("graft_srange")
    Seq((1L, "a"), (9L, "b")).toDF("k", "s").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.writeColStats(t, 0L, longStats("k", Seq(("u0", 1L, 9L, 2L))))
    val df = CommitLog.snapshot(spark, t, 0L).filter(col("k").between(100L, 200L))
    assert(CommitLog.scannedUnits(df) == 0, "a fully-pruned probe scans zero units")
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("k", "s"),
      "the empty frame still carries the snapshot schema")
  }
}
