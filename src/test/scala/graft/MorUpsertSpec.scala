package graft

import org.apache.spark.sql.functions._

/** Round-10 merge-on-read upsert layer: the sequence rule
  * (snapshotMoR), the O(|updates|) write path (upsertMoR), and the
  * stats-routed maintenance rewrite (applyDeletes).
  */
class MorUpsertSpec extends GraftSpec {

  import graft.sources.CommitLog

  /** v0 = two range units (k 1..4 and k 11..14) with stats. */
  private def seed(dir: String): Unit = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$dir/u0")
    Seq((11L, "e"), (12L, "f"), (13L, "g"), (14L, "h")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$dir/u1")
    CommitLog.commit(dir, 0L, Seq("u0", "u1"))
    CommitLog.writeColStats(dir, 0L,
      longStats("k", Seq(("u0", 1L, 4L, 4L), ("u1", 11L, 14L, 4L))))
  }

  test("upsertMoR: post-images visible, pre-images replaced, raw rows grow") {
    import spark.implicits._
    val dir = scratch("graft_up1")
    seed(dir)
    val v1 = CommitLog.upsertMoR(spark,
      dir, Seq((2L, "B"), (20L, "new")).toDF("k", "s"), "k")
    assert(v1 == 1L)
    val got = CommitLog.snapshotMoR(spark, dir, 1L, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d",
      11L -> "e", 12L -> "f", 13L -> "g", 14L -> "h", 20L -> "new"))
    // raw pre-images still on disk: 8 + 2 post-image rows
    assert(CommitLog.snapshot(spark, dir, 1L).count() == 10)
    // v0 unaffected
    assert(CommitLog.snapshotMoR(spark, dir, 0L, "k").count() == 8)
  }

  test("the sequence rule is what saves the post-images from their own tombstones") {
    import spark.implicits._
    val dir = scratch("graft_up2")
    seed(dir)
    CommitLog.upsertMoR(spark, dir, Seq((2L, "B")).toDF("k", "s"), "k")
    // a GLOBAL apply (every tombstone against every unit) deletes the
    // replacement row too — k=2 vanishes entirely; the sequence-aware
    // read keeps exactly one k=2
    val tombKeys = graft.sources.Parquet.read(spark, CommitLog.deletes(dir, 1L))
      .select("k").distinct()
    val global = CommitLog.snapshot(spark, dir, 1L)
      .join(tombKeys, Seq("k"), "left_anti")
      .filter(col("k") === 2).count()
    val seq = CommitLog.snapshotMoR(spark, dir, 1L, "k")
      .filter(col("k") === 2).count()
    assert(global == 0 && seq == 1)
  }

  test("upsertMoR and compact refuse an un-applied MoR generation") {
    import spark.implicits._
    val dir = scratch("graft_up3")
    seed(dir)
    CommitLog.upsertMoR(spark, dir, Seq((2L, "B")).toDF("k", "s"), "k")
    val e1 = intercept[IllegalArgumentException] {
      CommitLog.upsertMoR(spark, dir, Seq((3L, "C")).toDF("k", "s"), "k")
    }
    assert(e1.getMessage.contains("applyDeletes"))
    val e2 = intercept[IllegalArgumentException] {
      CommitLog.compact(spark, dir, minUnitBytes = Long.MaxValue)
    }
    assert(e2.getMessage.contains("applyDeletes"))
  }

  test("applyDeletes: routes via stats, carries untouched units byte-stable, drops the sidecar") {
    import spark.implicits._
    val dir = scratch("graft_up4")
    seed(dir)
    // MoR delete confined to u0's range
    Seq(Tuple1(2L), Tuple1(3L)).toDF("k")
      .coalesce(1).write.parquet(s"$dir/dv")
    CommitLog.commit(dir, 1L, Seq("u0", "u1"))
    CommitLog.writeColStats(dir, 1L,
      longStats("k", Seq(("u0", 1L, 4L, 4L), ("u1", 11L, 14L, 4L))))
    CommitLog.writeDeletes(dir, 1L, Seq("dv"))
    def bytesOf(rel: String): Seq[(String, Long)] = {
      val p = java.nio.file.Paths.get(dir, rel)
      val st = java.nio.file.Files.list(p)
      try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (f.getFileName.toString, java.nio.file.Files
          .getLastModifiedTime(f).toMillis)).sortBy(_._1)
      finally st.close()
    }
    val before = bytesOf("u1")
    val v2 = CommitLog.applyDeletes(spark, dir, "k")
    assert(v2 == 2L)
    // u1 (range 11..14, no tombstone intersection) carried by name,
    // files untouched
    assert(CommitLog.units(dir, 2L).exists(_.endsWith("u1")))
    assert(bytesOf("u1") == before, "untouched unit must not be rewritten")
    assert(!CommitLog.units(dir, 2L).exists(_.endsWith("u0")),
      "the intersecting unit is replaced by the rewrite")
    // clean version: no sidecar, seq read == plain read == pre-apply MoR read
    assert(CommitLog.deletes(dir, 2L).isEmpty)
    val want = CommitLog.snapshotMoR(spark, dir, 1L, "k")
      .orderBy("k").collect().toSeq
    assert(CommitLog.snapshot(spark, dir, 2L).orderBy("k").collect().toSeq == want)
    // stats folded: every v2 unit has an entry
    val st2 = CommitLog.keyRanges(dir, 2L, "k")
    assert(st2.map(_._1).toSet == CommitLog.unitNames(dir, 2L).toSet)
  }

  test("changes() surfaces a MoR delete at DECLARATION; the apply version's feed is empty") {
    import spark.implicits._
    val dir = scratch("graft_up5")
    seed(dir)
    Seq(Tuple1(2L)).toDF("k").coalesce(1).write.parquet(s"$dir/dv")
    CommitLog.commit(dir, 1L, Seq("u0", "u1"))
    CommitLog.writeDeletes(dir, 1L, Seq("dv"))
    // the DECLARING version carries the retraction — a CDC consumer
    // never has to wait for (or watch) the compaction
    val declared = CommitLog.changes(spark, dir, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(declared == Seq((2L, "b", "delete")),
      s"the declaring version's CDC feed must be the retraction, got $declared")
    CommitLog.applyDeletes(spark, dir, "k")
    // the apply version is pure maintenance: the consumer already saw
    // the delete, so re-emitting it would double-delete a replica
    val feed = CommitLog.changes(spark, dir, 2L).collect()
    assert(feed.isEmpty,
      s"the apply version's CDC feed must be empty, got ${feed.toSeq}")
  }

  test("changes() at an upsert version is the pre/post-image pair in one feed") {
    import spark.implicits._
    val dir = scratch("graft_up7")
    seed(dir)
    CommitLog.upsertMoR(spark, dir,
      Seq((2L, "B"), (100L, "NEW")).toDF("k", "s"), "k")
    val feed = CommitLog.changes(spark, dir, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(r => (r._1, r._3))
    assert(feed == Seq((2L, "B", "insert"), (2L, "b", "delete"),
        (100L, "NEW", "insert")).sortBy(r => (r._1, r._3)),
      s"upsert feed must be delete(pre) + insert(post), got $feed")
    // folding the feed onto the previous snapshot reproduces the MoR view
    val replica = CommitLog.snapshot(spark, dir, 0L)
      .exceptAll(CommitLog.changes(spark, dir, 1L)
        .filter($"_change_type" === "delete").drop("_change_type"))
      .unionAll(CommitLog.changes(spark, dir, 1L)
        .filter($"_change_type" === "insert").drop("_change_type"))
    val want = CommitLog.snapshotMoR(spark, dir, 1L, "k")
    assert(replica.exceptAll(want).isEmpty && want.exceptAll(replica).isEmpty,
      "CDC-folded replica must equal the MoR-resolved snapshot")
  }

  test("upsert after applyDeletes completes the cycle; a lost race retries on top") {
    import spark.implicits._
    val dir = scratch("graft_up6")
    seed(dir)
    CommitLog.upsertMoR(spark, dir, Seq((2L, "B")).toDF("k", "s"), "k")
    CommitLog.applyDeletes(spark, dir, "k")
    // now clean again — the next upsert is legal, and we make it LOSE
    // one commit race via the test seam
    var raced = false
    val v = CommitLog.upsertMoR(spark, dir,
      Seq((3L, "C")).toDF("k", "s"), "k",
      beforeCommit = () => {
        raced = true
        CommitLog.commit(dir, 3L, CommitLog.unitNames(dir, 2L))
      })
    assert(raced && v == 4L, s"loser must land on top of the interloper, got v$v")
    val got = CommitLog.snapshotMoR(spark, dir, v, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.contains(3L -> "C") && got.contains(2L -> "B")
      && !got.contains(3L -> "c"))
  }

  test("key routing reads only the key column's stats: bucket ids on another column never route") {
    import spark.implicits._
    val dir = scratch("graft_up_nonkey")
    // an index-style table: each unit's ONLY stats are its bucket id
    // on bval — u0 (k 1..4) is bucket 7, u1 (k 11..14) is bucket 3, so
    // no tombstone key below falls inside any unit's bval range
    Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L)).toDF("k", "bval")
      .coalesce(1).write.parquet(s"$dir/u0")
    Seq((11L, 3L), (12L, 3L), (13L, 3L), (14L, 3L)).toDF("k", "bval")
      .coalesce(1).write.parquet(s"$dir/u1")
    CommitLog.commit(dir, 0L, Seq("u0", "u1"))
    CommitLog.writeColStats(dir, 0L,
      CommitLog.footerColStats(spark, dir, Seq("u0", "u1"), Seq("bval")))
    assert(CommitLog.keyRanges(dir, 0L, "k").isEmpty)
    // mergeCow refuses loudly, exactly as on a table with no stats
    val ex = intercept[IllegalArgumentException](CommitLog.mergeCow(
      spark, dir, Seq((3L, 9L)).toDF("k", "bval"), "k"))
    assert(ex.getMessage.contains("cover 0 of 2 units"), ex.getMessage)
    assert(CommitLog.versions(dir) == Seq(0L), "a refused merge publishes nothing")
    // MoR delete on k of one row in each unit
    Seq(Tuple1(2L), Tuple1(12L)).toDF("k").coalesce(1).write.parquet(s"$dir/dv")
    CommitLog.commit(dir, 1L, Seq("u0", "u1"))
    CommitLog.writeColStats(dir, 1L, CommitLog.colStats(dir, 0L))
    CommitLog.writeDeletes(dir, 1L, Seq("dv"))
    // the declaring version's feed retracts BOTH rows (a feed routed
    // through the bucket ids would open no unit and retract none)
    val retracted = CommitLog.changes(spark, dir, 1L)
      .filter($"_change_type" === "delete").select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(retracted == Seq(2L, 12L), s"retractions: $retracted")
    // applyDeletes takes the unrouted path: every unit rewrites, and no
    // tombstoned row is visible in the clean version
    val v2 = CommitLog.applyDeletes(spark, dir, "k")
    assert(CommitLog.deletes(dir, v2).isEmpty)
    assert(!CommitLog.unitNames(dir, v2).exists(Set("u0", "u1")),
      "both units hold a tombstoned key, so both must be rewritten")
    val live = CommitLog.snapshot(spark, dir, v2).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(live == Seq(1L, 3L, 4L, 11L, 13L, 14L), s"live keys: $live")
    // the clean version's cstats still describe every unit on bval only
    assert(CommitLog.colStats(dir, v2).map(_.unit).toSet ==
      CommitLog.unitNames(dir, v2).toSet)
    assert(CommitLog.keyRanges(dir, v2, "k").isEmpty)
  }

}
