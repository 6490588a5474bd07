package graft

import org.apache.spark.sql.functions._

/** Round-11 metadata protocols: column mapping (metadata-only rename
  * with name-faithful time travel) and write-audit-publish staged
  * branches (quality-gated ingest), plus the incremental join-view
  * fold's state-size contract.
  */
class RenameWapSpec extends GraftSpec {

  import graft.sources.CommitLog

  /** v0 = (k, p) over two units. */
  private def seed(dir: String): Unit = {
    import spark.implicits._
    (0L until 100L).map(k => (k, k * 10L)).toDF("k", "p")
      .filter(col("k") % 2 === 0).coalesce(1).write.parquet(s"$dir/u0")
    (0L until 100L).map(k => (k, k * 10L)).toDF("k", "p")
      .filter(col("k") % 2 === 1).coalesce(1).write.parquet(s"$dir/u1")
    CommitLog.commit(dir, 0L, Seq("u0", "u1"))
  }

  private def dataFiles(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try st.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.toString.contains("_log"))
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally st.close()
  }

  test("renameColumn is metadata-only: zero data files touched") {
    val t = scratch("graft_ren_meta")
    seed(t)
    val before = dataFiles(t)
    val v = CommitLog.renameColumn(spark, t, "p", "price")
    assert(v == 1L)
    assert(dataFiles(t) == before,
      "rename must not create, delete or rewrite any data file")
    // the new manifest references the SAME units
    assert(CommitLog.units(t, 1L) == CommitLog.units(t, 0L))
  }

  test("time travel is name-faithful: v0 reads p, v1 reads price, values equal") {
    val t = scratch("graft_ren_tt")
    seed(t)
    CommitLog.renameColumn(spark, t, "p", "price")
    val v0 = CommitLog.snapshotMapped(spark, t, 0L)
    val v1 = CommitLog.snapshotMapped(spark, t, 1L)
    assert(v0.schema.fieldNames.toSeq == Seq("k", "p"))
    assert(v1.schema.fieldNames.toSeq == Seq("k", "price"))
    assert(v0.select(sum("p")).head.getLong(0) ==
      v1.select(sum("price")).head.getLong(0))
  }

  test("renames chain through one physical entry; renaming back drops the map") {
    val t = scratch("graft_ren_chain")
    seed(t)
    CommitLog.renameColumn(spark, t, "p", "price")
    CommitLog.renameColumn(spark, t, "price", "unit_price")
    assert(CommitLog.colMapAt(t, 2L) == Map("p" -> "unit_price"),
      "a rename chain must compose to one physical->logical entry")
    CommitLog.renameColumn(spark, t, "unit_price", "p")
    assert(CommitLog.colMapAt(t, 3L).isEmpty,
      "renaming back to the physical name must drop the identity entry")
    // and the mapping is versioned: v2 still reads unit_price
    assert(CommitLog.snapshotMapped(spark, t, 2L)
      .schema.fieldNames.contains("unit_price"))
  }

  test("rename validates against the LOGICAL schema") {
    val t = scratch("graft_ren_val")
    seed(t)
    CommitLog.renameColumn(spark, t, "p", "price")
    // the old name is gone at the logical layer
    val e1 = intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, t, "p", "x")
    }
    assert(e1.getMessage.contains("no column p"))
    // collision with an existing logical name fails
    val e2 = intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, t, "price", "k")
    }
    assert(e2.getMessage.contains("already has a column k"))
  }

  test("toPhysical lets post-rename appends keep the frozen physical schema") {
    import spark.implicits._
    val t = scratch("graft_ren_append")
    seed(t)
    CommitLog.renameColumn(spark, t, "p", "price")
    val delta = (100L until 120L).map(k => (k, k * 10L)).toDF("k", "price")
    CommitLog.toPhysical(t, 1L, delta).coalesce(1).write.parquet(s"$t/u2")
    CommitLog.commit(t, 2L, Seq("u0", "u1", "u2"))
    // the appended unit's FOOTER carries the physical name — one
    // uniform physical schema, no mergeSchema needed at read
    assert(spark.read.parquet(s"$t/u2").schema.fieldNames.toSeq ==
      Seq("k", "p"))
    val snap = CommitLog.snapshotMapped(spark, t, 2L)
    assert(snap.schema.fieldNames.toSeq == Seq("k", "price"))
    assert(snap.count() == 120L)
  }

  test("staged branch is invisible to main; publish promotes it atomically") {
    import spark.implicits._
    val t = scratch("graft_wap_pub")
    seed(t)
    (100L until 150L).map(k => (k, k * 10L)).toDF("k", "p")
      .coalesce(1).write.parquet(s"$t/delta")
    CommitLog.stageBranch(t, "batch1", Seq("u0", "u1", "delta"))
    // invisibility: no new version, snapshot unchanged
    assert(CommitLog.versions(t) == Seq(0L))
    assert(CommitLog.snapshot(spark, t, 0L).count() == 100L)
    // the audit reads EXACTLY the bytes that will be published
    assert(CommitLog.snapshotBranch(spark, t, "batch1").count() == 150L)
    val v = CommitLog.publishBranch(t, "batch1")
    assert(v == 1L)
    assert(CommitLog.snapshot(spark, t, 1L).count() == 150L)
    assert(CommitLog.stagedBranches(t).isEmpty)
  }

  test("abandon reclaims the branch's exclusive units, keeps shared ones") {
    import spark.implicits._
    val t = scratch("graft_wap_abandon")
    seed(t)
    (100L until 150L).map(k => (k, k * 10L)).toDF("k", "p")
      .coalesce(1).write.parquet(s"$t/bad")
    CommitLog.stageBranch(t, "batch1", Seq("u0", "u1", "bad"))
    val n = CommitLog.abandonBranch(t, "batch1")
    assert(n == 1L, s"exactly the exclusive unit dies, got $n")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "bad")))
    // the main-line units the branch also referenced survive
    assert(CommitLog.snapshot(spark, t, 0L).count() == 100L)
    // the branch name is free again
    CommitLog.stageBranch(t, "batch1", Seq("u0"))
    assert(CommitLog.stagedBranches(t) == Seq("batch1"))
  }

  test("double-staging the same branch fails loudly") {
    val t = scratch("graft_wap_double")
    seed(t)
    CommitLog.stageBranch(t, "b", Seq("u0"))
    val e = intercept[IllegalStateException] {
      CommitLog.stageBranch(t, "b", Seq("u1"))
    }
    assert(e.getMessage.contains("already staged"))
  }

  test("publishBranch survives a concurrent main commit: retries to the next version") {
    val t = scratch("graft_wap_race")
    seed(t)
    CommitLog.stageBranch(t, "b", Seq("u0", "u1"))
    // a concurrent writer takes v1 while the audit runs
    CommitLog.commit(t, 1L, Seq("u0"))
    val v = CommitLog.publishBranch(t, "b")
    assert(v == 2L, "the staged content must land at the next free version")
    assert(CommitLog.snapshot(spark, t, 2L).count() == 100L)
  }

  test("vacuum keeps a staged branch's units even when only expired versions reference them") {
    val t = scratch("graft_wap_vac")
    seed(t)
    // v1 drops u1; a branch re-stages it (e.g. a restore-under-audit)
    CommitLog.commit(t, 1L, Seq("u0"))
    CommitLog.stageBranch(t, "restore", Seq("u0", "u1"))
    val rep = CommitLog.vacuum(t, Seq(1L))
    assert(rep.unitsDeleted == 0L,
      "u1 is expired-exclusive by version arithmetic but staged-live")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t, "u1")))
    assert(CommitLog.snapshotBranch(spark, t, "restore").count() == 100L)
    // once abandoned, the next vacuum reclaims it
    CommitLog.abandonBranch(t, "restore")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "u1")),
      "abandon reclaims the now-unreferenced unit")
  }

  test("dml_cdc_join_view state is O(groups) and equals the direct join") {
    val got = q("dml_cdc_join_view").collect()
    assert(got.length <= 20, s"state must stay group-sized, got ${got.length}")
    // recompute the view directly from both tables' final snapshots
    val orders = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"),
        Tables.dec(col("o_totalprice")).as("p"))
    val fin = orders
      .withColumn("p", when(col("k") % 4 === 2,
        (col("p") * 2).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .otherwise(col("p")))
      .filter(col("k") % 4 =!= 1)
    val dim = orders.select(col("k"),
      (col("k") % 10 + when(col("k") % 4 === 3, 20).otherwise(0))
        .cast("bigint").as("g"))
    val want = fin.join(dim, "k").groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum("p").cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .as("total"))
      .orderBy("g").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2))).toSeq ==
      want.map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2))).toSeq)
  }
}
