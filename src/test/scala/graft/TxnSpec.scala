package graft

import org.apache.spark.sql.functions._

/** Round-11 multi-table transaction coordinator (sources/TxnLog):
  * the txn entry is the single commit point, orphaned manifests are
  * invisible to coordinated readers, per-table races abort the whole
  * transaction, and cross-table time travel resolves recorded pairs.
  */
class TxnSpec extends GraftSpec {

  import graft.sources.{CommitLog, TxnLog}

  private def fresh(): (String, String, String) = {
    val root = scratch("graft_txns")
    (root, s"$root/a", s"$root/b")
  }

  private def unit(table: String, rel: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "s").coalesce(1).write.parquet(s"$table/$rel")
  }

  test("the txn entry is the commit point: a crash before it leaves readers on the old pair") {
    val (root, a, b) = fresh()
    unit(a, "u0", Seq(1L -> "a1")); unit(b, "u0", Seq(1L -> "b1"))
    val t0 = TxnLog.commitAtomic(root, Seq(a -> Seq("u0"), b -> Seq("u0")))
    assert(t0 == 0L)
    // crash in the window AFTER both manifests, BEFORE the entry
    unit(a, "u1", Seq(2L -> "a2")); unit(b, "u1", Seq(2L -> "b2"))
    intercept[RuntimeException](TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "u1")),
      prepared = () => throw new RuntimeException("crash")))
    // both tables' logs HOLD the orphaned v1s...
    assert(CommitLog.versions(a) == Seq(0L, 1L))
    assert(CommitLog.versions(b) == Seq(0L, 1L))
    // ...but the coordinated reader still resolves the OLD pair
    val snaps = TxnLog.snapshotAtomic(spark, root, Seq(a, b))
    assert(snaps(a).count() == 1 && snaps(b).count() == 1)
    // the retry lands PAST the orphans under a new entry
    val t1 = TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "u1")))
    assert(t1 == 1L)
    assert(TxnLog.entry(root, t1).toMap == Map(a -> 2L, b -> 2L))
    val now = TxnLog.snapshotAtomic(spark, root, Seq(a, b))
    assert(now(a).count() == 2 && now(b).count() == 2)
  }

  test("a per-table version race aborts the whole transaction") {
    val (root, a, b) = fresh()
    unit(a, "u0", Seq(1L -> "a1")); unit(b, "u0", Seq(1L -> "b1"))
    assert(TxnLog.commitAtomic(root, Seq(a -> Seq("u0"), b -> Seq("u0"))) == 0L)
    // an independent writer grabs b's next version INSIDE the txn's
    // per-table race window (a sorts first, so a's manifest is
    // already published when b loses)
    unit(b, "loner", Seq(9L -> "x"))
    unit(a, "u1", Seq(2L -> "a2")); unit(b, "u1", Seq(2L -> "b2"))
    val r = TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "u1")),
      raceSeam = t =>
        if (t == b) CommitLog.commit(b, 1L, Seq("u0", "loner")))
    assert(r == -1L, "a lost per-table race must abort the transaction")
    assert(TxnLog.txns(root) == Seq(0L), "no entry for the aborted txn")
    // readers are unaffected; the caller's retry on fresh state lands
    assert(TxnLog.snapshotAtomic(spark, root, Seq(a, b))(a).count() == 1)
    val t1 = TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "loner", "u1")))
    assert(t1 == 1L)
    assert(TxnLog.snapshotAtomic(spark, root, Seq(a, b))(b).count() == 3)
  }

  test("cross-table time travel resolves each txn's recorded pair") {
    val (root, a, b) = fresh()
    unit(a, "u0", Seq(1L -> "a1")); unit(b, "u0", Seq(1L -> "b1"))
    TxnLog.commitAtomic(root, Seq(a -> Seq("u0"), b -> Seq("u0")))
    unit(a, "u1", Seq(2L -> "a2")); unit(b, "u1", Seq(2L -> "b2"))
    TxnLog.commitAtomic(root, Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "u1")))
    val at0 = TxnLog.snapshotAt(spark, root, 0L, Seq(a, b))
    assert(at0(a).count() == 1 && at0(b).count() == 1)
    // asking the coordinator for a table it never covered fails loudly
    intercept[IllegalArgumentException](
      TxnLog.snapshotAt(spark, root, 0L, Seq(s"$root/nope")))
  }

  test("a replayed fixed-id transaction commits nothing (streaming exactly-once)") {
    val (root, a, b) = fresh()
    unit(a, "u0", Seq(1L -> "a1")); unit(b, "u0", Seq(1L -> "b1"))
    assert(TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0"), b -> Seq("u0")), id = Some(0L)) == 0L)
    // full replay of a committed batch: short-circuits on the entry —
    // no new versions, no new entry, nothing written
    assert(TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0"), b -> Seq("u0")), id = Some(0L)) == 0L)
    assert(TxnLog.txns(root) == Seq(0L))
    assert(CommitLog.versions(a) == Seq(0L) && CommitLog.versions(b) == Seq(0L))
    // crash AFTER manifests, BEFORE the entry; the replay completes
    // the SAME logical txn at the fixed id on fresh versions — the
    // first attempt's manifests stay invisible orphans
    unit(a, "u1", Seq(2L -> "a2")); unit(b, "u1", Seq(2L -> "b2"))
    intercept[RuntimeException](TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "u1")),
      prepared = () => throw new RuntimeException("crash"), id = Some(1L)))
    val t1 = TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "u1")), id = Some(1L))
    assert(t1 == 1L)
    assert(TxnLog.entry(root, 1L).toMap == Map(a -> 2L, b -> 2L),
      "the completed entry must reference the replay's versions")
    val now = TxnLog.snapshotAtomic(spark, root, Seq(a, b))
    assert(now(a).count() == 2 && now(b).count() == 2)
  }

  test("vacuumOrphans reclaims exactly what no retained txn references") {
    val (root, a, b) = fresh()
    unit(a, "u0", Seq(1L -> "a1")); unit(b, "u0", Seq(1L -> "b1"))
    TxnLog.commitAtomic(root, Seq(a -> Seq("u0"), b -> Seq("u0")))
    // a crashed transaction: both v1 manifests orphaned, plus their
    // exclusive units on disk
    unit(a, "orph_a", Seq(2L -> "x")); unit(b, "orph_b", Seq(2L -> "y"))
    intercept[RuntimeException](TxnLog.commitAtomic(root,
      Seq(a -> Seq("u0", "orph_a"), b -> Seq("u0", "orph_b")),
      prepared = () => throw new RuntimeException("crash")))
    // default = retain every published txn: ONLY the orphans go
    val rep = TxnLog.vacuumOrphans(root)
    assert(rep(a).unitsDeleted == 1 && rep(b).unitsDeleted == 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(a, "orph_a")),
      "the orphan's exclusive unit must be reclaimed")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(a, "u0")),
      "a retained txn's unit must survive")
    assert(CommitLog.versions(a) == Seq(0L), "the orphan manifest is gone")
    // the coordinated reader is untouched
    assert(TxnLog.snapshotAtomic(spark, root, Seq(a, b))(a).count() == 1)
    // trimming txn history removes entries AND their exclusive versions
    unit(a, "u1", Seq(3L -> "a2")); unit(b, "u1", Seq(3L -> "b2"))
    TxnLog.commitAtomic(root, Seq(a -> Seq("u0", "u1"), b -> Seq("u0", "u1")))
    TxnLog.vacuumOrphans(root, Some(Seq(TxnLog.txns(root).last)))
    assert(TxnLog.txns(root).size == 1)
    assert(TxnLog.snapshotAtomic(spark, root, Seq(a, b))(a).count() == 2)
  }

  test("dml_txn_multi: the stored aggregate matches the fact recount at every txn") {
    val rows = q("dml_txn_multi").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(3),
        s"row-count drift between fact and its coordinated aggregate: $r")
      assert(r.getDecimal(2) == r.getDecimal(4),
        s"total drift between fact and its coordinated aggregate: $r")
    }
  }
}
