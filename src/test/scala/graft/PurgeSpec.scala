package graft

import org.apache.spark.sql.functions._

/** CommitLog.purgeKeys — the sanctioned history rewrite: erasure from
  * every version, byte-stability of clean units, single-rewrite of
  * shared dirty units, dv/seq/stats sidecar consistency, refusal
  * paths, and idempotence.
  */
class PurgeSpec extends GraftSpec {

  import graft.sources.CommitLog

  /** v0 = two key-range units; v1 = those plus an appended unit. Keys
    * 0..299, unit u<i> holds [i·100, i·100+99]. Both versions carry
    * footer cstats on `statCols`.
    */
  private def seed(dir: String, statCols: Seq[String] = Seq("k")): Unit = {
    import spark.implicits._
    (0 to 2).foreach { u =>
      (u * 100L until u * 100L + 100L).map(k => (k, k * 10L)).toDF("k", "p")
        .coalesce(1).write.parquet(s"$dir/u$u")
    }
    CommitLog.commit(dir, 0L, Seq("u0", "u1"))
    CommitLog.commit(dir, 1L, Seq("u0", "u1", "u2"))
    (0L to 1L).foreach(v => CommitLog.writeColStats(dir, v, CommitLog
      .footerColStats(spark, dir, CommitLog.unitNames(dir, v), statCols)))
  }

  private def mtimes(dir: String, unit: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, unit))
    try st.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    finally st.close()
  }

  test("purge erases the keys from every version; clean units stay byte-stable") {
    val t = scratch("graft_purge_basic")
    seed(t)
    val u0Before = mtimes(t, "u0")
    // keys 150..159 live only in u1
    val rep = CommitLog.purgeKeys(spark, t, "k", (150L until 160L).toSeq)
    assert(rep.rowsPurged == 10L && rep.unitsRewritten == 1L &&
      rep.unitsDropped == 0L && rep.versionsTouched == 2L, rep.toString)
    // erased at EVERY version
    (0L to 1L).foreach { v =>
      val snap = CommitLog.snapshot(spark, t, v)
      assert(snap.filter(col("k").between(150L, 159L)).limit(1).isEmpty,
        s"purged keys visible at v$v")
    }
    assert(CommitLog.snapshot(spark, t, 0L).count() == 190L)
    assert(CommitLog.snapshot(spark, t, 1L).count() == 290L)
    // the clean units were not rewritten, moved, or touched
    assert(mtimes(t, "u0") == u0Before)
    // the dirty ORIGINAL is physically gone (that is the erasure)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "u1")))
    // a shared dirty unit was rewritten ONCE: both manifests now
    // reference the same twin
    val twin0 = CommitLog.units(t, 0L).filter(_.contains("purged/"))
    val twin1 = CommitLog.units(t, 1L).filter(_.contains("purged/"))
    assert(twin0.size == 1 && twin0 == twin1)
  }

  test("purge rewrites the stats sidecar consistently (twins re-measured)") {
    val t = scratch("graft_purge_stats")
    seed(t)
    CommitLog.purgeKeys(spark, t, "k", Seq(100L, 199L, 250L))
    (0L to 1L).foreach { v =>
      val st = CommitLog.keyRanges(t, v, "k")
      // counts in the sidecar must sum to the actual snapshot
      assert(st.map(_._4).sum == CommitLog.snapshot(spark, t, v).count(),
        s"stats sidecar of v$v disagrees with the data")
      // and every unit keeps its k range across the swap (routing
      // stays sound)
      assert(st.map(_._1).toSet == CommitLog.unitNames(t, v).toSet)
      // purged boundary keys shrink the twin's range
      st.foreach { case (u, mn, mx, _) =>
        if (u.startsWith("purged/")) assert(mn > 100L || mx < 199L || mx < 250L)
      }
    }
  }

  test("a fully-purged unit is dropped from every manifest") {
    val t = scratch("graft_purge_drop")
    seed(t)
    val rep = CommitLog.purgeKeys(spark, t, "k", (200L until 300L).toSeq)
    assert(rep.unitsDropped == 1L && rep.unitsRewritten == 0L)
    assert(CommitLog.units(t, 1L) == CommitLog.units(t, 0L),
      "v1 must degrade to v0's unit list once u2 is fully purged")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "u2")))
  }

  test("purge scrubs MoR tombstone units; an emptied dv sidecar is deleted") {
    import spark.implicits._
    val t = scratch("graft_purge_dv")
    seed(t)
    // v2 declares a MoR delete of keys 10..19
    (10L until 20L).map(k => Tuple1(k)).toDF("k")
      .coalesce(1).write.parquet(s"$t/t0")
    CommitLog.commit(t, 2L, Seq("u0", "u1", "u2"))
    CommitLog.writeDeletes(t, 2L, Seq("t0"))
    CommitLog.rebuildStats(spark, t, 2L, "k")
    // purging exactly the tombstoned keys: the dv unit empties out and
    // the sidecar disappears; the data rows are purged anyway
    val rep = CommitLog.purgeKeys(spark, t, "k", (10L until 20L).toSeq)
    // DATA rows only (ADVICE r12): the 10 tombstone rows in the dv
    // sidecar are scrubbed too, but counting them double-reported the
    // erased data; rowsPurged is the user-facing erasure receipt
    assert(rep.rowsPurged == 10L, rep.toString)
    assert(CommitLog.deletes(t, 2L).isEmpty, "emptied dv sidecar must go")
    assert(CommitLog.snapshotMoR(spark, t, 2L, "k").count() == 290L)
    assert(CommitLog.snapshotMoR(spark, t, 2L, "k")
      .filter(col("k") < 20L && col("k") >= 10L).limit(1).isEmpty)
  }

  test("partial tombstone purge keeps the surviving delete semantics") {
    import spark.implicits._
    val t = scratch("graft_purge_dv2")
    seed(t)
    (10L until 20L).map(k => Tuple1(k)).toDF("k")
      .coalesce(1).write.parquet(s"$t/t0")
    CommitLog.commit(t, 2L, Seq("u0", "u1", "u2"))
    CommitLog.writeDeletes(t, 2L, Seq("t0"))
    // purge HALF the tombstoned keys plus one live key
    CommitLog.purgeKeys(spark, t, "k", Seq(10L, 11L, 12L, 13L, 14L, 42L))
    val v2 = CommitLog.snapshotMoR(spark, t, 2L, "k")
    // keys 15..19 still MoR-deleted by the surviving tombstones
    assert(v2.filter(col("k").between(10L, 19L)).limit(1).isEmpty)
    assert(v2.filter(col("k") === 42L).limit(1).isEmpty)
    assert(v2.count() == 300L - 10L - 1L)
  }

  test("purge refuses all-emptying purges; reruns are no-ops") {
    val t = scratch("graft_purge_refuse")
    seed(t)
    val e = intercept[IllegalArgumentException] {
      CommitLog.purgeKeys(spark, t, "k", (0L until 200L).toSeq)
    }
    assert(e.getMessage.contains("would empty version 0"))
    // the refused purge mutated NOTHING
    assert(CommitLog.snapshot(spark, t, 0L).count() == 200L)
    assert(CommitLog.units(t, 0L).forall(u => !u.contains("purged")))
    // a clean table: purging absent keys reports all-zero
    val t2 = scratch("graft_purge_noop")
    seed(t2)
    CommitLog.purgeKeys(spark, t2, "k", Seq(77L))
    val again = CommitLog.purgeKeys(spark, t2, "k", Seq(77L))
    assert(again == CommitLog.PurgeReport(0L, 0L, 0L, 0L),
      "re-purging already-erased keys must be a structural no-op")
  }

  test("purge rebuilds cstats and bloom sidecars; pruning survives, no false negatives") {
    val t = scratch("graft_purge_sidecars")
    // index BOTH layers on both versions: range stats on k + p, bloom
    // point-lookup on k — the round-11 refusal made these two
    // capabilities mutually exclusive with purge
    seed(t, Seq("k", "p"))
    (0L to 1L).foreach(v =>
      CommitLog.writeBloomStats(spark, t, v, "k", 100L, 0.01))
    // keys 150..159 dirty u1 only
    val rep = CommitLog.purgeKeys(spark, t, "k", (150L until 160L).toSeq)
    assert(rep.unitsRewritten == 1L, rep.toString)
    (0L to 1L).foreach { v =>
      // cstats: every manifest unit still covered, twin re-measured
      val cs = CommitLog.colStats(t, v)
      val csUnits = cs.map(_.unit).toSet
      val expectClean = if (v == 0L) Set("u0") else Set("u0", "u2")
      assert(csUnits.filterNot(_.startsWith("purged/")) == expectClean &&
        csUnits.count(_.startsWith("purged/")) == 1,
        s"v$v cstats must cover exactly the post-purge units: $csUnits")
      val twinK = cs.find(s => s.unit.startsWith("purged/") && s.col == "k").get
      assert(twinK.count == 90L && twinK.min.toLong == 100L &&
        twinK.max.toLong == 199L,
        s"twin k-stats re-measured from the purged data: $twinK")
      // range probe on the SECOND indexed column still prunes
      val (_, scanned) = CommitLog.snapshotRangeCol(spark, t, v,
        "p", "0", "990")
      assert(scanned == 1, s"v$v p-range probe must prune to u0 alone")
      // bloom: surviving keys MUST still be found (no false negative),
      // and a purged key's probe returns zero rows
      val (hit, _) = CommitLog.snapshotBloom(spark, t, v, "k", 149L)
      assert(hit.filter(col("k") === 149L).count() == 1L,
        s"v$v bloom false-negatived a surviving key")
      val (gone, _) = CommitLog.snapshotBloom(spark, t, v, "k", 155L)
      assert(gone.filter(col("k") === 155L).limit(1).isEmpty,
        s"v$v still returns a purged key")
      // a never-present key still prunes to zero units (the index is
      // an index, not a pass-through)
      val (_, n) = CommitLog.snapshotBloom(spark, t, v, "k", 999999L)
      assert(n <= 1, s"v$v bloom stopped pruning after the purge ($n units)")
    }
  }

  test("twin names are deterministic per (unit, request) — rerun-idempotent naming") {
    val ta = scratch("graft_purge_name_a")
    val tb = scratch("graft_purge_name_b")
    seed(ta); seed(tb)
    CommitLog.purgeKeys(spark, ta, "k", Seq(150L, 151L))
    CommitLog.purgeKeys(spark, tb, "k", Seq(151L, 150L)) // order must not matter
    def twins(t: String) = CommitLog.units(t, 1L)
      .filter(_.contains("purged/"))
      .map(p => p.substring(p.indexOf("purged/")))
    val twinA = twins(ta)
    val twinB = twins(tb)
    assert(twinA.nonEmpty && twinA == twinB,
      s"same (unit, key set) must yield the same twin name: $twinA vs $twinB")
    // a DIFFERENT request maps the same unit to a DIFFERENT twin
    val tc = scratch("graft_purge_name_c")
    seed(tc)
    CommitLog.purgeKeys(spark, tc, "k", Seq(150L, 152L))
    val twinC = twins(tc)
    assert(twinC.nonEmpty && twinC != twinA,
      "distinct key sets must not collide on a twin name")
  }

  test("frame purge plans the key set as a broadcast anti-join, not an In list") {
    import spark.implicits._
    val t = scratch("graft_purge_plan")
    seed(t)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe:
          org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      // an erasure-batch-shaped request: 10k keys, 10 of which hit
      val keys = ((1000000L until 1010000L) ++ (150L until 160L)).toDF("k")
      val rep = CommitLog.purgeKeys(spark, t, "k", keys)
      assert(rep.rowsPurged == 10L && rep.unitsRewritten == 1L, rep.toString)
      // listener delivery is async — poll for the anti-join plan
      val deadline = System.nanoTime() + 30000000000L
      def seen = {
        import scala.jdk.CollectionConverters._
        plans.asScala.exists(p =>
          p.contains("LeftAnti") && p.contains("BroadcastHashJoin"))
      }
      while (!seen && System.nanoTime() < deadline) Thread.sleep(100)
      assert(seen, "the twin rewrite must plan as BroadcastHashJoin " +
        "LeftAnti over the broadcast key frame")
    } finally spark.listenerManager.unregister(l)
  }
}
