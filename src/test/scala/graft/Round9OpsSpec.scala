package graft

/** Round-9 additions: multi-iteration k-means convergence contract,
  * the derived bloom-prescreen sizing's FPR at 10× the r8 cap, and
  * the content-aware table fingerprint (ADVICE r8).
  */
class Round9OpsSpec extends GraftSpec {

  test("cluster_kmeans: conservation, convergence, and step agreement") {
    val rows = q("cluster_kmeans").collect()
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    val k = Tables.load(spark, sf, "embeddings")
      .select("label").distinct().count()
    val byIter = rows.groupBy(_.getInt(0))
    assert(byIter.keySet == (1 to 5).toSet, "exactly 5 iterations reported")
    byIter.foreach { case (it, rs) =>
      assert(rs.length == k, s"iter $it must report every cluster")
      assert(rs.map(_.getLong(2)).sum == nVecs,
        s"iter $it must assign every vector exactly once")
      rs.foreach(r => assert(r.getDecimal(3).signum() >= 0))
    }
    // label-centroid init is near the fixpoint on this corpus: the
    // loop must not diverge — last round's largest centroid move is
    // bounded by the first round's.
    def maxShift(it: Int): Double =
      byIter(it).map(_.getDecimal(3).doubleValue()).max
    assert(maxShift(5) <= maxShift(1) + 1e-9,
      s"diverging centroids: iter1 ${maxShift(1)} -> iter5 ${maxShift(5)}")
    // iteration 1 IS cluster_assign's E-step (same init centroids):
    // its cluster sizes must agree with the oracled assignment query.
    val sizes1 = byIter(1).map(r => r.getLong(1) -> r.getLong(2)).toMap
    val assignSizes = q("cluster_assign").collect()
      .groupBy(_.getInt(2).toLong).map { case (cl, rs) => cl -> rs.length.toLong }
    assert(sizes1 == assignSizes,
      "iter-1 cluster sizes must match cluster_assign's grouping")
  }

  test("derived bloom sizing holds the designed FPR at 10x the old cap") {
    // r8 pinned bloom_agg at 50k items / 400k bits; the prescreen now
    // derives (n, 8n). Verify the 8-bits-per-item design point keeps
    // the false-positive rate near its ~2% theoretical value at
    // 500 000 items — the regime where the old cap would have
    // saturated toward FPP ~1 and erased the prescreen's win.
    graft.functions.GraftFunctions.register(spark)
    val n = 500000L
    spark.range(n).createOrReplaceTempView("__fpr_items")
    try {
      val fp = spark.sql(
        s"""WITH bf AS (SELECT bloom_agg(xxhash64(id), ${n}L, ${8 * n}L) AS f
           |            FROM __fpr_items)
           |SELECT count(*) AS fp FROM range(${n}, ${n + 100000})
           |WHERE bloom_might_contain((SELECT f FROM bf), xxhash64(id))"""
          .stripMargin).head().getLong(0)
      val rate = fp.toDouble / 100000.0
      assert(rate < 0.05, s"FPR $rate exceeds the 8-bits/item design point")
    } finally spark.catalog.dropTempView("__fpr_items")
  }

  test("dml_time_travel: snapshots are stable, delete is manifest-only") {
    import graft.sources.CommitLog
    val out = q("dml_time_travel").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val Array(v0, v1, v2) = out
    val nOrders = Tables.load(spark, sf, "orders").count()
    assert(v0.getLong(1) == nOrders, "v0 is the full base table")
    assert(v1.getLong(1) > v0.getLong(1), "v1 adds the k%11 inserts")
    assert(v2.getLong(1) < v1.getLong(1), "v2 drops every bucket-1 row")
    assert(v1.getLong(4) > 1000000000L, "inserted keys visible at v1")
    // second call hits the fingerprint cache (no rebuild) and must
    // read identical snapshots
    assert(q("dml_time_travel").collect().map(_.toString).toSeq ==
      out.map(_.toString).toSeq)
    // direct protocol checks on a scratch table: version list,
    // snapshot stability AFTER later commits, crash-leftover hygiene
    val t = scratch("graft_cl")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    Seq((3L, "c")).toDF("id", "s").write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u0", "u1"))
    // crashed writer: a .tmp manifest must not surface as a version
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_log", ".v00002.txt.tmp"), "u0\n")
    assert(CommitLog.versions(t) == Seq(0L, 1L))
    assert(CommitLog.latestVersion(t) == 1L)
    assert(CommitLog.snapshot(spark, t, 0L).count() == 2)
    assert(CommitLog.snapshot(spark, t, 1L).count() == 3)
    // manifest-only delete: v2 references only u1; u0's rows vanish
    // from v2 while v0 still reads them (snapshot isolation)
    CommitLog.commit(t, 2L, Seq("u1"))
    assert(CommitLog.snapshot(spark, t, 2L).count() == 1)
    assert(CommitLog.snapshot(spark, t, 0L).count() == 2,
      "published snapshots must stay stable after later commits")
    intercept[IllegalArgumentException](CommitLog.units(t, 9L))
  }

  test("dml_optimize compacts layout without changing content; vacuum reclaims") {
    import graft.sources.CommitLog
    val out = q("dml_optimize").collect()
    assert(out.length == 2)
    val Array(v0, v1) = out
    assert(v0.getLong(1) > 1L && v1.getLong(1) == 1L,
      "optimize must collapse many units into one")
    assert(v0.getLong(2) == v1.getLong(2) &&
      v0.getDecimal(3) == v1.getDecimal(3),
      "optimize changes layout, never content")
    // vacuum protocol on a scratch table: expired units deleted,
    // shared units retained, expired versions unreadable
    val t = scratch("graft_vac")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$t/shared")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$t/old_only")
    Seq((3L, "c")).toDF("id", "s").write.parquet(s"$t/new_only")
    CommitLog.commit(t, 0L, Seq("shared", "old_only"))
    CommitLog.commit(t, 1L, Seq("shared", "new_only"))
    val rep = CommitLog.vacuum(t, retain = Seq(1L))
    assert(rep.unitsDeleted == 1L,
      "exactly the expired-exclusive unit is reclaimed")
    assert(rep.filesDeleted > 0L && rep.failedPaths.isEmpty &&
      rep.skippedExternal.isEmpty,
      "clean vacuum: real file deletions counted, nothing failed or skipped")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "old_only")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t, "shared")),
      "a unit shared with a retained version must survive")
    assert(CommitLog.versions(t) == Seq(1L))
    assert(CommitLog.snapshot(spark, t, 1L).count() == 2)
    intercept[IllegalArgumentException](CommitLog.units(t, 0L))
  }

  test("dml_schema_evolution: old units surface the added column as null") {
    val out = q("dml_schema_evolution").collect()
    assert(out.length == 2)
    val Array(v0, v1) = out
    assert(v0.getLong(1) == 2L && v1.getLong(1) == 3L,
      "v1 must surface the evolved 3-column schema")
    assert(v0.getLong(4) == 0L, "no flag column exists at v0")
    assert(v1.getLong(4) == v1.getLong(2) - v0.getLong(2),
      "exactly the new rows carry a non-null flag")
  }

  test("commit-log snapshot reads keep pushdown, pruning, and evolution nulls") {
    import graft.sources.CommitLog
    val t = scratch("graft_push")
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "s", "v").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    val df = CommitLog.snapshot(spark, t, 0L).filter($"id" > 1).select("id", "v")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(id,1"),
      s"snapshot scan must push the predicate:\n${plan.take(1500)}")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("").replaceAll(".*ReadSchema: ", "")
    assert(readSchema.contains("id:") && readSchema.contains("v:")
      && !readSchema.contains("s:"),
      s"snapshot scan must prune unprojected columns: $readSchema")
    // evolution: a unit written with an extra column merges; the old
    // unit's rows surface it as null
    Seq((4L, "d", 40.0, "x")).toDF("id", "s", "v", "tag")
      .write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u0", "u1"))
    val ev = CommitLog.snapshotEvolved(spark, t, 1L)
    assert(ev.columns.toSeq == Seq("id", "s", "v", "tag"))
    assert(ev.filter($"tag".isNull).count() == 3 &&
      ev.filter($"tag" === "x").count() == 1)
  }

  test("sample_token_budget keeps the maximal md5-prefix under each cap") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"),
        md5(col("doc_id").cast("string")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val total = docs.map(_._3).sum
    val budget = total / (2L * docs.map(_._2).distinct.length)
    val kept = q("sample_token_budget").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    kept.groupBy(_._2).foreach { case (src, rs) =>
      assert(rs.map(_._4).max <= budget, s"$src exceeds its budget")
    }
    // maximality: replay the greedy prefix fill per source (token
    // counts are >= 1, so the running sum is strictly increasing and
    // "cum <= budget" IS a prefix) and demand the exact same doc set —
    // not just any under-budget subset
    val expectedPrefix = docs.groupBy(_._2).flatMap { case (_, ds) =>
      val sorted = ds.sortBy(d => (d._4, d._1))
      val cums = sorted.scanLeft(0L)(_ + _._3).tail
      sorted.zip(cums).takeWhile(_._2 <= budget).map(_._1._1).toSeq
    }.toSet
    assert(kept.map(_._1).toSet == expectedPrefix,
      "kept set must be exactly the maximal cumulative md5 prefix")
  }

  test("dml_incremental_read: deltas reconstruct snapshots; CDC guard fires") {
    import graft.sources.CommitLog
    val out = q("dml_incremental_read").collect()
    assert(out.length == 3)
    val cum = out.scanLeft(0L)((acc, r) => acc + r.getLong(2)).tail
    out.zip(cum).foreach { case (r, c) =>
      assert(r.getLong(4) == c,
        s"v${r.getLong(0)}: delta sums must reconstruct the snapshot row count")
    }
    // non-append versions must be rejected, not silently mis-consumed
    val t = scratch("graft_cdc")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$t/u0")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$t/u1")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.commit(t, 1L, Seq("u1")) // replaces u0: remove + add
    assert(CommitLog.removedUnits(t, 1L).nonEmpty)
    intercept[IllegalArgumentException](CommitLog.incremental(spark, t, 1L))
  }

  test("dml_clone: zero-copy fork evolves without touching the source") {
    import graft.sources.CommitLog
    val out = q("dml_clone").collect()
    assert(out.length == 2)
    val Array(v0, v1) = out
    val nOrders = Tables.load(spark, sf, "orders").count()
    assert(v0.getLong(1) == nOrders,
      "clone v0 must see the source's full content without copying it")
    assert(v1.getLong(1) > v0.getLong(1), "clone v1 adds its own unit")
    // source isolation: after the clone's writes, the source table
    // still has exactly its own 3 versions and its full content
    val srcOut = q("dml_incremental_read").collect()
    assert(srcOut.length == 3 && srcOut.last.getLong(4) == nOrders,
      "the clone's evolution must be invisible to the source")
  }

  test("tryCommit: exactly one writer wins a version, loser retries on top") {
    import graft.sources.CommitLog
    val t = scratch("graft_occ")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$t/u0")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$t/u1")
    assert(CommitLog.tryCommit(t, 0L, Seq("u0")))
    assert(!CommitLog.tryCommit(t, 0L, Seq("u1")),
      "a second publish of the same version must observe the conflict")
    assert(CommitLog.units(t, 0L).head.endsWith("u0"),
      "the losing writer must not clobber the winner's manifest")
    // the optimistic retry: loser re-reads latest and publishes on top
    assert(CommitLog.tryCommit(t, CommitLog.latestVersion(t) + 1, Seq("u0", "u1")))
    assert(CommitLog.versions(t) == Seq(0L, 1L))
    assert(CommitLog.snapshot(spark, t, 1L).count() == 2)
    // the losing attempt leaves no stray tmp in the log dir
    import scala.jdk.CollectionConverters._
    val stray = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_log"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".tmp"))
    assert(stray.isEmpty, "losing commits must clean their tmp files")
  }

  test("stats sidecars never masquerade as versions") {
    import graft.sources.CommitLog
    val t = scratch("graft_sv")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.writeColStats(t, 0L, longStats("id", Seq(("u0", 1L, 1L, 1L))))
    // a loose vNNNNN.txt match would parse "00000.cstats" and throw
    assert(CommitLog.versions(t) == Seq(0L))
    assert(CommitLog.latestVersion(t) == 0L)
    assert(CommitLog.keyRanges(t, 0L, "id") == Seq(("u0", 1L, 1L, 1L)))
    // vacuum reclaims the expired version's sidecar with its manifest
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$t/u1")
    CommitLog.commit(t, 1L, Seq("u1"))
    CommitLog.vacuum(t, retain = Seq(1L))
    intercept[IllegalArgumentException](CommitLog.colStats(t, 0L))
  }

  test("dml_data_skipping prunes units by stats without changing answers") {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"))
    val maxK = base.agg(max(col("k"))).head().getLong(0)
    val wd = maxK / 8L + 1L
    val keys = base.collect().map(_.getLong(0))
    val unitRange = keys.groupBy(_ / wd)
      .map { case (b, ks) => b -> (ks.min, ks.max) }
    def scannedFor(lo: Long, hi: Long): Long =
      unitRange.count { case (_, (mn, mx)) => mn <= hi && mx >= lo }.toLong
    val probes = Seq((0L, 2L * wd, 3L * wd - 1L),
      (1L, 5L * wd + wd / 2L, 6L * wd + wd / 2L), (2L, 0L, maxK))
    val out = q("dml_data_skipping").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    probes.foreach { case (id, lo, hi) =>
      val (scanned, rows) = out(id)
      assert(scanned == scannedFor(lo, hi),
        s"probe $id must scan exactly the stats-intersecting units")
      assert(rows == keys.count(k => k >= lo && k <= hi).toLong,
        s"probe $id pruning must not change the answer")
    }
    assert(out(0L)._1 < out(2L)._1,
      "a narrow probe must scan strictly fewer units than the full scan")
  }

  test("fingerprint catches a same-size same-mtime content rewrite") {
    val dir = java.nio.file.Paths.get(scratch("graft_fp"))
    val f = dir.resolve("documents.parquet")
    java.nio.file.Files.write(f, Array.fill[Byte](4096)(1))
    val mtime = java.nio.file.Files.getLastModifiedTime(f)
    val fp1 = Tables.fingerprint(dir.toString, "documents")
    // deterministic regenerator writing identical size within the same
    // mtime granule — the ADVICE-r8 collision class
    val bytes = Array.fill[Byte](4096)(1); bytes(4000) = 2
    java.nio.file.Files.write(f, bytes)
    java.nio.file.Files.setLastModifiedTime(f, mtime)
    val fp2 = Tables.fingerprint(dir.toString, "documents")
    assert(fp1 != fp2, "content change must change the fingerprint")
    // and stability: re-probing unchanged content is a fixpoint
    assert(fp2 == Tables.fingerprint(dir.toString, "documents"))
  }
}
