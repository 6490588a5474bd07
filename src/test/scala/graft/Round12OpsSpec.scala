package graft

import org.apache.spark.sql.functions._

/** Round-12 maintenance-layer completions: the IVF index's compaction
  * generation (grow -> delete -> compact, closing the lifecycle the
  * postings index already had), and its contracts — result identity
  * with the tombstone-masked probe, dv retirement, and generational
  * merge of dirty buckets.
  */
class Round12OpsSpec extends GraftSpec {

  import graft.sources.CommitLog

  /** The cached IVF commit-log table root for this spec's sf dir
    * (built by the first sim_ivf_* query run).
    */
  private def ivfRoot: String = Derived.path("ivflog", sf)

  test("sim_ivf_compact ranks identically to the tombstone-masked probe") {
    graft.functions.GraftFunctions.register(spark)
    def ranking(name: String) = q(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getLong(3))).toSeq
    val masked = ranking("sim_ivf_delete")
    val compacted = ranking("sim_ivf_compact")
    assert(compacted.nonEmpty)
    assert(compacted == masked,
      "compaction moves bytes, never results: the v3 probe must equal v2's")
    // and transitively (the r11 pin): equal to a remaining-corpus
    // rebuild — no tombstoned id may survive as a neighbor
    assert(compacted.forall { case (_, cId, _, _) => cId % 9 != 0 || cId < 10 })
  }

  test("IVF compaction retires the dv sidecar and merges dirty generations") {
    graft.functions.GraftFunctions.register(spark)
    q("sim_ivf_compact").collect() // materialize the index build
    val root = ivfRoot
    // v3 carries NO deletes: the steady-state probe plan has no
    // anti-join left to pay
    assert(CommitLog.deletes(root, 3L).isEmpty,
      "compacted generation must retire the tombstone sidecar")
    // every bucket holding a tombstoned vector is SINGLE-unit at v3
    // (base+delta generations merged into data/cpct), while v2 could
    // carry up to two generations of it
    val emb = Tables.load(spark, sf, "embeddings")
    val cent = api.GraftOps.centroids(emb, "label", "embedding")
    val dirtyBuckets = api.GraftOps.ivfAssign(
        emb.filter(col("vec_id") % 9 === 0 && col("vec_id") >= 10),
        "vec_id", "embedding", cent)
      .select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet // metadata-sized: <= nlist bucket ids
    assert(dirtyBuckets.nonEmpty)
    val st3 = CommitLog.keyRanges(root, 3L, "bval")
    dirtyBuckets.foreach { b =>
      val units = st3.filter { case (_, mn, mx, _) => mn == b && mx == b }
      assert(units.size == 1,
        s"dirty bucket $b must compact to ONE unit, got ${units.map(_._1)}")
      assert(units.head._1.startsWith("data/cpct/"),
        s"dirty bucket $b's unit must be the compacted rewrite")
    }
    // no tombstoned vector survives in any v3 unit
    val v3Units = st3.map(u =>
      java.nio.file.Paths.get(root, u._1).toString)
    val ghosts = spark.read.parquet(v3Units: _*)
      .filter(col("c_id") % 9 === 0 && col("c_id") >= 10).count()
    assert(ghosts == 0L, s"$ghosts tombstoned vectors survived compaction")
    // clean buckets carried by NAME: their v2 entries appear verbatim
    val st2 = CommitLog.colStats(root, 2L).toSet
    CommitLog.colStats(root, 3L).filterNot(_.unit.startsWith("data/cpct/"))
      .foreach { e =>
        assert(st2.contains(e), s"clean unit ${e.unit} must carry verbatim")
      }
  }

  test("commit-ts stamps are monotonic in BOTH directions (ADVICE r11)") {
    import spark.implicits._
    val t = scratch("graft_r12_tsmono")
    (0L to 2L).foreach { v =>
      Seq((v, "x")).toDF("k", "s").coalesce(1).write.parquet(s"$t/u$v")
      CommitLog.commit(t, v, (0L to v).map(u => s"u$u"))
    }
    // stamp out of version order: v0 then v2, then squeeze v1 in
    CommitLog.writeCommitTs(t, 0L, 100L)
    CommitLog.writeCommitTs(t, 2L, 200L)
    // a v1 stamp ABOVE v2's would publish a non-monotonic history
    // (AS OF 250 would resolve to v2 though v1 "committed later")
    val e = intercept[IllegalArgumentException](
      CommitLog.writeCommitTs(t, 1L, 300L))
    assert(e.getMessage.contains("must precede"))
    // ...and below v0's is refused by the existing direction
    intercept[IllegalArgumentException](CommitLog.writeCommitTs(t, 1L, 50L))
    // the in-gap stamp is fine, and AS OF resolves through it
    CommitLog.writeCommitTs(t, 1L, 150L)
    assert(CommitLog.versionAsOf(t, 149L) == 0L)
    assert(CommitLog.versionAsOf(t, 150L) == 1L)
    assert(CommitLog.versionAsOf(t, 250L) == 2L)
    // a restamp still surfaces as the immutable-sidecar error
    intercept[IllegalStateException](CommitLog.writeCommitTs(t, 1L, 160L))
  }

  test("eval_ece equals the fold of eval_calibration's own bins") {
    val cal = q("eval_calibration").collect()
    val sumDev = cal.map(r =>
      java.math.BigDecimal.valueOf(r.getLong(2)) // n_pos
        .setScale(6).subtract(r.getDecimal(3)).abs) // - sum_p
      .reduce(_ add _)
    val n = cal.map(_.getLong(1)).sum
    val ece = q("eval_ece").collect().head
    assert(ece.getLong(0) == cal.length && ece.getLong(1) == n)
    assert(ece.getDecimal(2).compareTo(sumDev) == 0,
      s"sum_dev ${ece.getDecimal(2)} != calibration fold $sumDev")
    val expected = new java.math.BigDecimal(
      sumDev.doubleValue() / n).setScale(6, java.math.RoundingMode.HALF_UP)
    assert(ece.getDecimal(3).compareTo(expected) == 0)
  }

  test("eval_brier matches a driver-side exact-decimal recomputation") {
    val out = q("eval_brier").collect().head
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("lang", "text").collect() // test-sized
    var sumSq = java.math.BigDecimal.ZERO
    docs.foreach { r =>
      val toks = r.getString(1).split(" ", -1)
      // valueOf (shortest-repr), not the exact binary expansion —
      // the same conversion Spark's double->decimal cast performs
      val p = java.math.BigDecimal.valueOf(
        toks.distinct.length.toDouble / toks.length)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      val y = if (r.getString(0) == "en") java.math.BigDecimal.ONE
        else java.math.BigDecimal.ZERO
      val dv = p.subtract(y)
      sumSq = sumSq.add(dv.multiply(dv))
    }
    assert(out.getLong(0) == docs.length)
    assert(out.getDecimal(1).compareTo(sumSq.setScale(12)) == 0,
      s"sum_sq ${out.getDecimal(1)} != $sumSq")
  }

  test("eval_spearman matches a driver-side rank recomputation") {
    val out = q("eval_spearman").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("lang", "doc_id", "text").collect() // test-sized
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    docs.groupBy(_._1).foreach { case (lang, rows) =>
      val metrics = rows.map { case (_, id, text) =>
        val toks = text.split(" ", -1)
        (id, toks.length.toLong, toks.distinct.length.toLong)
      }
      def ranks(key: ((Long, Long, Long)) => Long): Map[Long, Long] =
        metrics.sortBy(m => (-key(m), m._1)).zipWithIndex
          .map { case (m, i) => m._1 -> (i + 1L) }.toMap
      val (ra, rb) = (ranks(_._2), ranks(_._3))
      val d2 = metrics.map(m => { val d = ra(m._1) - rb(m._1); d * d }).sum
      assert(out(lang) == ((metrics.length.toLong, d2)),
        s"$lang: got ${out(lang)}, brute force (${metrics.length}, $d2)")
    }
  }

  test("eval_ngram_overlap clips match a brute-force pair recomputation") {
    val out = q("eval_ngram_overlap").collect()
      .map(r => (r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("lang", "doc_id", "text").collect() // test-sized
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val byId = docs.map(d => d._2 -> d._3).toMap
    def gramCounts(s: String, n: Int): Map[String, Long] = {
      val t = s.split(" ", -1)
      t.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    def clip(c: String, r: String, n: Int): Long = {
      val (cc, rc) = (gramCounts(c, n), gramCounts(r, n))
      cc.map { case (g, k) => math.min(k, rc.getOrElse(g, 0L)) }.sum
    }
    // recompute ALL pairs: next doc_id within the language
    docs.groupBy(_._1).foreach { case (_, rows) =>
      val ids = rows.map(_._2).sorted
      ids.zip(ids.drop(1)).foreach { case (cid, rid) =>
        val (cLen, c1, c2) = out((cid, rid))
        val cand = byId(cid)
        assert(cLen == cand.split(" ", -1).length.toLong)
        assert(c1 == clip(cand, byId(rid), 1),
          s"pair ($cid,$rid) unigram clip")
        assert(c2 == clip(cand, byId(rid), 2),
          s"pair ($cid,$rid) bigram clip")
      }
    }
  }

  test("purge rebuilds both sidecar layers (cstats on k and p, bloom) in one pass") {
    import spark.implicits._
    val t = scratch("graft_r12_triple")
    (0 to 1).foreach { u =>
      (u * 100L until u * 100L + 100L).map(k => (k, k * 10L))
        .toDF("k", "p").coalesce(1).write.parquet(s"$t/u$u")
    }
    CommitLog.commit(t, 0L, Seq("u0", "u1"))
    // multi-column cstats (k is the key) + bloom, all on v0
    CommitLog.writeColStats(t, 0L,
      CommitLog.footerColStats(spark, t, Seq("u0", "u1"), Seq("k", "p")))
    CommitLog.writeBloomStats(spark, t, 0L, "k", 100L, 0.01)
    val rep = CommitLog.purgeKeys(spark, t, "k", Seq(150L, 151L, 152L))
    assert(rep.rowsPurged == 3L && rep.unitsRewritten == 1L)
    // k ranges: one per unit, twin re-measured, count consistent
    assert(CommitLog.keyRanges(t, 0L, "k").map(_._1).toSet ==
      CommitLog.unitNames(t, 0L).toSet)
    assert(CommitLog.keyRanges(t, 0L, "k").map(_._4).sum ==
      CommitLog.snapshot(spark, t, 0L).count())
    // cstats: BOTH columns covered for the twin
    val twinCs = CommitLog.colStats(t, 0L)
      .filter(_.unit.startsWith("purged/"))
    assert(twinCs.map(_.col).toSet == Set("k", "p"),
      s"twin must keep every tracked column: $twinCs")
    // bloom: surviving boundary keys still found, purged gone
    assert(CommitLog.snapshot(spark, t, 0L).filter(col("k") === 153L).count() == 1L)
    assert(CommitLog.snapshot(spark, t, 0L).filter(col("k") === 151L).limit(1).isEmpty)
  }

  test("purge composes with an ADDED column: defaults survive the rewrite") {
    import spark.implicits._
    val t = scratch("graft_r12_purgeadd")
    (0L until 50L).map(k => (k, k * 10L)).toDF("k", "p")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.addColumn(spark, t, "src", "string", "'legacy'") // v1
    Seq((100L, 1000L, "fresh")).toDF("k", "p", "src")
      .coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 2L, Seq("u0", "u1"))
    // purge keys from BOTH generations: the pre-add twin keeps its
    // column-less physical schema, the post-add twin keeps src
    val rep = CommitLog.purgeKeys(spark, t, "k", Seq(7L, 100L))
    assert(rep.rowsPurged == 2L)
    val s2 = CommitLog.snapshotMapped(spark, t, 2L)
    assert(s2.count() == 49L)
    assert(s2.filter(col("src") =!= "legacy").limit(1).isEmpty,
      "the fresh row was purged; every survivor carries the default")
    assert(s2.filter(col("k").isin(7L, 100L)).limit(1).isEmpty)
    // v1 (pre-append) also consistent under the mapping
    assert(CommitLog.snapshotMapped(spark, t, 1L).count() == 49L)
  }

  test("purge composes with a WIDENED key: mixed int/long generations scan clean") {
    import spark.implicits._
    val t = scratch("graft_r12_purgewiden")
    // old generation: INT key+value files
    Seq((1, 100), (2, 200), (4, 400)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.widenColumn(spark, t, "k", "bigint") // v1
    // new generation: BIGINT keys an INT cannot hold
    Seq((10000000000L, 999L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 2L, Seq("u0", "u1"))
    // the purge's key scan requests a FIXED BIGINT key-only schema, so
    // the int generation up-converts in the parquet reader itself
    // (mergeSchema would FAIL on the int/long split, and a single-file
    // -inferred schema would corrupt or fail depending on the sampled
    // file — see purgeKeys' requested-schema comment); keys must be
    // erased from BOTH generations
    val rep = CommitLog.purgeKeys(spark, t, "k", Seq(2L, 10000000000L))
    assert(rep.rowsPurged == 2L, rep.toString)
    val s2 = CommitLog.snapshotMapped(spark, t, 2L)
    assert(s2.orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 4L))
    (0L to 1L).foreach { v =>
      assert(CommitLog.snapshotMapped(spark, t, v)
        .filter(col("k") === 2L).limit(1).isEmpty, s"key 2 visible at v$v")
    }
  }

  test("purge composes with column mapping: renamed table purges cleanly") {
    import spark.implicits._
    val t = scratch("graft_r12_purgemap")
    (0L until 100L).map(k => (k, k * 10L)).toDF("k", "p")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.renameColumn(spark, t, "p", "price") // v1, metadata-only
    // purge by the PHYSICAL key column; the colmap sidecar references
    // no units, so the rewrite leaves it in force
    val rep = CommitLog.purgeKeys(spark, t, "k", Seq(7L, 8L))
    assert(rep.rowsPurged == 2L)
    (0L to 1L).foreach { v =>
      val snap = CommitLog.snapshotMapped(spark, t, v)
      val want = if (v == 0L) Seq("k", "p") else Seq("k", "price")
      assert(snap.schema.fieldNames.toSeq == want)
      assert(snap.filter(col("k").isin(7L, 8L)).limit(1).isEmpty)
      assert(snap.count() == 98L)
    }
  }

  test("widened columns keep range skipping: cstats probe after widen") {
    import spark.implicits._
    val t = scratch("graft_r12_widenstats")
    // two INT-typed k-range units with a cstats sidecar
    Seq(0, 1).foreach { u =>
      (u * 100 until u * 100 + 100).map(k => (k, k * 2))
        .toDF("k", "v").coalesce(1).write.parquet(s"$t/u$u")
    }
    CommitLog.commit(t, 0L, Seq("u0", "u1"))
    CommitLog.writeColStats(t, 0L,
      CommitLog.footerColStats(spark, t, Seq("u0", "u1"), Seq("k")))
    CommitLog.widenColumn(spark, t, "k", "bigint") // v1: same units
    CommitLog.writeColStats(t, 1L,
      CommitLog.footerColStats(spark, t, Seq("u0", "u1"), Seq("k")))
    // footer stats of an INT32 column read as kind=long, so the range
    // probe is type-stable across the widen
    val df = CommitLog.snapshot(spark, t, 1L).filter(col("k").between(0, 99))
    val scanned = CommitLog.scannedUnits(df)
    assert(scanned == 1, s"widened-key probe must still prune, got $scanned")
    assert(df.count() == 100L)
  }

  test("dropColumn: metadata-only, time-travel-faithful, never re-requested") {
    import spark.implicits._
    val t = scratch("graft_r12_drop")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "p")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    val v1 = CommitLog.dropColumn(spark, t, "s")
    assert(v1 == 1L)
    // v1 no longer SEES s; v0 still does (time travel below the drop)
    assert(CommitLog.snapshotMapped(spark, t, 1L).schema.fieldNames.toSeq
      == Seq("k", "p"))
    assert(CommitLog.snapshotMapped(spark, t, 0L).schema.fieldNames.toSeq
      == Seq("k", "s", "p"))
    // the drop is also a scan win: the mapped read's plan never
    // requests s — the old files' s pages are not even decoded
    val plan = CommitLog.snapshotMapped(spark, t, 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ReadSchema: struct<k:bigint,s:string"),
      "dropped column must be absent from the requested read schema")
    // a post-drop append writes units WITHOUT the column; both
    // generations read together
    Seq((3L, 30L)).toDF("k", "p").coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 2L, Seq("u0", "u1"))
    val v2 = CommitLog.snapshotMapped(spark, t, 2L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(v2.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // the writer path refuses to resurrect it
    intercept[IllegalArgumentException] {
      CommitLog.toPhysical(t, 2L, Seq((9L, "z", 9L)).toDF("k", "s", "p"))
    }
    // and dropping the rest down to one column is refused
    CommitLog.dropColumn(spark, t, "p")
    intercept[IllegalArgumentException](CommitLog.dropColumn(spark, t, "k"))
  }

  test("widenColumn: old narrow files read under the wider requested schema") {
    import spark.implicits._
    val t = scratch("graft_r12_widen")
    // physical INT generation
    Seq((1, 100), (2, 200)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    val v1 = CommitLog.widenColumn(spark, t, "v", "bigint")
    assert(v1 == 1L)
    val widened = CommitLog.snapshotMapped(spark, t, 1L)
    assert(widened.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // the widening happens IN the scan (requested schema), not as a
    // cast expression bolted on top
    assert(!widened.queryExecution.executedPlan.toString.contains("cast(v"),
      "widening must ride the requested schema, not a per-row cast")
    // post-widen append holds values an INT cannot: the reason the
    // widening existed
    Seq((3, 10000000000L)).toDF("k", "v").coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 2L, Seq("u0", "u1"))
    val all = CommitLog.snapshotMapped(spark, t, 2L)
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(all.toSeq == Seq((1, 100L), (2, 200L), (3, 10000000000L)))
    // time travel below the widen still reads INT
    assert(CommitLog.snapshotMapped(spark, t, 0L).schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // a narrowing or sideways cast is refused
    intercept[IllegalArgumentException](
      CommitLog.widenColumn(spark, t, "v", "int"))
    intercept[IllegalArgumentException](
      CommitLog.widenColumn(spark, t, "k", "string"))
    // widenings CHAIN: int -> bigint already in force, bigint -> int
    // refused above; decimal growth on a fresh table
    val t2 = scratch("graft_r12_widen2")
    Seq((1, "1.50")).toDF("k", "d")
      .select(col("k"), col("d").cast("decimal(10,2)").as("d"))
      .coalesce(1).write.parquet(s"$t2/u0")
    CommitLog.commit(t2, 0L, Seq("u0"))
    CommitLog.widenColumn(spark, t2, "d", "decimal(30,2)")
    val d = CommitLog.snapshotMapped(spark, t2, 1L).collect().head.getDecimal(1)
    assert(d.toPlainString == "1.50")
  }

  test("addColumn: default backfills pre-add files; appends carry it physically") {
    import spark.implicits._
    val t = scratch("graft_r12_add")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "p")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    val v1 = CommitLog.addColumn(spark, t, "src", "string", "'legacy'")
    assert(v1 == 1L)
    // v1: the default surfaces for every pre-add row; v0 never sees it
    assert(CommitLog.snapshotMapped(spark, t, 0L).schema.fieldNames.toSeq
      == Seq("k", "p"))
    val s1 = CommitLog.snapshotMapped(spark, t, 1L)
    assert(s1.schema.fieldNames.toSeq == Seq("k", "p", "src"))
    assert(s1.filter(col("src") === "legacy").count() == 2L)
    // post-add append carries the column physically
    Seq((3L, 30L, "fresh")).toDF("k", "p", "src")
      .coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 2L, Seq("u0", "u1"))
    val s2 = CommitLog.snapshotMapped(spark, t, 2L).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(s2.toSeq ==
      Seq((1L, "legacy"), (2L, "legacy"), (3L, "fresh")))
    // an invalid default is refused up front
    intercept[IllegalArgumentException](
      CommitLog.addColumn(spark, t, "bad", "bigint", "'not_a_number'"))
    // adding an existing column is refused; rename/widen of an added
    // column route to drop-and-re-add
    intercept[IllegalArgumentException](
      CommitLog.addColumn(spark, t, "src", "string", "'x'"))
    intercept[IllegalArgumentException](
      CommitLog.renameColumn(spark, t, "src", "origin"))
    intercept[IllegalArgumentException](
      CommitLog.widenColumn(spark, t, "src", "string"))
    // dropping the added column removes it AND tombstones the
    // physical copies the post-add appends wrote
    CommitLog.dropColumn(spark, t, "src")
    val s3 = CommitLog.snapshotMapped(spark, t, 3L)
    assert(s3.schema.fieldNames.toSeq == Seq("k", "p"))
    assert(s3.count() == 3L)
  }

  test("rename, widen and drop COMPOSE through one mapping") {
    import spark.implicits._
    val t = scratch("graft_r12_compose")
    Seq((1, 10, "x"), (2, 20, "y")).toDF("k", "p", "s")
      .coalesce(1).write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.renameColumn(spark, t, "p", "price") // v1
    CommitLog.widenColumn(spark, t, "price", "bigint") // v2 — via logical name
    CommitLog.dropColumn(spark, t, "s") // v3
    val snap = CommitLog.snapshotMapped(spark, t, 3L)
    assert(snap.schema.fieldNames.toSeq == Seq("k", "price"))
    assert(snap.schema("price").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(snap.orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
      .toSeq == Seq((1, 10L), (2, 20L)))
    // renaming the widened column again keeps the widening
    CommitLog.renameColumn(spark, t, "price", "unit_price") // v4
    val s4 = CommitLog.snapshotMapped(spark, t, 4L)
    assert(s4.schema.fieldNames.toSeq == Seq("k", "unit_price"))
    assert(s4.schema("unit_price").dataType ==
      org.apache.spark.sql.types.LongType)
    // and every earlier version still reads under ITS mapping
    assert(CommitLog.snapshotMapped(spark, t, 1L).schema.fieldNames.toSeq
      == Seq("k", "price", "s"))
  }
}
