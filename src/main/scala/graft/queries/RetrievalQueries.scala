package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables.load
import graft.sources.Parquet

/** Family AB (round 10): retrieval scoring and model-evaluation
  * operators — the query-side half of a training-data pipeline
  * (ref: n/a, SURVEY §0 — the reference repo is empty; BM25/RRF/AUC
  * are public-literature contracts: Robertson & Walker SIGIR'94,
  * Cormack et al. SIGIR'09 reciprocal-rank fusion, Hanley & McNeil
  * 1982 rank-statistic AUC).
  *
  * Scale shapes (the 100 TB contract):
  *  - `text_bm25` — the query-term set is small BY DEFINITION (it is
  *    a query), so term stats (df) and corpus stats (N, avgdl) are
  *    broadcast 5-row / 1-row aggregates; the corpus is touched by
  *    exactly two column-pruned scans (one map-only for doc lengths,
  *    one explode→filter→combinable-agg for term frequencies) and
  *    one doc_id-keyed exchange. Nothing is proportional to
  *    vocabulary size.
  *  - `sim_hybrid` — probes broadcast against the candidate scan
  *    (probe-bounded cross join, the sim_topk precedent); the two
  *    rankings ride per-probe window partitions, which is inherent
  *    to the semantics (a ranking per query) and bounded by corpus
  *    size per probe, not corpus², and the fused re-rank moves only
  *    (q_id, c_id, rank) triples — vectors and token sets are
  *    dropped before any exchange.
  *  - `eval_auc` — the corpus collapses to a distinct-score
  *    histogram in ONE combinable shuffle; the rank arithmetic runs
  *    integer-exact over that tiny table (window over the aggregate,
  *    the ts_weekday_profile precedent). AUC itself is all-integer
  *    until one final division — shuffle-order-proof by
  *    construction.
  *  - `eval_calibration` — map-only binning + one combinable 10-group
  *    rollup; per-bin mean prediction sums DECIMAL, so no
  *    double-accumulation order dependence.
  *  - `sample_curriculum` — curriculum ordering needs a running token
  *    total per stage, but a stage is a huge partition at 100 TB, so
  *    the prefix sum is TWO-LEVEL: rows bucket by the first hex
  *    nibble of their md5 sort key (16 RANGES of the ordering, so
  *    bucket-local sums + a 48-row running offset table reconstruct
  *    the global prefix exactly), the windows run per (stage, bucket)
  *    — 3×16-way parallel — and only the tiny offset/budget tables
  *    broadcast. The DuckDB twin computes the same result with a
  *    plain per-stage window; equality of the two formulations IS
  *    the distributed-prefix-sum correctness proof.
  *
  * Exactness discipline: every mixed-type arithmetic step is forced
  * to DOUBLE on at least one operand (explicit CASTs in BOTH the
  * Spark expression and the oracle SQL) so neither engine's
  * decimal-promotion rules enter; ranks, counts and token budgets
  * stay BIGINT; emitted scores round through DECIMAL(18,6) (the
  * sim_topk contract).
  */
object RetrievalQueries {

  /** BM25 query-term set — high-df corpus terms so multi-term docs
    * exercise the additive part of the score (the driver corpus is
    * SQL-engine word salad; classic English stopwords barely occur).
    */
  private val bm25Terms = Seq("hash", "join", "merge", "scan", "window")

  /** Okapi BM25 term weight with k1 = 1.2, b = 0.75, and the
    * +1-inside-the-log idf (the Lucene formulation — never negative).
    * All-double expression, mirrored verbatim in the oracle.
    */
  private val bm25W =
    "ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))" +
      " * (CAST(tf AS DOUBLE) * 2.2)" +
      " / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))) AS w"

  /** The fixed-order 5-column pivot that makes the per-doc score sum
    * shuffle-order-proof — shared by the from-scratch and the
    * index-backed scorer so the two formulations cannot drift.
    * Expects (doc_id, term, w).
    */
  private def bm25Pivot(scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scored.groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_hit"),
        coalesce(sum(when(col("term") === "hash", col("w"))), lit(0.0)).as("w_hash"),
        coalesce(sum(when(col("term") === "join", col("w"))), lit(0.0)).as("w_join"),
        coalesce(sum(when(col("term") === "merge", col("w"))), lit(0.0)).as("w_merge"),
        coalesce(sum(when(col("term") === "scan", col("w"))), lit(0.0)).as("w_scan"),
        coalesce(sum(when(col("term") === "window", col("w"))), lit(0.0)).as("w_window"))
      .selectExpr("doc_id", "n_hit",
        "CAST(w_hash + w_join + w_merge + w_scan + w_window AS DECIMAL(18,6)) AS bm25")
      .orderBy("doc_id")

  /** Build (or reuse) the 3-version postings index table: v0 = the
    * standing corpus (doc_id%10≠0), v1 = the arriving batch appended
    * O(delta), v2 = the doc_id%7 slice DELETED via a tombstone unit +
    * a signed meta unit (no bucket unit touched at any version
    * boundary after its ingest). Built once per sf-dir per JVM — the
    * sim_ivf_delta precedent applied to the lexical index.
    */
  private def postingsIndex(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Derived.dir("bm25log", d, "documents")(buildPostingsAt(s, d, _))

  // The PURGED twin of the index (text_bm25_postings_purge): its own
  // build (the shared one must stay unpurged for the other three
  // probes), then a doc_id%10==3 GDPR erasure THROUGH purgeKeys.
  private def postingsPurgedIndex(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Derived.dir("bm25log_purged", d, "documents") { dir =>
      buildPostingsAt(s, d, dir)
      graft.sources.CommitLog.purgeKeys(s, dir, "doc_id",
        load(s, d, "documents")
          .filter(col("text").isNotNull && col("doc_id") % 10 === 3)
          .select(col("doc_id")))
    }

  /** The 4-version postings-index build into `dir`, shared by the probe
    * family and the purge variant — see [[postingsIndex]] for the
    * lifecycle.
    */
  private def buildPostingsAt(s: org.apache.spark.sql.SparkSession,
      d: String, dir: String): Unit = {
    import graft.sources.CommitLog
    locally {
      val docsAll = load(s, d, "documents").filter(col("text").isNotNull)
      // each bucket unit's cstats entry on bval is its bucket id (the
      // footers of a bucket-homogeneous unit); meta units carry no
      // bval and get no entry — that absence is what marks them
      def bucketStats(sub: String): Seq[CommitLog.ColStat] =
        CommitLog.footerColStats(s, dir,
          CommitLog.partitionUnits(dir, sub, "bucket"), Seq("bval"))
      def ingest(part: org.apache.spark.sql.DataFrame,
          sub: String): Seq[CommitLog.ColStat] = {
        part.select(col("doc_id"),
            expr("CAST(size(split(text, ' ')) AS BIGINT)").as("dl"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
          .groupBy("term", "doc_id", "dl")
          // POSITIONAL postings (round 13 — VERDICT r12 #5): each
          // (term, doc) row carries its sorted 0-based occurrence
          // positions — the Lucene-style payload that turns the index
          // phrase-capable. sort_array pins the file bytes against
          // collect_list's shuffle-order nondeterminism; tf stays its
          // own column (= size(positions)) so the BM25 probes keep
          // their narrow column-pruned reads (Round13OpsSpec pins that
          // their ReadSchema never mentions positions).
          .agg(count(lit(1)).cast("bigint").as("tf"),
            sort_array(collect_list(col("pos").cast("bigint")))
              .as("positions"))
          .withColumn("bucket", expr("pmod(xxhash64(term), 8)"))
          // bval keeps the bucket INSIDE the files (the sim_ivf_delta
          // rule): pruned reads list bucket dirs directly, no
          // basePath partition discovery
          .withColumn("bval", col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/$sub")
        part.agg(count(lit(1)).cast("bigint").as("n_docs"),
            sum(expr("CAST(size(split(text, ' ')) AS BIGINT)"))
              .cast("bigint").as("sum_dl"))
          .coalesce(1).write.parquet(s"$dir/data/${sub}_meta")
        bucketStats(s"data/$sub")
      }
      val st0 = ingest(docsAll.filter(col("doc_id") % 10 =!= 0), "base")
      val u0 = st0.map(_.unit) :+ "data/base_meta"
      CommitLog.commit(dir, 0L, u0)
      CommitLog.writeColStats(dir, 0L, st0)
      // the version boundary: ONLY the delta batch is tokenized and
      // written — O(delta) index growth, v0 units byte-untouched
      val st1 = ingest(docsAll.filter(col("doc_id") % 10 === 0), "delta")
      val u1 = u0 ++ st1.map(_.unit) :+ "data/delta_meta"
      CommitLog.commit(dir, 1L, u1)
      CommitLog.writeColStats(dir, 1L, st0 ++ st1)
      // v2: DELETE the doc_id%7 slice — a tombstone unit (dv channel)
      // + a signed meta unit; every bucket unit carries by name
      val dead = docsAll.filter(col("doc_id") % 7 === 0)
      dead.select("doc_id").coalesce(1).write.parquet(s"$dir/data/del1")
      dead.agg((count(lit(1)) * lit(-1L)).cast("bigint").as("n_docs"),
          (sum(expr("CAST(size(split(text, ' ')) AS BIGINT)")) * lit(-1L))
            .cast("bigint").as("sum_dl"))
        .coalesce(1).write.parquet(s"$dir/data/del1_meta")
      CommitLog.commit(dir, 2L, u1 :+ "data/del1_meta")
      CommitLog.writeColStats(dir, 2L, st0 ++ st1)
      CommitLog.writeDeletes(dir, 2L, Seq("data/del1"))
      // v3: COMPACT the index — the maintenance op that folds the
      // tombstones INTO the dirty buckets and collapses the signed
      // meta chain, so steady-state probes stop paying the anti-join
      // and the O(ingests) meta fold. Dirty buckets = those whose
      // postings hit the tombstone set (routed by one semi-join over
      // the bucket units; clean buckets would carry by name). The
      // rewrite also collapses a bucket's base+delta GENERATIONS into
      // one unit — compaction is the generational merge. v3 publishes
      // clean-carried + rewritten buckets + ONE meta unit and NO dv
      // sidecar; probe equality with v2 is the compaction contract.
      val bucketSt = st0 ++ st1
      def abs(rel: String) = java.nio.file.Paths.get(dir, rel).toString
      val tomb = Parquet.read(s, abs("data/del1")).select("doc_id").distinct()
      val dirtyIds = Parquet.read(s, bucketSt.map(u => abs(u.unit)))
        .join(broadcast(tomb), "doc_id")
        .select("bval").distinct()
        .collect().map(_.getLong(0)).toSet // metadata-sized: <= 8 dirty bucket ids
      val (dirtySt, cleanSt) = bucketSt.partition(u => dirtyIds(u.min.toLong))
      Parquet.read(s, dirtySt.map(u => abs(u.unit)))
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .withColumn("bucket", col("bval"))
        .write.partitionBy("bucket").parquet(s"$dir/data/cpct")
      Parquet.read(s, Seq(abs("data/base_meta"), abs("data/delta_meta"),
          abs("data/del1_meta")))
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
          sum(col("sum_dl")).cast("bigint").as("sum_dl"))
        .coalesce(1).write.parquet(s"$dir/data/cmeta")
      val cpctSt = bucketStats("data/cpct") ++ cleanSt
      CommitLog.commit(dir, 3L, cpctSt.map(_.unit) :+ "data/cmeta")
      CommitLog.writeColStats(dir, 3L, cpctSt)
    }
  }

  /** The postings index at `version` as (bucket units whose bucket id
    * is in `wanted`, meta units), absolute paths in manifest order. A
    * bucket unit is one with a cstats entry on bval, whose range is its
    * bucket id; the meta units are the rest.
    */
  private def indexUnits(root: String, version: Long,
      wanted: Set[Long]): (Seq[String], Seq[String]) = {
    import graft.sources.CommitLog
    val buckets = CommitLog.keyRanges(root, version, "bval")
    val bucketUnits = buckets.map(_._1).toSet
    def abs(u: String) = java.nio.file.Paths.get(root, u).toString
    (buckets.filter(u => wanted(u._2)).map(u => abs(u._1)),
      CommitLog.unitNames(root, version).filterNot(bucketUnits).map(abs))
  }

  /** Score the fixed query against the index AT `version`: manifest-
    * pruned bucket read, broadcast tombstone anti-join (when the
    * version carries doc deletions), df folded from the surviving
    * postings, corpus stats from the signed meta fold — then the
    * shared expression + pivot.
    */
  private[graft] def bm25FromIndex(s: org.apache.spark.sql.SparkSession,
      root: String, version: Long): org.apache.spark.sql.DataFrame = {
    import graft.sources.CommitLog
    // the query terms' buckets through the SAME engine hash
    val wanted = s.createDataset(bm25Terms)(
        org.apache.spark.sql.Encoders.STRING)
      .selectExpr("pmod(xxhash64(value), 8) AS bucket")
      .distinct().collect().map(_.getLong(0)) // metadata-sized: <= 5 query-term bucket ids
      .toSet
    val (picked, metas) = indexUnits(root, version, wanted)
    val corpus = Parquet.read(s, metas)
      .agg(sum(col("n_docs")).cast("bigint").as("n"),
        (sum(col("sum_dl")).cast("double") /
          sum(col("n_docs"))).as("avgdl"))
    val raw = Parquet.read(s, picked)
      .filter(col("term").isin(bm25Terms: _*))
      .select("term", "doc_id", "dl", "tf")
    val dv = CommitLog.deletes(root, version)
    val postings =
      if (dv.isEmpty) raw
      else raw.join(
        broadcast(Parquet.read(s, dv).select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
    val dfreq = postings.groupBy("term")
      .agg(count(lit(1)).cast("bigint").as("df"))
    postings.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(corpus))
      .selectExpr("doc_id", "term", bm25W)
      .transform(bm25Pivot)
  }

  /** Shared positional-probe scaffolding (round 13 phrase; N-term +
    * proximity round 14 — VERDICT r13 #7): manifest-prune to the
    * query terms' buckets through the engine hash, anti-join
    * tombstones, then hand the combiner (1) the per-term position
    * frame — `doc_id, p0..p{n-1}` built by n−1 equi-joins of
    * k-bounded posting lists (a position array is tf-sized, never
    * doc-sized) — and return its match column joined with the probe
    * terms' summed BM25. With NO postings/meta unit for any term
    * bucket the probe returns the EMPTY result with the contract
    * schema (ADVICE r13: an empty parquet path list throws a schema-
    * inference error). At 100 TB every variant costs O(postings of
    * the query terms) — never a corpus re-tokenization.
    */
  private def positionalProbe(s: org.apache.spark.sql.SparkSession,
      root: String, version: Long, words: Seq[String], matchCol: String)(
      combine: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    import graft.sources.CommitLog
    require(words.size >= 2, "a positional probe needs at least two terms")
    val wanted = s.createDataset(words.distinct)(
        org.apache.spark.sql.Encoders.STRING)
      .selectExpr("pmod(xxhash64(value), 8) AS bucket")
      .distinct().collect().map(_.getLong(0)) // metadata-sized: <= |terms| bucket ids
      .toSet
    val (picked, metas) = indexUnits(root, version, wanted)
    // ADVICE r13: a parquet read of zero paths throws UNABLE_TO_
    // _INFER_SCHEMA — no bucket unit for any query term (or no meta
    // yet) means the phrase answer is simply empty
    if (picked.isEmpty || metas.isEmpty)
      return s.range(0).selectExpr("id AS doc_id",
        s"CAST(NULL AS BIGINT) AS $matchCol",
        "CAST(NULL AS DECIMAL(18,6)) AS bm25")
    val corpus = Parquet.read(s, metas)
      .agg(sum(col("n_docs")).cast("bigint").as("n"),
        (sum(col("sum_dl")).cast("double") /
          sum(col("n_docs"))).as("avgdl"))
    val raw = Parquet.read(s, picked)
      .filter(col("term").isin(words.distinct: _*))
      .select("term", "doc_id", "dl", "tf", "positions")
    val dv = CommitLog.deletes(root, version)
    val postings =
      if (dv.isEmpty) raw
      else raw.join(
        broadcast(Parquet.read(s, dv).select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
    // doc_id, p0..p{n-1}: one tf-bounded position array per term
    val positional = words.zipWithIndex.map { case (w, i) =>
      postings.filter(col("term") === w)
        .select(col("doc_id"), col("positions").as(s"p$i"))
    }.reduce(_.join(_, "doc_id"))
    val matched = positional
      .select(col("doc_id"), combine(positional).cast("bigint").as(matchCol))
      .filter(col(matchCol) > 0)
    // the probe terms' BM25 for the matching docs (each weight exists
    // by construction — a matching doc contains every term); the
    // per-term conditional sums added in fixed textual order keep the
    // double addition shuffle-order-independent
    val dfreq = postings.groupBy("term")
      .agg(count(lit(1)).cast("bigint").as("df"))
    val aggs = words.distinct.zipWithIndex.map { case (w, i) =>
      coalesce(sum(when(col("term") === w, col("w"))), lit(0.0)).as(s"w$i") }
    val piv = postings.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(corpus))
      .selectExpr("doc_id", "term", bm25W)
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("doc_id",
        s"CAST(${words.distinct.indices.map(i => s"w$i").mkString(" + ")}" +
          " AS DECIMAL(18,6)) AS bm25")
    matched.join(piv, "doc_id")
      .select("doc_id", matchCol, "bm25")
      .orderBy("doc_id")
  }

  /** PHRASE query against the positional postings index: docs
    * containing `words` consecutively, with the occurrence count and
    * the terms' BM25. Adjacency generalizes to N terms as a CHAINED
    * POSITION-SHIFT INTERSECTION: a phrase starts at position x iff
    * x ∈ p0 ∧ x+1 ∈ p1 ∧ … ∧ x+(n−1) ∈ p{n−1}, i.e.
    * `array_intersect(p0, p1−1, …, p{n−1}−(n−1))` — positions within
    * a doc are distinct, so the intersection size IS the phrase count.
    */
  private[graft] def phraseFromIndex(s: org.apache.spark.sql.SparkSession,
      root: String, version: Long, words: Seq[String])
      : org.apache.spark.sql.DataFrame =
    positionalProbe(s, root, version, words, "n_phrase") { _ =>
      val shifted = words.indices.map {
        case 0 => "p0"
        case i => s"transform(p$i, x -> x - CAST($i AS BIGINT))"
      }
      expr(s"size(${shifted.reduce((a, b) => s"array_intersect($a, $b)")})")
    }

  /** PROXIMITY query: docs where `w1` and `w2` occur within `k`
    * positions of each other, counting the w1 anchors that have a w2
    * neighbor — per-doc array arithmetic
    * (`filter(p0, x -> exists(p1, y -> |y−x| ≤ k))`) on tf-bounded
    * rows, sharing the phrase probe's bucket pruning end to end.
    */
  private[graft] def proximityFromIndex(s: org.apache.spark.sql.SparkSession,
      root: String, version: Long, w1: String, w2: String, k: Int)
      : org.apache.spark.sql.DataFrame =
    positionalProbe(s, root, version, Seq(w1, w2), "n_near") { _ =>
      expr(s"size(filter(p0, x -> exists(p1, y -> abs(y - x) <= $k)))")
    }

  val queries: Map[String, Q] = Map(
    // AB1: Okapi BM25 scoring of the corpus against a fixed 5-term
    // query. Term order in the final sum is pinned by the 5-column
    // pivot (one conditional sum per term, added in fixed textual
    // order) — a plain sum(w) over a double would be
    // shuffle-order-dependent.
    "text_bm25" -> ((s, d) => {
      val docs = load(s, d, "documents").filter(col("text").isNotNull)
      val dl = docs.selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS dl")
      val corpus = dl.agg(count(lit(1)).cast("bigint").as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(bm25Terms: _*))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("bigint").as("tf"))
      val dfreq = tf.groupBy("term")
        .agg(count(lit(1)).cast("bigint").as("df"))
      tf.join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(corpus))
        .selectExpr("doc_id", "term", bm25W)
        .transform(bm25Pivot)
    }),

    // AB6 (round 11): BM25 from a PERSISTED POSTINGS INDEX stored as a
    // commit-log table — the lexical twin of sim_ivf_delta (VERDICT
    // r10 #9). Build: the full-vocabulary postings (term, doc_id, dl,
    // tf) land in term-hash-bucketed units (bucket = pmod(xxhash64,8),
    // min=max stats entry = the bucket id), plus one 1-row META unit
    // per ingest carrying that batch's (n_docs, sum_dl) — segment
    // metadata, Lucene-style, so corpus stats fold from O(ingests)
    // rows, never a corpus re-scan. The index GROWS BY DELTA: v1
    // appends only the arriving batch's buckets + meta (O(delta)
    // postings written; v0 units untouched). Query: the 5 query
    // terms' buckets resolve through the SAME engine hash, the
    // manifest prunes to those units across both generations before
    // any footer is opened, df folds from the probed postings (a
    // term's postings are complete within its bucket), and scoring
    // reuses text_bm25's exact expression + pivot. Same oracle as
    // text_bm25: the index-backed scorer must be value-identical to
    // the from-scratch scan, which is the entire index contract. At
    // 100 TB: query cost is O(postings of the query terms), ingest
    // cost is O(delta) — neither touches the corpus.
    "text_bm25_postings" -> ((s, d) =>
      bm25FromIndex(s, postingsIndex(s, d), 1L)),

    // AB17 (round 13 — VERDICT r12 #5): PHRASE MATCH on the positional
    // postings index — "the first user query after BM25". Shares the
    // SAME index table as the whole text_bm25_postings family (probed
    // at v1, the delta-grown full corpus): the positions column rides
    // in every postings row, the manifest prunes to the two terms'
    // buckets, adjacency is per-doc array arithmetic. Fully oracled:
    // DuckDB recomputes adjacency from the raw text with a
    // position-zipped unnest self-join — index and from-scratch scan
    // must agree on every doc, count, and score.
    "text_phrase_match" -> ((s, d) =>
      phraseFromIndex(s, postingsIndex(s, d), 1L, Seq("hash", "join"))),

    // AB18 (round 14 — VERDICT r13 #7): 3-TERM PHRASE — the chained
    // position-shift intersection beyond adjacency: a doc matches iff
    // some x has x∈p("big"), x+1∈p("order"), x+2∈p("scan"). The probe
    // still opens only the query terms' buckets (Round14OpsSpec pin);
    // cost is O(postings of 3 terms) at any corpus size.
    "text_phrase_n" -> ((s, d) =>
      phraseFromIndex(s, postingsIndex(s, d), 1L,
        Seq("big", "order", "scan"))),

    // AB19 (round 14 — VERDICT r13 #7): WITHIN-k PROXIMITY — docs
    // where 'hash' has a 'join' within 5 positions (either side),
    // n_near = the count of such hash anchors. Same postings index,
    // same manifest pruning; the window test is per-doc array
    // arithmetic on tf-bounded rows.
    "text_proximity" -> ((s, d) =>
      proximityFromIndex(s, postingsIndex(s, d), 1L, "hash", "join", 5)),

    // AB7 (round 11): the postings index UNDER DOC DELETION — the
    // secondary-index-maintenance story. v2 deletes the doc_id%7
    // slice (GDPR shape) by publishing exactly TWO small objects:
    // a doc-id tombstone unit (the dv sidecar channel) and a SIGNED
    // meta unit (−n_docs, −sum_dl) that folds into the corpus stats
    // like every other ingest's — every bucket unit stays
    // byte-untouched, so deletion costs O(deleted docs), never an
    // index rewrite. The probe anti-joins the broadcast tombstone set
    // after the manifest-pruned bucket read, df folds from the
    // surviving postings, and N/avgdl come out exact because the
    // signed meta fold is plain addition. Probed at v2 while
    // text_bm25_postings probes the SAME table at v1 — index time
    // travel for free. Oracle: the shared bm25 SQL body over the
    // corpus minus the deleted slice — the index must score the
    // remaining docs EXACTLY as a from-scratch scan of the remaining
    // corpus would, idf shift and all. (The index's cstats describe
    // bval, its BUCKET ids, not doc_id ranges — applyDeletes would
    // find no key range to route by and collapse every bucket into
    // one unit; reclaiming tombstoned postings physically is the v3
    // bucket-preserving compaction below.)
    "text_bm25_postings_delete" -> ((s, d) =>
      bm25FromIndex(s, postingsIndex(s, d), 2L)),

    // AB8 (round 11): the postings index COMPACTED — v3 folds the v2
    // tombstones into the dirty buckets (routed by a semi-join, each
    // bucket's base+delta generations merged to one unit), collapses
    // the 3-unit signed meta chain to one row, and drops the dv
    // sidecar. The probe is bm25FromIndex unchanged: at v3 it finds
    // no deletes, so the anti-join vanishes from the plan and the
    // meta fold reads one unit — the steady-state cost a compacted
    // index buys. Scores must equal the v2 (tombstone-masked) probe
    // AND the shared from-scratch oracle over the surviving corpus —
    // compaction may move bytes, never results (RetrievalSpec pins
    // the v2/v3 equality and the collapsed layout).
    "text_bm25_postings_compact" -> ((s, d) =>
      bm25FromIndex(s, postingsIndex(s, d), 3L)),

    // AB12 (round 12): GDPR ON THE SEARCH LAYER — the postings index
    // through purgeKeys (VERDICT r11 #8). The doc_id%10==3 slice is
    // physically erased from EVERY version of its own index build:
    // the purge routes the term-hash bucket units (their per-term
    // rows are keyed by doc_id), scrubs the v2 tombstone unit, and —
    // the index-aware part — re-derives each rewritten twin's cstats
    // entry on bval from its footers: the twin keeps its bucket id
    // (the unit is bucket-homogeneous) with the count re-measured, and
    // no doc_id range is ever published there, so nothing routes a
    // doc key through a bucket id. The keyless
    // 1-row meta units read doc_id as NULL under the purge's
    // BIGINT-requested key-only scan schema, so they are never dirty: N and avgdl still count the
    // erased docs (data-plane erasure does not rewrite historical
    // aggregates), while tf and df fold from the surviving postings
    // only. The probe is bm25FromIndex UNCHANGED at all four
    // versions — the purge is transparent to the probe machinery,
    // which is the whole point. Oracle: from-scratch BM25 per
    // version with corpus stats over the version's full membership
    // but tf/df over the membership minus the purged slice — the
    // purged doc gone from every version, the survivors' idf shift
    // reproduced exactly.
    "text_bm25_postings_purge" -> ((s, d) => {
      val root = postingsPurgedIndex(s, d)
      (0L to 3L).map { v =>
        bm25FromIndex(s, root, v)
          .select(lit(v).cast("bigint").as("version"),
            col("doc_id"), col("n_hit"), col("bm25"))
      }.reduce(_ unionAll _).orderBy("version", "doc_id")
    }),

    // AB2: hybrid retrieval — reciprocal-rank fusion (k = 60) of a
    // lexical ranking (distinct-token overlap with the probe doc) and
    // a vector ranking (cosine, the sim_topk 6-dp + id-tie-break
    // contract) over the doc_id = vec_id multimodal join. Both ranks
    // are computed over the FULL candidate set so rank alignment is
    // exact, then the top-5 fused results per probe are emitted.
    "sim_hybrid" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val uni = load(s, d, "documents").filter(col("text").isNotNull)
        .join(load(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .selectExpr("doc_id AS id", "array_distinct(split(text, ' ')) AS toks",
          "embedding", "sqrt(array_dot(embedding, embedding)) AS nrm")
      val probes = uni
        .selectExpr("id AS q_id", "toks AS qt", "embedding AS qv", "nrm AS nq")
        .filter(col("q_id") < 10)
      val pairs = uni.crossJoin(broadcast(probes))
        .filter(col("q_id") =!= col("id"))
        .selectExpr("q_id", "id AS c_id",
          "CAST(size(array_intersect(qt, toks)) AS BIGINT) AS overlap",
          "CAST(array_dot(qv, embedding) / (nq * nrm) AS DECIMAL(18,6)) AS cos_sim")
      val wl = Window.partitionBy("q_id").orderBy(col("overlap").desc, col("c_id").asc)
      val wv = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id").asc)
      val fused = pairs
        .withColumn("rl", row_number().over(wl).cast("bigint"))
        .withColumn("rv", row_number().over(wv).cast("bigint"))
        // ranks are exact BIGINTs, so the fused score is a sum of two
        // exact rationals — identical IEEE doubles on both engines
        .selectExpr("q_id", "c_id", "rl", "rv",
          "CAST(1.0 / CAST(60 + rl AS DOUBLE) + 1.0 / CAST(60 + rv AS DOUBLE)" +
            " AS DECIMAL(18,6)) AS rrf")
      val wr = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("c_id").asc)
      fused.withColumn("rn", row_number().over(wr).cast("bigint"))
        .filter(col("rn") <= 5)
        .select("q_id", "c_id", "rl", "rv", "rrf", "rn")
        .orderBy("q_id", "rn")
    }),

    // AB3: ROC AUC of "stopword ratio predicts lang = 'en'" via the
    // tie-aware Mann-Whitney rank statistic on the score HISTOGRAM:
    // num2 = Σ_s n_pos(s) · (2·negBelow(s) + n_neg(s)) counts
    // concordant pairs twice and ties once, so auc = num2 / (2·P·N)
    // with no half-weights until the single final division.
    "eval_auc" -> ((s, d) => {
      val hist = load(s, d, "documents").filter(col("text").isNotNull)
        .selectExpr("(lang = 'en') AS pos",
          "CAST(CAST(size(filter(split(text, ' '), " +
            "w -> w IN ('the', 'and', 'of', 'a', 'in', 'to'))) AS DOUBLE)" +
            " / size(split(text, ' ')) AS DECIMAL(18,6)) AS score")
        .groupBy("score")
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos_s"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg_s"))
      val wrun = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = hist.agg(sum(col("n_pos_s")).cast("bigint").as("np"),
        sum(col("n_neg_s")).cast("bigint").as("nn"))
      hist.withColumn("neg_below",
          coalesce(sum(col("n_neg_s")).over(wrun), lit(0L)).cast("bigint"))
        .crossJoin(broadcast(tot))
        .groupBy("np", "nn")
        .agg(sum(col("n_pos_s") * (lit(2L) * col("neg_below") + col("n_neg_s")))
          .cast("bigint").as("num2"))
        .selectExpr("np AS n_pos", "nn AS n_neg", "num2",
          "CAST(num2 AS DOUBLE) / (2.0 * np * nn) AS auc")
        .orderBy("n_pos")
    }),

    // AB4: calibration curve — lexical diversity (distinct/total
    // tokens, a [0,1] pseudo-probability) binned into deciles, per-bin
    // mean prediction vs empirical positive rate. The mean sums
    // DECIMAL(18,6) predictions (exact) and divides once.
    "eval_calibration" -> ((s, d) =>
      load(s, d, "documents").filter(col("text").isNotNull)
        .selectExpr("(lang = 'en') AS pos",
          "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
            " / size(split(text, ' ')) AS p")
        .selectExpr("pos", "CAST(least(floor(p * 10), 9) AS BIGINT) AS bin",
          "CAST(p AS DECIMAL(18,6)) AS pd")
        .groupBy("bin")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(col("pd")).cast(DecimalType(38, 6)).as("sum_p"),
          (sum(col("pd")).cast("double") / count(lit(1))).as("mean_p"),
          (sum(when(col("pos"), 1L).otherwise(0L)).cast("double")
            / count(lit(1))).as("frac_pos"))
        .orderBy("bin")),

    // AB13 (round 12): EXPECTED CALIBRATION ERROR — the one-number
    // summary of eval_calibration's reliability diagram: ECE =
    // Σ_b (n_b/N)·|acc_b − conf_b| = Σ_b |n_pos_b − Σp_b| / N. The
    // per-bin deviation is EXACT decimal arithmetic (integer positive
    // counts minus 6-dp decimal prediction sums), so the whole metric
    // is exact until its single final division — the eval-family
    // discipline. Plan: the same map-only binning + one combinable
    // 10-group rollup as eval_calibration, collapsed to one row.
    "eval_ece" -> ((s, d) =>
      load(s, d, "documents").filter(col("text").isNotNull)
        .selectExpr("(lang = 'en') AS pos",
          "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
            " / size(split(text, ' ')) AS p")
        .selectExpr("pos", "CAST(least(floor(p * 10), 9) AS BIGINT) AS bin",
          "CAST(p AS DECIMAL(18,6)) AS pd")
        .groupBy("bin")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(col("pd")).cast(DecimalType(38, 6)).as("sum_p"))
        .agg(count(lit(1)).cast("bigint").as("n_bins"),
          sum(col("n")).cast("bigint").as("n"),
          sum(abs(col("n_pos").cast(DecimalType(38, 6)) - col("sum_p")))
            .cast(DecimalType(38, 6)).as("sum_dev"))
        .selectExpr("n_bins", "n", "sum_dev",
          "CAST(CAST(sum_dev AS DOUBLE) / n AS DECIMAL(18,6)) AS ece")),

    // AB16 (round 12): BRIER SCORE — the proper scoring rule
    // companion of ECE/calibration: mean squared error of the
    // pseudo-probability against the label. (p − y) is exact at 6 dp,
    // its square exact at 12 dp, the sum exact decimal (the
    // eval_forecast cast discipline keeps Spark's and DuckDB's
    // decimal-multiply precision rules out of play) — one final
    // division. Map-only + one combinable 1-row rollup.
    "eval_brier" -> ((s, d) =>
      load(s, d, "documents").filter(col("text").isNotNull)
        .selectExpr("(lang = 'en') AS pos",
          "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
            " / size(split(text, ' ')) AS p")
        .selectExpr(
          "CAST(p AS DECIMAL(18,6))" +
            " - CAST(CASE WHEN pos THEN 1 ELSE 0 END AS DECIMAL(18,6))" +
            " AS dv")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(expr("CAST(dv AS DECIMAL(19,6)) * CAST(dv AS DECIMAL(18,6))"))
            .cast(DecimalType(38, 12)).as("sum_sq"))
        .selectExpr("n", "sum_sq",
          "CAST(CAST(sum_sq AS DOUBLE) / n AS DECIMAL(18,6)) AS brier")),

    // AB14 (round 12): SPEARMAN RANK CORRELATION between two quality
    // orderings (total vs distinct token count) per language — the
    // rank-statistic complement of agg_corr_pairs' Pearson. Ranks are
    // row_number with the doc_id tie-break (deterministic, not
    // average-rank), d² sums are ALL-INTEGER, and ρ = 1 − 6Σd²/
    // (n(n²−1)) is exact until one double division, NULL-guarded at
    // n<2 (the eval_forecast zero-variance discipline). One lang
    // shuffle; both rank windows ride it.
    "eval_spearman" -> ((s, d) => {
      val m = load(s, d, "documents").filter(col("text").isNotNull)
        .selectExpr("lang", "doc_id",
          "CAST(size(split(text, ' ')) AS BIGINT) AS m_a",
          "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS m_b")
      val wa = Window.partitionBy("lang")
        .orderBy(col("m_a").desc, col("doc_id"))
      val wb = Window.partitionBy("lang")
        .orderBy(col("m_b").desc, col("doc_id"))
      m.withColumn("ra", row_number().over(wa).cast("long"))
        .withColumn("rb", row_number().over(wb).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum((col("ra") - col("rb")) * (col("ra") - col("rb")))
            .cast("bigint").as("sum_d2"))
        .selectExpr("lang", "n", "sum_d2",
          "CAST(CASE WHEN n < 2 THEN NULL" +
            " ELSE 1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0))" +
            " END AS DECIMAL(18,6)) AS rho")
        .orderBy("lang")
    }),

    // AB15 (round 12): GENERATION-EVAL N-GRAM OVERLAP — the BLEU-shape
    // core (Papineni et al. ACL'02, public literature) the eval family
    // lacked: per (candidate, reference) pair the CLIPPED 1- and
    // 2-gram precisions — Σ_g min(count_cand(g), count_ref(g)) over
    // shared grams, divided by candidate gram counts. Pairs are
    // deterministic (each doc vs the next doc_id in its language);
    // bigrams come from a position self-join (posexplode + pos+1 —
    // both engines build them the same way, no index-lambda
    // divergence); clipping is exact integer min-sum; only the final
    // precision ratios divide, through the DECIMAL(18,6) render. The
    // transcendental BLEU fold (brevity-penalty exp, log-precision
    // mean) is deliberately NOT computed — cross-engine libm is not
    // bit-stable, and the distributed-heavy part IS the clipped
    // counting. Plan: gram counts are (doc, gram)-keyed combinable
    // aggs; each clip term is pairs ⋈ cand-grams ⋈ ref-grams on
    // (pair, gram) — keyed equi-joins end to end, never a cartesian;
    // everything downstream of the counts is pair-sized.
    "eval_ngram_overlap" -> ((s, d) => {
      val docs = load(s, d, "documents").filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), split(col("text"), " ").as("toks"))
      val wl = Window.partitionBy("lang").orderBy("doc_id")
      val pairs = docs
        .withColumn("ref_id", lead(col("doc_id"), 1).over(wl))
        .filter(col("ref_id").isNotNull)
        .select("lang", "doc_id", "ref_id")
      // n-grams are PER-ROW array arithmetic (round 14 — VERDICT r13
      // #3): the bigram of position i is transform(sequence(...)) over
      // the already-split token array — map-only, no positional
      // self-join (the join form shuffled every token twice and its
      // DuckDB twin spilled >74 GB at sf1; both twins now share the
      // list-transform shape)
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("gram"))
      val big = docs.select(col("doc_id"), explode(expr(
          "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1)," +
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))" +
            " ELSE CAST(array() AS ARRAY<STRING>) END")).as("gram"))
      def grams(g: org.apache.spark.sql.DataFrame) =
        g.groupBy("doc_id", "gram").agg(count(lit(1)).cast("bigint").as("c"))
      def clipSum(g: org.apache.spark.sql.DataFrame, out: String) = {
        val cand = g.select(col("doc_id"), col("gram"), col("c").as("cc"))
        val ref = g.select(col("doc_id").as("ref_id"), col("gram"),
          col("c").as("rc"))
        pairs.join(cand, "doc_id").join(ref, Seq("ref_id", "gram"))
          .groupBy("doc_id")
          .agg(sum(least(col("cc"), col("rc"))).cast("bigint").as(out))
      }
      val lens = docs.select(col("doc_id"),
        size(col("toks")).cast("bigint").as("c_len"))
      pairs.join(lens, "doc_id")
        .join(clipSum(grams(uni), "cl1"), Seq("doc_id"), "left")
        .join(clipSum(grams(big), "cl2"), Seq("doc_id"), "left")
        .selectExpr("lang", "doc_id", "ref_id", "c_len",
          "CAST(coalesce(cl1, 0) AS BIGINT) AS clip1",
          "CAST(coalesce(cl2, 0) AS BIGINT) AS clip2",
          "CAST(CAST(coalesce(cl1, 0) AS DOUBLE) / c_len" +
            " AS DECIMAL(18,6)) AS p1",
          "CAST(CASE WHEN c_len > 1 THEN" +
            " CAST(coalesce(cl2, 0) AS DOUBLE) / (c_len - 1)" +
            " ELSE NULL END AS DECIMAL(18,6)) AS p2")
        .orderBy("lang", "doc_id")
    }),

    // AB5: curriculum sampling — stage by length band, deterministic
    // md5-shuffled order within stage, and HALF of each stage's token
    // mass selected by running budget. The per-stage prefix sum runs
    // as the two-level bucket decomposition described in the family
    // doc; the single-window DuckDB twin proves it exact.
    "sample_curriculum" -> ((s, d) => {
      val staged = load(s, d, "documents").filter(col("text").isNotNull)
        .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
        .selectExpr("doc_id", "n_tok",
          "CASE WHEN n_tok < 40 THEN 'a_short' WHEN n_tok < 70 THEN 'b_mid'" +
            " ELSE 'c_long' END AS stage",
          "md5(CAST(doc_id AS STRING)) AS ord")
        .withColumn("bkt", substring(col("ord"), 1, 1))
      val wloc = Window.partitionBy("stage", "bkt")
        .orderBy(col("ord"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val woff = Window.partitionBy("stage").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = staged.groupBy("stage", "bkt").agg(sum(col("n_tok")).as("bt"))
        .withColumn("off", coalesce(sum(col("bt")).over(woff), lit(0L)))
        .drop("bt")
      val budget = staged.groupBy("stage").agg(expr("sum(n_tok) DIV 2").as("b"))
      staged.withColumn("loc_cum", sum(col("n_tok")).over(wloc))
        .join(broadcast(off), Seq("stage", "bkt"))
        .withColumn("cum_tok", (col("loc_cum") + col("off")).cast("bigint"))
        .join(broadcast(budget), "stage")
        .filter(col("cum_tok") <= col("b"))
        .select("stage", "doc_id", "n_tok", "cum_tok")
        .orderBy("stage", "cum_tok", "doc_id")
    }),

    // AB9 (round 11): NDCG@10 — graded ranking quality of the cosine
    // retrieval against the deterministic length-band relevance proxy
    // (relPairs). The log2 discounts are PINNED 12-dp DECIMAL
    // constants shared verbatim with the oracle (discCase), gains are
    // the integer 2^rel-1 table, so every per-rank term is an EXACT
    // decimal and the per-query sums are shuffle-order-proof — no
    // transcendental is evaluated by either engine. One probe-bounded
    // broadcast cross join + two windows over per-query partitions;
    // only rank/gain integers reach the aggregation exchange.
    "eval_ndcg" -> ((s, d) => {
      val wv = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("c_id").asc)
      val wi = Window.partitionBy("q_id")
        .orderBy(col("rel").desc, col("c_id").asc)
      relPairs(s, d)
        .withColumn("rk", row_number().over(wv).cast("bigint"))
        .withColumn("ik", row_number().over(wi).cast("bigint"))
        .filter(col("rk") <= 10 || col("ik") <= 10)
        .selectExpr("q_id",
          s"CAST(CASE WHEN rk <= 10 THEN ($gainCase) * (${discCase("rk")})" +
            " ELSE 0 END AS DECIMAL(38,12)) AS dterm",
          s"CAST(CASE WHEN ik <= 10 THEN ($gainCase) * (${discCase("ik")})" +
            " ELSE 0 END AS DECIMAL(38,12)) AS iterm")
        .groupBy("q_id")
        .agg(sum(col("dterm")).cast(DecimalType(38, 12)).as("dcg12"),
          sum(col("iterm")).cast(DecimalType(38, 12)).as("icg12"))
        // 6-dp render goes THROUGH DOUBLE: a direct decimal->decimal
        // downcast rounds in Spark but truncates in DuckDB; the
        // double->decimal path is the engine-agreeing sim_topk contract
        .selectExpr("q_id",
          "CAST(CAST(dcg12 AS DOUBLE) AS DECIMAL(18,6)) AS dcg",
          "CAST(CAST(icg12 AS DOUBLE) AS DECIMAL(18,6)) AS idcg",
          "CAST(CASE WHEN icg12 = 0 THEN 0.0 ELSE" +
            " CAST(dcg12 AS DOUBLE) / CAST(icg12 AS DOUBLE) END" +
            " AS DECIMAL(18,6)) AS ndcg")
        .orderBy("q_id")
    }),

    // AB10 (round 11): MRR — reciprocal rank of the first fully
    // relevant candidate (rel = 3, same length band) in the cosine
    // ranking. All-integer until the single 1/rank division (an exact
    // IEEE quotient both engines round identically); probes with no
    // relevant candidate emit the defined (0, 0.000000) row rather
    // than vanishing, so the output is total over the probe set.
    "eval_mrr" -> ((s, d) => {
      val wv = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("c_id").asc)
      relPairs(s, d)
        .withColumn("rk", row_number().over(wv).cast("bigint"))
        .groupBy("q_id")
        .agg(min(when(col("rel") === 3, col("rk"))).as("fr"))
        .selectExpr("q_id",
          "CAST(coalesce(fr, 0) AS BIGINT) AS first_rel",
          "CAST(CASE WHEN fr IS NULL THEN 0.0" +
            " ELSE 1.0 / CAST(fr AS DOUBLE) END AS DECIMAL(18,6)) AS rr")
        .orderBy("q_id")
    }),

    // AB11 (round 11): recall@5 — coverage of the fully relevant set
    // (rel = 3) by the cosine top-5. Integer hit/total counts from one
    // combinable per-query aggregation, one final division; the
    // zero-relevant probe emits a defined 0.000000.
    "eval_recall_k" -> ((s, d) => {
      val wv = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("c_id").asc)
      relPairs(s, d)
        .withColumn("rk", row_number().over(wv).cast("bigint"))
        .groupBy("q_id")
        .agg(sum(when(col("rel") === 3, 1L).otherwise(0L)).as("n_rel"),
          sum(when(col("rel") === 3 && col("rk") <= 5, 1L).otherwise(0L))
            .as("hits"))
        .selectExpr("q_id",
          "CAST(n_rel AS BIGINT) AS n_rel", "CAST(hits AS BIGINT) AS hits",
          "CAST(CASE WHEN n_rel = 0 THEN 0.0 ELSE" +
            " CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE) END" +
            " AS DECIMAL(18,6)) AS recall")
        .orderBy("q_id")
    }),

    // AB12 (round 11): two-sample Kolmogorov-Smirnov statistic between
    // the en / non-en stopword-ratio distributions — the
    // distribution-shift alarm a pipeline runs between corpus
    // snapshots. Same ONE combinable histogram collapse as eval_auc;
    // running CDFs ride a window over the tiny distinct-score table;
    // the sup-distance is CROSS-MULTIPLIED (|cum_pos·NN − cum_neg·NP|,
    // BIGINT) so it stays all-integer until the single final division.
    "eval_ks" -> ((s, d) => {
      val hist = scoreHist(s, d)
      val wrun = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = hist.agg(sum(col("n_pos_s")).cast("bigint").as("np"),
        sum(col("n_neg_s")).cast("bigint").as("nn"))
      hist
        .withColumn("cp", sum(col("n_pos_s")).over(wrun).cast("bigint"))
        .withColumn("cn", sum(col("n_neg_s")).over(wrun).cast("bigint"))
        .crossJoin(broadcast(tot))
        .groupBy("np", "nn")
        .agg(max(abs(col("cp") * col("nn") - col("cn") * col("np")))
          .cast("bigint").as("ks_num"))
        .selectExpr("np AS n_pos", "nn AS n_neg", "ks_num",
          "CAST(ks_num AS DOUBLE) / (CAST(np AS DOUBLE) * nn) AS ks")
        .orderBy("n_pos")
    }),

    // AB13 (round 11): PRECISION-RECALL CURVE — the threshold sweep of
    // the same classifier eval_auc ranks: scanning distinct scores
    // high→low, each score is a decision threshold and (tp, fp) are
    // running sums over the SAME one-shuffle histogram; precision and
    // recall are exact-integer ratios with one double division each.
    // Curve length = distinct scores, never corpus size.
    "eval_pr_curve" -> ((s, d) => {
      val hist = scoreHist(s, d)
      val wdesc = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = hist.agg(sum(col("n_pos_s")).cast("bigint").as("np"))
      hist
        .withColumn("tp", sum(col("n_pos_s")).over(wdesc).cast("bigint"))
        .withColumn("fp", sum(col("n_neg_s")).over(wdesc).cast("bigint"))
        .crossJoin(broadcast(tot))
        .selectExpr("score", "tp", "fp",
          "CAST(CAST(tp AS DOUBLE) / (tp + fp) AS DECIMAL(18,6)) AS prec",
          "CAST(CAST(tp AS DOUBLE) / np AS DECIMAL(18,6)) AS rec")
        .orderBy(col("score").desc)
    })
  )

  /** The shared classifier-score histogram (eval_auc's collapse): the
    * corpus reduces to one row per DISTINCT stopword-ratio score with
    * per-class counts — ONE combinable shuffle, after which every
    * metric (AUC, KS, the PR curve) is window arithmetic over a
    * distinct-scores-sized table.
    */
  private def scoreHist(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    load(s, d, "documents").filter(col("text").isNotNull)
      .selectExpr("(lang = 'en') AS pos",
        "CAST(CAST(size(filter(split(text, ' '), " +
          "w -> w IN ('the', 'and', 'of', 'a', 'in', 'to'))) AS DOUBLE)" +
          " / size(split(text, ' ')) AS DECIMAL(18,6)) AS score")
      .groupBy("score")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos_s"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg_s"))

  /** Graded-relevance retrieval pairs shared by the ranking-metric
    * trio (AB9-AB11). Ranking signal = the sim_topk-contract cosine
    * (6-dp DECIMAL, id tie-break); relevance = the deterministic
    * length-band proxy rel = max(0, 3 - |band_q - band_c|) with
    * band = n_tok DIV 20 — grades 0..3 derived purely from the data so
    * both engines reproduce them exactly. Scale shape: the candidate
    * corpus is scanned ONCE, probes and their norms ride a broadcast
    * (the sim_hybrid precedent), and only (q_id, c_id, cos_sim, rel)
    * rows — never vectors or token arrays — reach any exchange.
    */
  private[graft] def relPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val uni = load(s, d, "documents").filter(col("text").isNotNull)
      .join(load(s, d, "embeddings"), col("doc_id") === col("vec_id"))
      .selectExpr("doc_id AS id",
        "CAST(size(split(text, ' ')) DIV 20 AS BIGINT) AS band",
        "embedding", "sqrt(array_dot(embedding, embedding)) AS nrm")
    val probes = uni
      .selectExpr("id AS q_id", "band AS qb", "embedding AS qv", "nrm AS nq")
      .filter(col("q_id") < 10)
    uni.crossJoin(broadcast(probes))
      .filter(col("q_id") =!= col("id"))
      .selectExpr("q_id", "id AS c_id",
        "CAST(array_dot(qv, embedding) / (nq * nrm) AS DECIMAL(18,6))" +
          " AS cos_sim",
        "CAST(greatest(0, 3 - abs(qb - band)) AS BIGINT) AS rel")
  }

  /** The integer 2^rel - 1 gain table (rel is 0..3 by construction). */
  private val gainCase: String =
    "CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END"

  /** NDCG discount 1/log2(rank+1) for rank 1..10 as PINNED 12-dp
    * DECIMAL literals — the same CASE text is embedded in the Spark
    * expression and the DuckDB oracle, so neither engine evaluates a
    * transcendental and the per-term products are exact decimals
    * (integer gain × 12-dp constant), making the metric
    * shuffle-order-proof by construction.
    */
  private def discCase(c: String): String =
    s"CASE $c WHEN 1 THEN 1.000000000000 WHEN 2 THEN 0.630929753571" +
      " WHEN 3 THEN 0.500000000000 WHEN 4 THEN 0.430676558073" +
      " WHEN 5 THEN 0.386852807235 WHEN 6 THEN 0.356207187108" +
      " WHEN 7 THEN 0.333333333333 WHEN 8 THEN 0.315464876786" +
      " WHEN 9 THEN 0.301029995664 ELSE 0.289064826318 END"

  /** Shared DuckDB CTE body for the ranking-metric trio — the oracle
    * twin of relPairs + the cosine/ideal rank windows.
    */
  private val rankedPairsSql: String =
    """WITH uni AS (SELECT d.doc_id AS id,
      |    CAST(len(string_split(d.text, ' ')) // 20 AS BIGINT) AS band,
      |    CAST(e.embedding AS DOUBLE[]) AS v
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  WHERE d.text IS NOT NULL),
      | probes AS (SELECT id AS q_id, band AS qb, v AS qv
      |  FROM uni WHERE id < 10),
      | pairs AS (SELECT q_id, id AS c_id,
      |    CAST(list_cosine_similarity(qv, v) AS DECIMAL(18,6)) AS cos_sim,
      |    CAST(greatest(0, 3 - abs(qb - band)) AS BIGINT) AS rel
      |  FROM probes, uni WHERE q_id <> id),
      | ranked AS (SELECT q_id, c_id, rel,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos_sim DESC, c_id) AS BIGINT) AS rk,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY rel DESC, c_id) AS BIGINT) AS ik
      |  FROM pairs)""".stripMargin

  /** The shared CTE chain of every bm25 oracle (one twin for the
    * from-scratch scan, the index probes, AND the streamed-index
    * probes: sharing the string IS the index contract).
    */
  private val bm25Ctes: String =
    """ dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        | corpus AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        |  WHERE term IN ('hash', 'join', 'merge', 'scan', 'window')
        |  GROUP BY doc_id, term),
        | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        | ts AS (SELECT tf.doc_id, tf.term,
        |    ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / avgdl))) AS w
        |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, corpus),
        | piv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
        |    coalesce(sum(CASE WHEN term = 'hash' THEN w END), 0.0) AS w_hash,
        |    coalesce(sum(CASE WHEN term = 'join' THEN w END), 0.0) AS w_join,
        |    coalesce(sum(CASE WHEN term = 'merge' THEN w END), 0.0) AS w_merge,
        |    coalesce(sum(CASE WHEN term = 'scan' THEN w END), 0.0) AS w_scan,
        |    coalesce(sum(CASE WHEN term = 'window' THEN w END), 0.0) AS w_window
        |  FROM ts GROUP BY doc_id)""".stripMargin

  private val bm25SqlBody: String = bm25Ctes +
    """
      |SELECT doc_id, n_hit,
      |  CAST(w_hash + w_join + w_merge + w_scan + w_window AS DECIMAL(18,6)) AS bm25
      |FROM piv ORDER BY doc_id""".stripMargin

  /** One VERSION of a versioned scorer union (the streamed-index
    * twin): the shared CTE chain over `corpusPred`'s membership with
    * a version literal prefixed to each row.
    */
  private[graft] def bm25VersionedSqlOver(v: Int, corpusPred: String): String =
    s"""(WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL$corpusPred),""".stripMargin +
      "\n" + bm25Ctes +
      s"""
        |SELECT CAST($v AS BIGINT) AS version, doc_id, n_hit,
        |  CAST(w_hash + w_join + w_merge + w_scan + w_window AS DECIMAL(18,6)) AS bm25
        |FROM piv)""".stripMargin

  /** The shared scorer SQL over a parameterizable corpus predicate —
    * one body for the scan, the index probe, AND the post-deletion
    * index probe; sharing it IS the index contract.
    */
  private def bm25SqlOver(corpusPred: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL$corpusPred),""".stripMargin +
      "\n" + bm25SqlBody

  private val bm25Sql: String = bm25SqlOver("")

  /** One version of the PURGED index's scorer (text_bm25_postings_
    * purge): corpus stats (n, avgdl) over the version's FULL
    * membership — the untouched meta units still count the erased
    * docs — while tf/df/dl fold from the membership MINUS the purged
    * doc_id%10==3 slice, whose postings are physically gone. The
    * survivors' idf shift is therefore reproduced exactly, and the
    * purged docs appear at NO version.
    */
  private def bm25PurgeVersionSql(v: Int, memberPred: String): String =
    s"""(WITH dm AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL$memberPred),
        | d AS (SELECT doc_id, toks FROM dm WHERE doc_id % 10 <> 3),
        | dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        | corpus AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM dm),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        |  WHERE term IN ('hash', 'join', 'merge', 'scan', 'window')
        |  GROUP BY doc_id, term),
        | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        | ts AS (SELECT tf.doc_id, tf.term,
        |    ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / avgdl))) AS w
        |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, corpus),
        | piv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
        |    coalesce(sum(CASE WHEN term = 'hash' THEN w END), 0.0) AS w_hash,
        |    coalesce(sum(CASE WHEN term = 'join' THEN w END), 0.0) AS w_join,
        |    coalesce(sum(CASE WHEN term = 'merge' THEN w END), 0.0) AS w_merge,
        |    coalesce(sum(CASE WHEN term = 'scan' THEN w END), 0.0) AS w_scan,
        |    coalesce(sum(CASE WHEN term = 'window' THEN w END), 0.0) AS w_window
        |  FROM ts GROUP BY doc_id)
        |SELECT CAST($v AS BIGINT) AS version, doc_id, n_hit,
        |  CAST(w_hash + w_join + w_merge + w_scan + w_window AS DECIMAL(18,6)) AS bm25
        |FROM piv)""".stripMargin

  private val bm25PurgeSql: String =
    Seq((0, " AND doc_id % 10 <> 0"), (1, ""),
        (2, " AND doc_id % 7 <> 0"), (3, " AND doc_id % 7 <> 0"))
      .map { case (v, p) => bm25PurgeVersionSql(v, p) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY version, doc_id")

  val oracle: Map[String, String] = Map(
    "text_bm25" -> bm25Sql,
    "text_bm25_postings" -> bm25Sql,
    // AB17 twin: adjacency from the raw text (position-zipped unnest
    // self-joined on pos+1) + the shared BM25 weight restricted to the
    // two phrase terms. The index probe must reproduce this exactly.
    "text_phrase_match" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        | dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        | corpus AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        |  WHERE term IN ('hash', 'join')
        |  GROUP BY doc_id, term),
        | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        | ts AS (SELECT tf.doc_id, tf.term,
        |    ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / avgdl))) AS w
        |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, corpus),
        | piv AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN term = 'hash' THEN w END), 0.0) AS wa,
        |    coalesce(sum(CASE WHEN term = 'join' THEN w END), 0.0) AS wb
        |  FROM ts GROUP BY doc_id),
        | pos AS (SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(1, len(toks) + 1)) AS pos FROM d),
        | ph AS (SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS n_phrase
        |  FROM pos t1 JOIN pos t2
        |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        |  WHERE t1.tok = 'hash' AND t2.tok = 'join'
        |  GROUP BY t1.doc_id)
        |SELECT ph.doc_id, n_phrase,
        |  CAST(wa + wb AS DECIMAL(18,6)) AS bm25
        |FROM ph JOIN piv ON ph.doc_id = piv.doc_id
        |ORDER BY 1""".stripMargin,
    // AB18 twin: 3-term adjacency from the raw text — t2 at pos+1, t3
    // at pos+2 — plus the shared BM25 weight over the three terms,
    // summed in the probe's fixed textual order.
    "text_phrase_n" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        | dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        | corpus AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        |  WHERE term IN ('big', 'order', 'scan')
        |  GROUP BY doc_id, term),
        | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        | ts AS (SELECT tf.doc_id, tf.term,
        |    ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / avgdl))) AS w
        |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, corpus),
        | piv AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN term = 'big' THEN w END), 0.0) AS wa,
        |    coalesce(sum(CASE WHEN term = 'order' THEN w END), 0.0) AS wb,
        |    coalesce(sum(CASE WHEN term = 'scan' THEN w END), 0.0) AS wc
        |  FROM ts GROUP BY doc_id),
        | pos AS (SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(1, len(toks) + 1)) AS pos FROM d),
        | ph AS (SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS n_phrase
        |  FROM pos t1 JOIN pos t2
        |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        |  JOIN pos t3
        |    ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
        |  WHERE t1.tok = 'big' AND t2.tok = 'order' AND t3.tok = 'scan'
        |  GROUP BY t1.doc_id)
        |SELECT ph.doc_id, n_phrase,
        |  CAST(wa + wb + wc AS DECIMAL(18,6)) AS bm25
        |FROM ph JOIN piv ON ph.doc_id = piv.doc_id
        |ORDER BY 1""".stripMargin,
    // AB19 twin: within-5 proximity from the raw text — n_near counts
    // the DISTINCT anchor positions of 'hash' having a 'join' within
    // 5 (matching the probe's filter/exists array form exactly).
    "text_proximity" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        | dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        | corpus AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        |  WHERE term IN ('hash', 'join')
        |  GROUP BY doc_id, term),
        | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        | ts AS (SELECT tf.doc_id, tf.term,
        |    ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / avgdl))) AS w
        |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, corpus),
        | piv AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN term = 'hash' THEN w END), 0.0) AS wa,
        |    coalesce(sum(CASE WHEN term = 'join' THEN w END), 0.0) AS wb
        |  FROM ts GROUP BY doc_id),
        | pos AS (SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(1, len(toks) + 1)) AS pos FROM d),
        | ph AS (SELECT t1.doc_id,
        |    CAST(count(DISTINCT t1.pos) AS BIGINT) AS n_near
        |  FROM pos t1 JOIN pos t2
        |    ON t1.doc_id = t2.doc_id AND abs(t2.pos - t1.pos) <= 5
        |  WHERE t1.tok = 'hash' AND t2.tok = 'join'
        |  GROUP BY t1.doc_id)
        |SELECT ph.doc_id, n_near,
        |  CAST(wa + wb AS DECIMAL(18,6)) AS bm25
        |FROM ph JOIN piv ON ph.doc_id = piv.doc_id
        |ORDER BY 1""".stripMargin,
    "text_bm25_postings_delete" -> bm25SqlOver(" AND doc_id % 7 <> 0"),
    "text_bm25_postings_compact" -> bm25SqlOver(" AND doc_id % 7 <> 0"),
    "text_bm25_postings_purge" -> bm25PurgeSql,
    // AB16 twin: identical decimal square chain, one final division.
    "eval_brier" ->
      """WITH scored AS (
        |  SELECT (lang = 'en') AS pos,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS p
        |  FROM documents WHERE text IS NOT NULL),
        | dv AS (SELECT CAST(p AS DECIMAL(18,6))
        |    - CAST(CASE WHEN pos THEN 1 ELSE 0 END AS DECIMAL(18,6)) AS dv
        |  FROM scored)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(dv AS DECIMAL(19,6)) * CAST(dv AS DECIMAL(18,6)))
        |    AS DECIMAL(38,12)) AS sum_sq,
        |  CAST(CAST(sum(CAST(dv AS DECIMAL(19,6))
        |      * CAST(dv AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        |    AS DECIMAL(18,6)) AS brier
        |FROM dv""".stripMargin,
    // AB13 twin: same deciles as eval_calibration, exact per-bin
    // |n_pos − Σp| decimal deviations, one final division.
    "eval_ece" ->
      """WITH scored AS (
        |  SELECT (lang = 'en') AS pos,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS p
        |  FROM documents WHERE text IS NOT NULL),
        | binned AS (SELECT pos,
        |    CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
        |    CAST(p AS DECIMAL(18,6)) AS pd
        |  FROM scored),
        | b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(pd) AS DECIMAL(38,6)) AS sum_p
        |  FROM binned GROUP BY bin)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(abs(CAST(n_pos AS DECIMAL(38,6)) - sum_p))
        |    AS DECIMAL(38,6)) AS sum_dev,
        |  CAST(CAST(sum(abs(CAST(n_pos AS DECIMAL(38,6)) - sum_p))
        |      AS DOUBLE) / sum(n) AS DECIMAL(18,6)) AS ece
        |FROM b""".stripMargin,
    // AB14 twin: identical deterministic row_number ranks (doc_id
    // tie-break), all-integer d² sums, one guarded division.
    "eval_spearman" ->
      """WITH m AS (SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS m_a,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS m_b
        |  FROM documents WHERE text IS NOT NULL),
        | r AS (SELECT lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY m_a DESC, doc_id) AS BIGINT) AS ra,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY m_b DESC, doc_id) AS BIGINT) AS rb
        |  FROM m)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
        |  CAST(CASE WHEN count(*) < 2 THEN NULL
        |    ELSE 1.0 - 6.0 * CAST(sum((ra - rb) * (ra - rb)) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE)
        |        * (CAST(count(*) AS DOUBLE) * count(*) - 1.0))
        |    END AS DECIMAL(18,6)) AS rho
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    // AB15 twin: positions via generate_subscripts (1-based; the
    // bigram join is pos+1 on both engines so the base cancels),
    // clipped min-sums over shared grams, same precision renders.
    "eval_ngram_overlap" ->
      """WITH d AS (SELECT lang, doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        | pr AS (SELECT lang, doc_id,
        |    lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS ref_id
        |  FROM d),
        | p2 AS (SELECT lang, doc_id, ref_id FROM pr WHERE ref_id IS NOT NULL),
        | uni AS (SELECT doc_id, unnest(toks) AS gram FROM d),
        | big AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS gram FROM d),
        | uc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        |  FROM uni GROUP BY 1, 2),
        | bc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        |  FROM big GROUP BY 1, 2),
        | c1 AS (SELECT p.doc_id, CAST(sum(least(ca.c, ra.c)) AS BIGINT)
        |      AS clip
        |  FROM p2 p JOIN uc ca ON ca.doc_id = p.doc_id
        |    JOIN uc ra ON ra.doc_id = p.ref_id AND ra.gram = ca.gram
        |  GROUP BY 1),
        | c2 AS (SELECT p.doc_id, CAST(sum(least(ca.c, ra.c)) AS BIGINT)
        |      AS clip
        |  FROM p2 p JOIN bc ca ON ca.doc_id = p.doc_id
        |    JOIN bc ra ON ra.doc_id = p.ref_id AND ra.gram = ca.gram
        |  GROUP BY 1),
        | lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS c_len FROM d)
        |SELECT p.lang, p.doc_id, p.ref_id, l.c_len,
        |  CAST(coalesce(c1.clip, 0) AS BIGINT) AS clip1,
        |  CAST(coalesce(c2.clip, 0) AS BIGINT) AS clip2,
        |  CAST(CAST(coalesce(c1.clip, 0) AS DOUBLE) / l.c_len
        |    AS DECIMAL(18,6)) AS p1,
        |  CAST(CASE WHEN l.c_len > 1 THEN
        |      CAST(coalesce(c2.clip, 0) AS DOUBLE) / (l.c_len - 1)
        |    ELSE NULL END AS DECIMAL(18,6)) AS p2
        |FROM p2 p JOIN lens l ON l.doc_id = p.doc_id
        |LEFT JOIN c1 ON c1.doc_id = p.doc_id
        |LEFT JOIN c2 ON c2.doc_id = p.doc_id
        |ORDER BY p.lang, p.doc_id""".stripMargin,
    "sim_hybrid" ->
      """WITH uni AS (
        |  SELECT d.doc_id AS id, list_distinct(string_split(d.text, ' ')) AS toks,
        |    CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |  WHERE d.text IS NOT NULL),
        | probes AS (SELECT id AS q_id, toks AS qt, v AS qv FROM uni WHERE id < 10),
        | pairs AS (SELECT q_id, id AS c_id,
        |    CAST(len(list_intersect(qt, toks)) AS BIGINT) AS overlap,
        |    CAST(list_cosine_similarity(qv, v) AS DECIMAL(18,6)) AS cos_sim
        |  FROM probes, uni WHERE q_id <> id),
        | ranked AS (SELECT q_id, c_id,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY overlap DESC, c_id) AS BIGINT) AS rl,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, c_id) AS BIGINT) AS rv
        |  FROM pairs),
        | fused AS (SELECT q_id, c_id, rl, rv,
        |    CAST(1.0 / CAST(60 + rl AS DOUBLE) + 1.0 / CAST(60 + rv AS DOUBLE)
        |      AS DECIMAL(18,6)) AS rrf
        |  FROM ranked)
        |SELECT q_id, c_id, rl, rv, rrf, rn FROM (
        |  SELECT q_id, c_id, rl, rv, rrf,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY rrf DESC, c_id) AS BIGINT) AS rn
        |  FROM fused) t
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "eval_auc" ->
      """WITH scored AS (
        |  SELECT (lang = 'en') AS pos,
        |    CAST(CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'and', 'of', 'a', 'in', 'to'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS DECIMAL(18,6)) AS score
        |  FROM documents WHERE text IS NOT NULL),
        | hist AS (SELECT score,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_s,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg_s
        |  FROM scored GROUP BY score),
        | run AS (SELECT score, n_pos_s, n_neg_s,
        |    CAST(coalesce(sum(n_neg_s) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS neg_below
        |  FROM hist),
        | tot AS (SELECT CAST(sum(n_pos_s) AS BIGINT) AS np,
        |    CAST(sum(n_neg_s) AS BIGINT) AS nn FROM hist)
        |SELECT np AS n_pos, nn AS n_neg,
        |  CAST(sum(n_pos_s * (2 * neg_below + n_neg_s)) AS BIGINT) AS num2,
        |  CAST(sum(n_pos_s * (2 * neg_below + n_neg_s)) AS DOUBLE)
        |    / (2.0 * np * nn) AS auc
        |FROM run, tot GROUP BY np, nn ORDER BY n_pos""".stripMargin,
    "eval_calibration" ->
      """WITH scored AS (
        |  SELECT (lang = 'en') AS pos,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS p
        |  FROM documents WHERE text IS NOT NULL),
        | binned AS (SELECT pos,
        |    CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
        |    CAST(p AS DECIMAL(18,6)) AS pd
        |  FROM scored)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(pd) AS DECIMAL(38,6)) AS sum_p,
        |  CAST(sum(pd) AS DOUBLE) / count(*) AS mean_p,
        |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS frac_pos
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,
    "sample_curriculum" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        | staged AS (SELECT doc_id, n_tok,
        |    CASE WHEN n_tok < 40 THEN 'a_short' WHEN n_tok < 70 THEN 'b_mid'
        |      ELSE 'c_long' END AS stage
        |  FROM d),
        | cum AS (SELECT stage, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY stage
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM staged),
        | budget AS (SELECT stage, sum(n_tok) // 2 AS b FROM staged GROUP BY stage)
        |SELECT c.stage, doc_id, n_tok, cum_tok
        |FROM cum c JOIN budget USING (stage) WHERE cum_tok <= b
        |ORDER BY stage, cum_tok, doc_id""".stripMargin,
    "eval_ndcg" -> (rankedPairsSql +
      s""",
        | terms AS (SELECT q_id,
        |    CAST(CASE WHEN rk <= 10 THEN ($gainCase) * (${discCase("rk")})
        |      ELSE 0 END AS DECIMAL(38,12)) AS dterm,
        |    CAST(CASE WHEN ik <= 10 THEN ($gainCase) * (${discCase("ik")})
        |      ELSE 0 END AS DECIMAL(38,12)) AS iterm
        |  FROM ranked WHERE rk <= 10 OR ik <= 10),
        | sums AS (SELECT q_id,
        |    CAST(sum(dterm) AS DECIMAL(38,12)) AS dcg12,
        |    CAST(sum(iterm) AS DECIMAL(38,12)) AS icg12
        |  FROM terms GROUP BY q_id)
        |SELECT q_id, CAST(CAST(dcg12 AS DOUBLE) AS DECIMAL(18,6)) AS dcg,
        |  CAST(CAST(icg12 AS DOUBLE) AS DECIMAL(18,6)) AS idcg,
        |  CAST(CASE WHEN icg12 = 0 THEN 0.0 ELSE
        |    CAST(dcg12 AS DOUBLE) / CAST(icg12 AS DOUBLE) END
        |    AS DECIMAL(18,6)) AS ndcg
        |FROM sums ORDER BY q_id""".stripMargin),
    "eval_mrr" -> (rankedPairsSql +
      """
        |SELECT q_id,
        |  CAST(coalesce(min(CASE WHEN rel = 3 THEN rk END), 0) AS BIGINT)
        |    AS first_rel,
        |  CAST(CASE WHEN min(CASE WHEN rel = 3 THEN rk END) IS NULL THEN 0.0
        |    ELSE 1.0 / CAST(min(CASE WHEN rel = 3 THEN rk END) AS DOUBLE) END
        |    AS DECIMAL(18,6)) AS rr
        |FROM ranked GROUP BY q_id ORDER BY q_id""".stripMargin),
    "eval_recall_k" -> (rankedPairsSql +
      """
        |SELECT q_id,
        |  CAST(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
        |  CAST(sum(CASE WHEN rel = 3 AND rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hits,
        |  CAST(CASE WHEN sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) = 0 THEN 0.0
        |    ELSE CAST(sum(CASE WHEN rel = 3 AND rk <= 5 THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |      / CAST(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS DOUBLE) END
        |    AS DECIMAL(18,6)) AS recall
        |FROM ranked GROUP BY q_id ORDER BY q_id""".stripMargin),
    "eval_ks" ->
      """WITH scored AS (
        |  SELECT (lang = 'en') AS pos,
        |    CAST(CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'and', 'of', 'a', 'in', 'to'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS DECIMAL(18,6)) AS score
        |  FROM documents WHERE text IS NOT NULL),
        | hist AS (SELECT score,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_s,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg_s
        |  FROM scored GROUP BY score),
        | run AS (SELECT score,
        |    CAST(sum(n_pos_s) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cp,
        |    CAST(sum(n_neg_s) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cn
        |  FROM hist),
        | tot AS (SELECT CAST(sum(n_pos_s) AS BIGINT) AS np,
        |    CAST(sum(n_neg_s) AS BIGINT) AS nn FROM hist)
        |SELECT np AS n_pos, nn AS n_neg,
        |  CAST(max(abs(cp*nn - cn*np)) AS BIGINT) AS ks_num,
        |  CAST(max(abs(cp*nn - cn*np)) AS DOUBLE)
        |    / (CAST(np AS DOUBLE) * nn) AS ks
        |FROM run, tot GROUP BY np, nn ORDER BY n_pos""".stripMargin,
    "eval_pr_curve" ->
      """WITH scored AS (
        |  SELECT (lang = 'en') AS pos,
        |    CAST(CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'and', 'of', 'a', 'in', 'to'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS DECIMAL(18,6)) AS score
        |  FROM documents WHERE text IS NOT NULL),
        | hist AS (SELECT score,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_s,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg_s
        |  FROM scored GROUP BY score),
        | run AS (SELECT score,
        |    CAST(sum(n_pos_s) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS tp,
        |    CAST(sum(n_neg_s) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS fp
        |  FROM hist),
        | tot AS (SELECT CAST(sum(n_pos_s) AS BIGINT) AS np FROM hist)
        |SELECT score, tp, fp,
        |  CAST(CAST(tp AS DOUBLE) / (tp + fp) AS DECIMAL(18,6)) AS prec,
        |  CAST(CAST(tp AS DOUBLE) / np AS DECIMAL(18,6)) AS rec
        |FROM run, tot ORDER BY score DESC""".stripMargin
  )
}
