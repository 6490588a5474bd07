package graft.queries

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables.load
import graft.api.GraftOps
import graft.sources.Parquet

/** Family K — LLM-data-pipeline operators (SURVEY.md §2.K).
  *
  * Scale design notes (the 100 TB story, BASELINE.json north star):
  *  - K1 exact dedup is a single hash-partition groupBy on the
  *    normalized text — embarrassingly parallel.
  *  - K2 near-dedup is MinHash-LSH over 3-word shingles: candidate
  *    generation via banded hash buckets (shuffle on bucket id), exact
  *    Jaccard only on candidates — replaces the O(n²) all-pairs join.
  *    Shingles (not word sets) because unigram Jaccard saturates on
  *    small vocabularies (background p95 ≈ 0.9 on this corpus vs
  *    ≤ 0.03 for 3-gram shingles).
  *  - K3 brute-force cosine is deliberately bounded by a 10-probe set;
  *    K4 is the scale path (LSH buckets, no cartesian).
  *  - Cosines are computed in double and rounded to 6 dp on BOTH
  *    engines, and ranked on the rounded value with an id tie-break —
  *    float-vs-double library differences can't flip the ranking.
  */
object LlmQueries {

  /** Build (or reuse) the 3-version commit-log IVF table: v0 = the
    * standing corpus (vec_id%10≠0) bucket-assigned against the frozen
    * quantizer, v1 = the arriving batch appended O(delta), v2 = the
    * vec_id%9 slice (probe ids excluded) DELETED via one tombstone
    * unit on the dv channel — no bucket unit touched after its
    * ingest. sim_ivf_delta probes v1, sim_ivf_delete probes v2.
    * Built once per (sfDir, embeddings fingerprint).
    */
  private def ivfLogTable(s: org.apache.spark.sql.SparkSession, d: String,
      emb: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): String = {
    import graft.sources.CommitLog
    graft.Derived.dir("ivflog", d, "embeddings") { dir =>
      // each bucket unit's cstats entry on bval is its bucket id
      // (min = max, bucket-homogeneous by layout), read from the footers
      def bucketStats(sub: String): Seq[CommitLog.ColStat] =
        CommitLog.footerColStats(s, dir,
          CommitLog.partitionUnits(dir, sub, "bucket"), Seq("bval"))
      def appendUnits(part: org.apache.spark.sql.DataFrame,
          sub: String): Seq[CommitLog.ColStat] = {
        GraftOps.ivfAssign(part, "vec_id", "embedding", cent)
          // bval duplicates the partition column INTO the files: a
          // manifest-pruned read lists bucket dirs directly (no
          // basePath partition discovery), so the join key must
          // survive inside the data
          .withColumn("bval", col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/$sub")
        bucketStats(s"data/$sub")
      }
      val st0 = appendUnits(emb.filter(col("vec_id") % 10 =!= 0), "base")
      CommitLog.commit(dir, 0L, st0.map(_.unit))
      CommitLog.writeColStats(dir, 0L, st0)
      // the version boundary: ONLY the delta batch is assigned and
      // written — O(delta) index growth
      val st1 = appendUnits(emb.filter(col("vec_id") % 10 === 0), "delta")
      CommitLog.commit(dir, 1L, st0.map(_.unit) ++ st1.map(_.unit))
      CommitLog.writeColStats(dir, 1L, st0 ++ st1)
      // v2: the deletion — one tombstone unit, bucket units untouched
      emb.filter(col("vec_id") % 9 === 0 && col("vec_id") >= 10)
        .select("vec_id").coalesce(1).write.parquet(s"$dir/data/dv")
      CommitLog.commit(dir, 2L, st0.map(_.unit) ++ st1.map(_.unit))
      CommitLog.writeColStats(dir, 2L, st0 ++ st1)
      CommitLog.writeDeletes(dir, 2L, Seq("data/dv"))
      // v3 (round 12): COMPACT — the missing end of the IVF lifecycle
      // (grow -> delete -> compact; VERDICT r11 #3), the vector twin
      // of the postings compaction. Dirty buckets = those holding a
      // tombstoned vector, routed by ONE semi-join over the bucket
      // units; each dirty bucket's base+delta GENERATIONS merge into
      // one unit with the dead rows dropped (compaction is the
      // generational merge); clean buckets carry by name; the dv
      // sidecar RETIRES, so steady-state probes stop paying the
      // anti-join forever after. v3 publishes clean-carried +
      // compacted buckets and no deletes — probe equality with v2 is
      // the compaction contract (Round12OpsSpec).
      val bucketSt = st0 ++ st1
      def abs(rel: String) = java.nio.file.Paths.get(dir, rel).toString
      val tomb = Parquet.read(s, abs("data/dv"))
        .select(col("vec_id").as("c_id")).distinct()
      val dirtyIds = Parquet.read(s, bucketSt.map(u => abs(u.unit)))
        .join(broadcast(tomb), "c_id")
        .select(col("bval").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet // metadata-sized: <= nlist dirty bucket ids
      val (dirtySt, cleanSt) = bucketSt.partition(u => dirtyIds(u.min.toLong))
      // No dirty bucket (a tombstone set that touched nothing — e.g. a
      // dv of already-absent ids) means there is nothing to rewrite:
      // v3 carries v2's units verbatim with the dv retired (ADVICE
      // r12 — the unguarded zero-path read threw here).
      val cpctSt = if (dirtySt.isEmpty) bucketSt else {
        Parquet.read(s, dirtySt.map(u => abs(u.unit)))
          .join(broadcast(tomb), Seq("c_id"), "left_anti")
          .withColumn("bucket", col("bval"))
          .write.partitionBy("bucket").parquet(s"$dir/data/cpct")
        bucketStats("data/cpct") ++ cleanSt
      }
      CommitLog.commit(dir, 3L, cpctSt.map(_.unit))
      CommitLog.writeColStats(dir, 3L, cpctSt)
    }
  }

  /** The absolute paths of the IVF log's bucket units at `version`
    * whose bucket id (the unit's bval range) is one of `wanted` — the
    * manifest-level prune, no footer opened.
    */
  private def ivfBuckets(root: String, version: Long,
      wanted: Set[Long]): Seq[String] =
    graft.sources.CommitLog.keyRanges(root, version, "bval")
      .filter { case (_, mn, mx, _) => wanted.exists(b => mn <= b && mx >= b) }
      .map(u => java.nio.file.Paths.get(root, u._1).toString)

  /** The persisted IVF index for `sfDir`'s embeddings: built on first
    * use per (sfDir, embeddings fingerprint) in this JVM, every later
    * probe reads the bucket-partitioned parquet. It carries `label` as
    * a scalar PAYLOAD column so metadata predicates evaluate at the
    * index scan itself (filtered ANN).
    */
  private def ivfIndexFor(s: org.apache.spark.sql.SparkSession, sfDir: String,
      emb: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): String =
    graft.Derived.dir("ivf", sfDir, "embeddings") { path =>
      GraftOps.ivfIndexBuild(emb, "vec_id", "embedding", cent, path,
        payload = Seq("label"))
    }

  /** The persisted coarse-quantizer table (cl, centroid) for `d`'s
    * embeddings corpus — quantizer centroids are INDEX state (a
    * production IVF index stores its coarse quantizer inside the
    * index, it never re-derives it per probe). Round 18 (VERDICT r17
    * #8 — the ≥8-Exchange audit): every sim_ivf* probe recomputed the
    * full-corpus posexplode + two-shuffle centroid aggregate at query
    * time (plan nodes: Generate → HashAggregate ×2 → ObjectHashAggregate
    * ×4 across 3 Exchanges) — 4.1–6.3 s per entry at sf1 — to rebuild
    * a KiB-sized table the index build had already materialized.
    * Persisted once per (sfDir, embeddings fingerprint), same contract
    * as [[ivfIndexFor]]/[[mhIndexFor]]; the probe-side quantizer is
    * then a KiB parquet read. Value-identity: doubles round-trip
    * parquet bit-exactly (Round18OpsSpec pins persisted == recomputed,
    * and the consumer pins — nprobe=nlist equality, planted recall —
    * are unchanged).
    */
  private[graft] def centFor(s: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    Parquet.read(s, graft.Derived.dir("cent", sfDir, "embeddings") { p =>
      GraftOps.centroids(load(s, sfDir, "embeddings"), "label", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(p)
    })

  /** Pre-build (idempotently) the persisted IVF index for `d` so later
    * sim_ivf calls time only the probe path — the amortized steady
    * state of an inverted-file index. Called by Bench.warmSharedInfra;
    * safe to call from any session (the build is fingerprint-cached
    * per corpus file, see [[ivfIndexFor]]).
    */
  def warmIvfIndex(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    val emb = load(s, d, "embeddings")
    // the quantizer table first: the index build below reads it back
    // instead of re-aggregating, and its build cost lands in the
    // bench's reported warm_sec
    ivfIndexFor(s, d, emb, centFor(s, d))
  }

  /** Build (or reuse) the persisted PQ index for `d`: the codebook
    * (trained once, m=8 × dsub=8 × ksub=16, 2 Lloyd rounds) written as
    * (sub, code, cent) parquet next to the encoded corpus (c_id,
    * codes, nc). Same fingerprint-cache contract as [[ivfIndexFor]] —
    * the train+encode cost amortizes across every later probe batch,
    * which is the entire point of a PQ index.
    */
  private[graft] def pqIndexFor(s: org.apache.spark.sql.SparkSession,
      sfDir: String, emb: org.apache.spark.sql.DataFrame): String =
    graft.Derived.dir("pq", sfDir, "embeddings") { path =>
      import s.implicits._
      val cb = GraftOps.pqTrain(emb, "vec_id", "embedding",
        m = 8, dsub = 8, ksub = 16, iters = 2)
      cb.zipWithIndex.flatMap { case (codes, sub) =>
        codes.zipWithIndex.map { case (cent, j) => (sub, j, cent.toSeq) }
      }.toSeq.toDF("sub", "code", "cent")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/cb")
      GraftOps.pqEncode(emb, "vec_id", "embedding", cb)
        .write.mode("overwrite").parquet(s"$path/index")
    }

  /** The persisted codebook back as driver model state (m×ksub×dsub —
    * KiB-sized by construction).
    */
  private[graft] def pqCodebook(s: org.apache.spark.sql.SparkSession,
      root: String): Array[Array[Array[Double]]] = {
    val rows = Parquet.read(s, s"$root/cb")
      .collect() // model-state-sized: m×ksub codebook rows
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val cb = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (s0, j, cent) => cb(s0)(j) = cent }
    cb
  }

  // One persisted MinHash signature index of the "existing corpus"
  // (doc_id % 5 != 0) per (sfDir, documents fingerprint) per JVM — same
  // amortization contract as the IVF index: built once, every later
  // probe times only the delta path.
  private def mhIndexFor(s: org.apache.spark.sql.SparkSession,
      sfDir: String): String =
    graft.Derived.dir("mhidx", sfDir, "documents") { path =>
      GraftOps.minhashIndexBuild(
        load(s, sfDir, "documents").filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", path)
    }

  /** Pre-build (idempotently) the persisted MinHash index for `d` so
    * later dedup_incremental calls time only the delta probe path.
    * Called by Bench.warmSharedInfra.
    */
  def warmMinhashIndex(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    mhIndexFor(s, d)

  // Round 18 note: persisted per-document signature TABLES for
  // dedup_near/dedup_simhash (VERDICT r17 #4's proposed lever) were
  // implemented, measured at sf1, and REVERTED — a net loss on both
  // tiers (90.9→104.6 / 122.7→132.5 s isolated): the cost lives in
  // candidate generation + verify, not in the per-doc signature
  // recompute, and UDT/array parquet decode outweighs the seeded
  // re-hash it replaces. Evidence in OPTIMIZATION_r18.md §4. The
  // signature FRAME builders stay in GraftOps (minHashSignatures /
  // simhashSignatures) — the tiers route through them in-query, which
  // hoists the MinHash transform ahead of the cache (one evaluation
  // instead of one per join side).

  /** Composable (built-ins only) cosine — kept as the reference
    * formulation for functions.ArrayFloatDot, which computes the same
    * IEEE op sequence ~50× faster under codegen. Used by tests to
    * cross-check the custom expression.
    */
  val cosineSimHof: String =
    "aggregate(zip_with(q, c, (x, y) -> double(x) * double(y)), 0D, (acc, v) -> acc + v)" +
      " / (sqrt(aggregate(q, 0D, (acc, x) -> acc + double(x) * double(x)))" +
      "  * sqrt(aggregate(c, 0D, (acc, x) -> acc + double(x) * double(x))))"

  val queries: Map[String, Q] = Map(
    // K1: exact dedup on normalized text; deterministic winner = min id.
    "dedup_exact" -> ((s, d) =>
      GraftOps.exactDedup(load(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // K2: near-dup candidate pairs via MinHash-LSH over 3-word
    // shingles (seeded ⇒ deterministic). No DuckDB twin (LSH is not
    // SQL-expressible); the unit test asserts recall of the planted
    // shared-prefix groups instead.
    // Round 16 (VERDICT r15 #1): representative collapse in front of
    // the LSH tier when the corpus has exact replicas — signatures
    // are a pure function of the text, so rep pairs expand EXACTLY to
    // the full pair set (cross fan-out + within-group pairs at
    // Jaccard distance 0); below a 10% replica fraction the gate
    // short-circuits to the direct tier. Planted-truth pin unchanged.
    // Round 17: the routing decision is computed once per corpus
    // fingerprint (CollapseGate) and shared with dedup_simhash /
    // dedup_cluster — three tiers, one aggregate.
    // Round 18 (VERDICT r17 #4): a PERSISTED per-doc signature table
    // (parquet of __features/__hashes, warm-built, read here) was
    // implemented and MEASURED — sf1 isolated min-of-3 moved 90.9 →
    // 104.6 s, i.e. a net LOSS: the tier's cost is the candidate join
    // + exact-distance verify, not signature recompute, and decoding
    // VectorUDT columns back out of parquet costs more than the seeded
    // re-hash it saves (while adding ~25 s of warm-up). Reverted;
    // evidence in OPTIMIZATION_r18.md §4. The in-query hash
    // computation IS hoisted ahead of the cache now (one transform
    // instead of one per join side — GraftOps.minHashSignatures).
    "dedup_near" -> ((s, d) =>
      GraftOps.collapsedPairs(load(s, d, "documents"), "doc_id", "text",
          routeHint = Some(CollapseGate.route(s, d)))(
          GraftOps.minHashNearDupPairs(_, "doc_id", "text",
            maxJaccardDist = 0.5))
        .orderBy("a_id", "b_id")),

    // SimHash near-dedup: 64-bit fingerprints from per-word hashes,
    // candidates via C(8,2)=28 block-pair tables (16-bit keys —
    // pigeonhole-complete to hamming ≤ 6), hamming filter, then an
    // exact token-Jaccard verify on candidates. The round-6 redesign
    // (Manku-style tables + verify) lifts planted-pair recall from
    // ~0.7 to ≥0.9 on this short-doc corpus while the verify holds
    // precision; the xxhash64 word hash is engine-specific ⇒ no
    // oracle, planted-truth tested instead.
    // Round 16: same adaptive collapse as dedup_near — identical
    // texts have identical fingerprints (hamming 0, every band-pair
    // table collides, verify Jaccard 1), so within-group pairs carry
    // hamming = 0 and cross pairs carry the representatives' hamming.
    // Round 18 (VERDICT r17 #4): the persisted signature table was
    // measured a net LOSS here too (sf1 122.7 → 132.5 s isolated —
    // string-array parquet decode ≥ the re-hash it saves; the cost
    // lives in the 28-table candidate join + verify). Reverted — see
    // dedup_near above and OPTIMIZATION_r18.md §4.
    "dedup_simhash" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      GraftOps.collapsedPairs(load(s, d, "documents"), "doc_id", "text",
          passCols = Seq("hamming"),
          withinExtras = Seq(lit(0).cast("int").as("hamming")),
          routeHint = Some(CollapseGate.route(s, d)))(
          GraftOps.simhashPairs(_, "doc_id", "text"))
        .orderBy("a_id", "b_id")
    }),

    // n-gram Jaccard near-dedup with prefix blocking: candidate pairs
    // only within a first-two-words block (equality hash join — the
    // blocking key is what keeps this linear-ish at scale), exact
    // 3-gram-shingle Jaccard on candidates. Blocks holding more than
    // `maxBlock` docs route through the deterministic banded-MinHash
    // candidate tier instead of the quadratic within-block self-join
    // (the round-6 Zipf-prefix skew guard). maxBlock = 3 here is
    // deliberately tiny so BOTH routes run and are oracle-checked at
    // the sf0.01 gate (largest natural block there is 4 docs); the
    // production default is 1024.
    "dedup_ngram" -> ((s, d) =>
      GraftOps.ngramJaccardPairs(load(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.8, maxBlock = 3)
        .orderBy("a_id", "b_id")),

    // Deterministic banded MinHash (round 5): same LSH banding idea as
    // dedup_near, but every step is a pure SQL expression (min-md5
    // signatures), so this near-dup tier is driver-ORACLED, not
    // exempt — the cross-engine check covers shingling, signature and
    // banding byte-for-byte.
    "dedup_minhash" -> ((s, d) =>
      GraftOps.minhashBandPairs(load(s, d, "documents"), "doc_id", "text")
        .orderBy("a_id", "b_id")),

    // K9 (round 6): exact duplicated-span coverage — the Lee et al.
    // 2022 "exact substring dedup" signal at 5-word-shingle grain.
    // Shingle-grain shuffles only (count + semi-join); never
    // all-pairs. Fully oracled.
    "dedup_substring" -> ((s, d) =>
      GraftOps.substringDupStats(load(s, d, "documents"), "doc_id", "text",
        k = 5)
        .orderBy("doc_id")),

    // K10 (round 6): asymmetric containment pairs — the quote /
    // superset inclusions every Jaccard tier misses by design.
    // Rare-shingle blocking (df ≤ maxDf) bounds per-shingle fan-out
    // at C(maxDf,2); exact |A∩B|/min(|A|,|B|) verify on candidates.
    // Fully oracled.
    "dedup_containment" -> ((s, d) =>
      GraftOps.containmentPairs(load(s, d, "documents"), "doc_id", "text",
        minContainment = 0.8)
        .orderBy("a_id", "b_id")),

    // Embedding-cosine near-dup pairs — exact, via GraftOps'
    // deterministic grid-blocked candidate join (3-neighbor-cell
    // equi-join, provably complete for cos ≥ 0.4 on normalized
    // vectors), never a cartesian product. Probabilistic LSH
    // (BucketedRandomProjectionLSH) was measured to MISS borderline
    // pairs on this corpus (3/920 at sf0.1 even with 6 coarse tables:
    // the ≥0.4 threshold sits on a continuous background band) — it
    // stays the approximate tier (sim_ann); the exact operator needs
    // complete blocking.
    // Round 17 (VERDICT r16 #1): served from the persisted SimGraph
    // index (cos≥0.3 commit-log table shared with the graph_* family)
    // filtered to 0.4 — completeness and per-pair cos_sim are
    // candidate-generation-independent, so this is value-identical to
    // the direct cosinePairsBlocked build (same oracle, plus a
    // Round17OpsSpec equality pin).
    "dedup_embed_cos" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      graft.queries.SimGraph.edges(s, d, minCos = 0.4)
        .orderBy("a_id", "b_id")
    }),

    // K3: exact top-5 cosine neighbors for a 10-probe set.
    "sim_topk" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      GraftOps.cosineTopK(load(s, d, "embeddings"), "vec_id", "embedding",
        probePredicate = col("vec_id") < 10, k = 5)
        .orderBy("q_id", "rn")
    }),

    // K4: approximate NN via random-projection LSH (euclidean) — the
    // formulation that scales: bucket join on seeded hashes, exact
    // distance only on candidates. No oracle (approx + not SQL).
    "sim_ann" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
        .withColumn("v", array_to_vector(col("embedding")))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("v"))
      val lsh = new BucketedRandomProjectionLSH().setInputCol("v").setOutputCol("h")
        .setBucketLength(2.0).setNumHashTables(3).setSeed(42L)
      val model = lsh.fit(corpus)
      model.approxSimilarityJoin(probes, corpus, 4.0, "dist")
        .filter(col("datasetA.q_id") =!= col("datasetB.c_id"))
        .select(col("datasetA.q_id").as("q_id"), col("datasetB.c_id").as("c_id"))
        .orderBy("q_id", "c_id")
    }),

    // K2f (round 7): INCREMENTAL near-dup — the continuous-crawl
    // shape. The "existing corpus" (doc_id % 5 != 0) is signed ONCE
    // into a persisted band-partitioned signature index; the "new
    // batch" (doc_id % 5 == 0) signs only itself and hash-joins the
    // index — no corpus re-scan, ever. Output = exactly the pairs
    // this batch introduces (delta×index all, delta×delta once).
    // Same signature algebra as dedup_minhash ⇒ fully oracled.
    "dedup_incremental" -> ((s, d) => {
      val idx = mhIndexFor(s, d)
      GraftOps.minhashIndexProbe(s, idx,
        load(s, d, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
        .orderBy("a_id", "b_id")
    }),

    // K4b (round 7): the JL-projection ANN tier — embed_project wired
    // into similarity search. Shortlist scan runs in 8 projected dims
    // (8× fewer multiply-adds and shuffle bytes than sim_topk's
    // 64-dim scan; the ranking exchange carries scalars, not
    // vectors), then an exact full-dim re-rank of the ≤ 50-candidate
    // shortlist. Unlike the LSH/IVF tiers this one is fully
    // DuckDB-oracled: the fixed-point sign-matrix projection is
    // bit-identical cross-engine and both ranking stages use the
    // 6-dp + id tie-break contract. Measured recall vs exact sim_topk:
    // SCALE.md round 7.
    "sim_project" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      GraftOps.projectedCosineTopK(load(s, d, "embeddings"), "vec_id", "embedding",
        probePredicate = col("vec_id") < 10, k = 5, inDims = 64)
        .orderBy("q_id", "rn")
    }),

    // Int8 quantization RECONSTRUCTION-QUALITY gate (round 8) — the
    // companion of O11 `embed_quantize` (which emits the quantized
    // values themselves): per-vector reconstruction RMSE and
    // original-vs-dequantized cosine, i.e. the numbers a pipeline
    // checks before switching its shortlist scans to the int8 index
    // (4× byte cut; composes with sim_project's 8× dimension cut to
    // 32× over float-64). floor(+0.5) quantize — identical semantics
    // on both engines, unlike dialect-dependent ROUND ties. Map-only
    // codegen; fully oracled.
    "embed_quant_recon" -> ((s, d) =>
      GraftOps.int8QuantizeStats(load(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")),

    // K3c (round 8; renamed round 15 — VERDICT r14 #6): exact k-NN
    // GRAPH within USER-SUPPLIED blocks — every vector's top-3 cosine
    // neighbors among the vectors sharing its label. `_unscaled` is in
    // the name on purpose: the label key has FIXED cardinality 10, so
    // Σb² candidate volume grows quadratically with the corpus
    // (measured 87× on 10× rows at sf1) — this entry is retained as
    // the measured A/B contrast and the "bring your own partitioner"
    // escape hatch ONLY. The recommended tier is embed_knn_scaled
    // (below): corpus-derived block count, Σb² linear, 4.15 s where
    // this one takes 58.5 s at sf1. Fully oracled on the 6-dp + id
    // tie-break contract.
    "embed_knn_block_unscaled" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      GraftOps.cosineKnnBlocked(load(s, d, "embeddings"), "vec_id", "embedding",
        blockCol = "label", k = 3)
        .orderBy("src", "rn")
    }),

    // K3e (round 14 — VERDICT r13 #2): k-NN graph with a CORPUS-SCALED
    // block key. embed_knn_block_unscaled's `label` has FIXED cardinality 10,
    // so its Σb² candidate volume grows 100× on 10× rows (measured
    // ~74× at sf1) — fine when the user's partitioner scales, wrong
    // as a default. Here the block count is derived FROM the corpus —
    // nb = greatest(16, n DIV 256), the sample_negative recipe, via
    // the engine-portable md5 bucket — so expected block size stays
    // ≈256 at ANY corpus and Σb² ≈ 256·n grows LINEARLY (ScaleStress
    // row). The trade is explicit: a hash block bounds cost but not
    // recall — the similarity-preserving scaled partitioner is the
    // IVF cell family (sim_ivf*), whose cells this blocking stands in
    // for when no trained quantizer exists yet (e.g. the first pass
    // that BUILDS one). Same contract and ranking as embed_knn_block_unscaled.
    "embed_knn_scaled" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val nb = emb.agg(count(lit(1)).as("n"))
        .selectExpr("greatest(CAST(16 AS BIGINT), n DIV 256) AS nb")
      val blocked = emb.crossJoin(broadcast(nb))
        .selectExpr("vec_id", "embedding",
          "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10)" +
            " AS BIGINT) % nb AS blk")
      GraftOps.cosineKnnBlocked(blocked, "vec_id", "embedding",
        blockCol = "blk", k = 3)
        .orderBy("src", "rn")
    }),

    // IVF-style ANN (the third similarity-search tier after brute-force
    // sim_topk and LSH sim_ann): corpus bucketed ONCE by nearest coarse
    // centroid and PERSISTED as bucket-partitioned parquet — the
    // on-disk inverted file. Each probe batch collects its nprobe=3
    // nearest bucket ids and the index scan partition-prunes to just
    // those directories: at 100 TB a query touches nprobe/k of the
    // corpus bytes, and the build cost amortizes across every later
    // probe batch. Approximate ⇒ no oracle; recall vs exact top-k
    // tested instead.
    "sim_ivf" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val cent = centFor(s, d) // persisted quantizer — see centFor (r18)
      val idx = ivfIndexFor(s, d, emb, cent)
      GraftOps.ivfTopKFromIndex(s, idx, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cent, k = 5, nprobe = 3)
        .orderBy("q_id", "rn")
    }),

    // K3d (round 13 — VERDICT r12 #4): FILTERED exact top-k — the
    // production vector-search composition (metadata predicate ×
    // similarity ranking). The predicate filters the CANDIDATE side
    // before the norm/dot pipeline, so it reaches the parquet scan
    // (PushedFilters, PlanShapeSpec pin) and top-k ranks the
    // qualifying set — a post-filter would silently return < k rows.
    // Exact tier ⇒ fully DuckDB-oracled on the sim_topk contract.
    "sim_filtered_topk" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      GraftOps.cosineTopK(load(s, d, "embeddings"), "vec_id", "embedding",
        probePredicate = col("vec_id") < 10, k = 5,
        candidatePredicate = col("label") % 2 === 1)
        .orderBy("q_id", "rn")
    }),

    // K4f (round 13): the same composition through the IVF index —
    // the predicate evaluates ON INDEX PAYLOAD (the v2 index carries
    // `label`) at the already-partition-pruned scan, so a query reads
    // nprobe/nlist of the corpus AND row-group-skips non-matching
    // labels inside those buckets, never touching the base table.
    // Approximate ⇒ exempt; Round13OpsSpec pins (a) nprobe=nlist
    // equality with the exact filtered tier and (b) the predicate
    // reaching the index scan.
    "sim_ivf_filtered" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val cent = centFor(s, d) // persisted quantizer — see centFor (r18)
      val idx = ivfIndexFor(s, d, emb, cent)
      GraftOps.ivfTopKFromIndex(s, idx, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cent, k = 5, nprobe = 3,
        candidatePredicate = Some(col("label") % 2 === 1))
        .orderBy("q_id", "rn")
    }),

    // K4d (round 10): INCREMENTAL IVF — the inverted-file index stored
    // AS A COMMIT-LOG TABLE so it grows by delta, never by rebuild.
    // v0 indexes the standing corpus (vec_id%10≠0) into bucket-
    // homogeneous units; v1 APPENDS the arriving batch (vec_id%10==0)
    // as its own bucket units — only the delta is assigned against the
    // FROZEN coarse quantizer (standard IVF practice: centroids move
    // on retrain, not on insert), so the index-build cost of a version
    // tracks the delta, not the corpus (SCALE.md row). The probe prunes
    // at the MANIFEST layer: each unit's cstats entry on bval is its
    // bucket id (min=max — bucket-homogeneous by layout), so the nprobe wanted
    // buckets select matching units from BOTH the base and delta
    // generations before any footer is opened; ranking reuses
    // sim_ivf's exact contract (6-dp cosine, id tie-break). Exempt
    // tier (approx + engine-specific hashing upstream of centroids is
    // not the issue — the iterative/multi-path build isn't
    // single-statement SQL); planted-truth tested: the delta-grown
    // index answers IDENTICALLY to a from-scratch rebuild, because
    // assignment against frozen centroids is pointwise.
    "sim_ivf_delta" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val cent = centFor(s, d) // persisted quantizer — see centFor (r18)
      val root = ivfLogTable(s, d, emb, cent)
      val probes = GraftOps.ivfProbes(emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cent, nprobe = 3)
      val wanted = probes.select(col("bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet // metadata-sized: <= probes x nprobe ids
      // probed at v1, the grown-by-delta generation; v2 (the deletion)
      // is sim_ivf_delete's — index time travel, the postings twin
      val picked = ivfBuckets(root, 1L, wanted)
      val bucketed = Parquet.read(s, picked)
        .withColumnRenamed("bval", "bucket")
      GraftOps.ivfRank(probes, bucketed, 5).orderBy("q_id", "rn")
    }),

    // K4e (round 11): IVF UNDER VECTOR DELETION — the vector twin of
    // text_bm25_postings_delete. v2 deletes the vec_id%9 slice (probe
    // ids excluded so the query set is fixed) by publishing ONE
    // tombstone unit on the dv sidecar channel; every bucket unit
    // carries by name — deletion costs O(deleted ids), never an index
    // rewrite. The probe anti-joins the broadcast tombstone set after
    // the manifest-pruned bucket read; ranking reuses the exact
    // sim_ivf contract. Exempt tier like the rest of the IVF family;
    // planted truth (Round11OpsSpec): the tombstoned index answers
    // IDENTICALLY to a from-scratch rebuild over the remaining
    // corpus, because assignment is pointwise and removal of a
    // pointwise-assigned vector cannot move any other vector's bucket.
    "sim_ivf_delete" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      import graft.sources.CommitLog
      val emb = load(s, d, "embeddings")
      val cent = centFor(s, d) // persisted quantizer — see centFor (r18)
      val root = ivfLogTable(s, d, emb, cent)
      val probes = GraftOps.ivfProbes(emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cent, nprobe = 3)
      val wanted = probes.select(col("bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet // metadata-sized: <= probes x nprobe ids
      val picked = ivfBuckets(root, 2L, wanted)
      val dead = Parquet.read(s, CommitLog.deletes(root, 2L))
        .select(col("vec_id").as("c_id")).distinct()
      val bucketed = Parquet.read(s, picked)
        .withColumnRenamed("bval", "bucket")
        .join(broadcast(dead), Seq("c_id"), "left_anti")
      GraftOps.ivfRank(probes, bucketed, 5).orderBy("q_id", "rn")
    }),

    // K4h (round 12): IVF COMPACTED — v3 of the same index table folds
    // the v2 tombstones into their routed bucket units (each dirty
    // bucket's base+delta generations merged to one unit) and retires
    // the dv sidecar, closing the grow -> delete -> compact lifecycle
    // the postings index already has (VERDICT r11 #3 — tombstones no
    // longer accumulate forever on a continuously-maintained index).
    // The probe is the manifest-pruned bucket read with NO anti-join:
    // v3 carries no deletes, so the steady-state plan is scan + rank,
    // nothing else — the cost a compacted index buys. Exempt tier like
    // its family; planted truth (Round12OpsSpec): byte-identical
    // ranking to the v2 tombstone-masked probe (compaction moves
    // bytes, never results), dv retired, dirty buckets single-unit.
    "sim_ivf_compact" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      import graft.sources.CommitLog
      val emb = load(s, d, "embeddings")
      val cent = centFor(s, d) // persisted quantizer — see centFor (r18)
      val root = ivfLogTable(s, d, emb, cent)
      val probes = GraftOps.ivfProbes(emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cent, nprobe = 3)
      val wanted = probes.select(col("bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet // metadata-sized: <= probes x nprobe ids
      val picked = ivfBuckets(root, 3L, wanted)
      require(CommitLog.deletes(root, 3L).isEmpty,
        "compacted IVF generation must carry no tombstones")
      val bucketed = Parquet.read(s, picked)
        .withColumnRenamed("bval", "bucket")
      GraftOps.ivfRank(probes, bucketed, 5).orderBy("q_id", "rn")
    }),

    // K4f (round 11): PRODUCT-QUANTIZATION ANN — the fourth index
    // family after LSH (sim_ann), JL projection (sim_project) and IVF
    // (sim_ivf*): the corpus is encoded ONCE against a trained
    // 8-subspace × 16-code codebook into (codes, norm) — the scan
    // payload drops from 64 floats to 8 small codes (~30× fewer index
    // bytes; pqEncode is map-only, codebook as an in-expression
    // literal, whole-stage codegen) — and probes score by ADC: an
    // m×ksub dot-product lookup table per probe, 8 table lookups per
    // corpus vector, never touching raw vectors until the ≤50-row
    // shortlist is re-ranked EXACTLY under the sim_topk contract
    // (6-dp cosine, id tie-break), so reported cosines are true
    // cosines. Train is 2 deterministic Lloyd rounds per subspace
    // (hash-sliced init, integer-grid M-step — bit-replayable); at
    // 100 TB you train on a sample and encode the corpus in one
    // map-only pass. Exempt tier (approx + iterative build);
    // planted-truth tested: determinism, exactness of the re-ranked
    // cosines, and recall@5 vs exact sim_topk (LlmOpsSpec).
    "sim_pq" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val root = pqIndexFor(s, d, emb)
      GraftOps.pqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", pqCodebook(s, root),
        Parquet.read(s, s"$root/index"), k = 5, shortlist = 50)
        .orderBy("q_id", "rn")
    }),

    // K4g (round 11): IVF-PQ COMPOSITE — the production ANN layout
    // (FAISS's IVFADC, from the public literature): the coarse
    // quantizer routes each probe to nprobe=3 inverted lists, ADC
    // scores ONLY those lists' PQ codes (the index frame carries
    // bucket + codes + norm per vector; the probe side broadcasts its
    // KiB lookup tables), and the ≤30-row shortlist is re-ranked
    // EXACTLY under the sim_topk contract. The two reductions compose
    // multiplicatively: scan bytes ∝ (nprobe/nlist) × the ~30×-smaller
    // code payload — at 100 TB the bucket key is the partition/
    // manifest-pruning key (sim_ivf*'s layout) and this probe touches
    // ~1% of the index bytes a flat scan would. Exempt tier like the
    // rest of the ANN family; planted-truth tested (LlmOpsSpec):
    // determinism, candidates confined to probed buckets, exact
    // equality with pqTopK when nprobe = nlist (the algebraic anchor
    // that routing only prunes candidates, never re-scores them), and
    // recall@5 vs exact sim_topk.
    "sim_ivfpq" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val cent = centFor(s, d) // persisted quantizer — see centFor (r18)
      val root = pqIndexFor(s, d, emb)
      // Round 18 (VERDICT r17 #8): the (c_id → bucket) coarse routing
      // was recomputed per query by a full-corpus map-only assignment
      // (centroidTopM over every vector) — but the persisted v2 IVF
      // index IS that assignment, written by ivfIndexBuild from the
      // same frozen quantizer; read the two columns back instead
      // (column-pruned scan, assignment is pointwise-deterministic —
      // Round18OpsSpec pins index(c_id, bucket) == ivfAssign output).
      val index = Parquet.read(s, s"$root/index")
        .join(Parquet.read(s, ivfIndexFor(s, d, emb, cent))
          .select(col("c_id"), col("bucket")), "c_id")
      GraftOps.ivfpqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", cent, pqCodebook(s, root), index,
        nprobe = 3, k = 5, shortlist = 30)
        .orderBy("q_id", "rn")
    }),

    // K5: per-language token statistics (stopword-filtered).
    "text_stats" -> ((s, d) => {
      val stop = Seq("the", "and", "of", "a", "in", "to", "table", "row")
      load(s, d, "documents")
        .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0 && !col("w").isin(stop: _*))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("w")).as("n_distinct"),
          (sum(length(col("w")).cast("long")).cast("double") / count(lit(1))).as("avg_len"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("lang")
    }),

    // K6: TF-IDF top-5 terms per source, pure relational formulation
    // (two group-bys + broadcast of the doc count — no MLlib state).
    // Scores ranked on the 6-dp-rounded value for cross-engine parity.
    "text_tfidf" -> ((s, d) => {
      val words = load(s, d, "documents")
        .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val tf = words.groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val dfreq = words.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
      val n = load(s, d, "documents").agg(countDistinct(col("doc_id")).as("n_docs"))
      val scored = tf.join(dfreq, "w").crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * log(col("n_docs").cast("double") / col("df")))
            .cast(DecimalType(18, 6)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("score").desc, col("w").asc)
      scored.withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 5)
        .select(col("source"), col("w").as("term"), col("tf"), col("df"), col("score"), col("rn"))
        .orderBy("source", "rn")
    }),

    // K7: multimodal row — text + vector + scalars + metadata flowing
    // through join/filter/project unharmed.
    "multimodal_cols" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val emb = load(s, d, "embeddings")
      docs.join(emb, docs("doc_id") === emb("vec_id"), "inner")
        .filter(col("lang").isin("en", "de") && col("n_chars") > 200)
        .select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("label"), size(col("embedding")).cast("bigint").as("dim"))
        .orderBy("doc_id")
    }),

    // K8: nearest-centroid assignment; centroids = per-label decimal
    // means (deterministic — no iterative k-means seed sensitivity).
    // Oracled since round 3: the output is integer-only and the
    // best-vs-second-best distance margin on this corpus is ≥8e-6 —
    // six orders above any float-summation noise — so a plain
    // double-mean DuckDB twin assigns identically.
    "cluster_assign" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val cent = GraftOps.centroids(emb, "label", "embedding")
      GraftOps.assignNearestCentroid(emb, "embedding", cent)
        .select(col("vec_id"), col("label"), col("assigned"))
        .orderBy("vec_id")
    }),

    // K8b (round 8): one full Lloyd iteration — K8's nearest-centroid
    // E-step feeding the M-step centroid UPDATE, i.e. the loop body of
    // distributed k-means. The update re-uses T9 embed_centroids'
    // exact-sum recipe (components quantized to the 1e-6 grid BEFORE
    // the sum, so the partial-agg fold is integer arithmetic —
    // shuffle-order-independent, unlike a float mean). Scale shape:
    // the centroid list collapses to ONE broadcast row, assignment is
    // a per-row HOF argmin (MAP-ONLY — no row×centroid window), and
    // the update is one combinable groupBy at clusters×dims grain —
    // the whole iteration is a single data shuffle whose payload is
    // independent of corpus size. Assignment determinism carries K8's
    // margin argument (best-vs-second distance ≥ 8e-6 on this corpus,
    // six orders above float noise).
    "cluster_kmeans_step" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val cent = GraftOps.centroids(emb, "label", "embedding")
      val assigned = GraftOps.assignNearestCentroid(emb, "embedding", cent)
        .select(col("assigned"), col("embedding"))
      assigned
        .select(col("assigned"), posexplode(col("embedding")).as(Seq("p", "comp")))
        .select(col("assigned"), (col("p") + 1).cast("bigint").as("dim"),
          expr("CAST(round(CAST(comp AS DOUBLE) * 1000000.0D) AS BIGINT)").as("q"))
        .groupBy("assigned", "dim")
        .agg(count(lit(1)).as("n"),
          sum(col("q").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s1"))
        .selectExpr("assigned", "dim", "n",
          "CAST((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0D AS DECIMAL(18,6)) AS centroid")
        .orderBy("assigned", "dim")
    }),

    // K8c (round 9): CONVERGED k-means — 5 full Lloyd iterations of
    // K8b's loop body with driver-held O(k·dims) model state between
    // rounds (the MLlib KMeans shape; see GraftOps.kmeansReport).
    // Output is the convergence report: per (iteration, cluster) the
    // cluster size and the centroid's L2 displacement from the
    // previous round — on this corpus the label-centroid init is
    // already near the fixpoint, so displacement collapses toward 0
    // and sizes stabilize (pinned by Round9OpsSpec). Exempt tier: the
    // iterative driver loop isn't single-statement-SQL-expressible;
    // planted-truth tested instead (conservation, monotone-ish
    // convergence, agreement with cluster_assign).
    "cluster_kmeans" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val init = GraftOps.centroids(emb, "label", "embedding")
      GraftOps.kmeansReport(emb, "embedding", init, iters = 5)
        .orderBy("iter", "cluster")
    }),
  )

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM documents
        | GROUP BY lower(trim(text)) ORDER BY doc_id""".stripMargin,
    "embed_quant_recon" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    CAST(len(embedding) AS BIGINT) AS n_dims,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        | r AS (
        |  SELECT vec_id, n_dims, amax, v,
        |    list_transform(v, x -> floor(x * 127.0 / nullif(amax, 0) + 0.5) * amax / 127.0) AS recon
        |  FROM q)
        | SELECT vec_id, n_dims,
        |  CAST(amax AS DECIMAL(18,6)) AS amax,
        |  CAST(sqrt(list_aggregate(list_transform(list_zip(v, recon),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') / n_dims) AS DECIMAL(18,6)) AS q_rmse,
        |  CAST(list_aggregate(list_transform(list_zip(v, recon), p -> p[1] * p[2]), 'sum')
        |    / nullif(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
        |    * sqrt(list_aggregate(list_transform(recon, x -> x * x), 'sum')), 0) AS DECIMAL(18,6)) AS q_cos
        | FROM r ORDER BY vec_id""".stripMargin,
    "dedup_ngram" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |     sh AS (SELECT doc_id,
        |        list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
        |          i -> array_to_string(w[i:i+2], ' '))) AS shingles,
        |        array_to_string(w[1:2], ' ') AS blk
        |      FROM docs),
        |     cnt AS (SELECT blk, count(*) AS bn FROM sh GROUP BY blk),
        |     small AS (SELECT sh.* FROM sh JOIN cnt USING (blk) WHERE bn <= 3),
        |     hot AS (SELECT sh.* FROM sh JOIN cnt USING (blk) WHERE bn > 3),
        |     small_pairs AS (
        |       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |              a.shingles AS sa, b.shingles AS sb
        |       FROM small a JOIN small b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |     hsh AS (SELECT doc_id, blk, unnest(shingles) AS s FROM hot),
        |     mh AS (SELECT doc_id, blk,
        |        min(substr(md5('0:' || s), 1, 8))  AS h0, min(substr(md5('0:' || s), 9, 8))  AS h1,
        |        min(substr(md5('0:' || s), 17, 8)) AS h2, min(substr(md5('0:' || s), 25, 8)) AS h3,
        |        min(substr(md5('1:' || s), 1, 8))  AS h4, min(substr(md5('1:' || s), 9, 8))  AS h5,
        |        min(substr(md5('1:' || s), 17, 8)) AS h6, min(substr(md5('1:' || s), 25, 8)) AS h7
        |      FROM hsh GROUP BY doc_id, blk),
        |     bands AS (
        |       SELECT doc_id, blk, 0 AS band, h0 || h1 AS sig FROM mh
        |       UNION ALL SELECT doc_id, blk, 1, h2 || h3 FROM mh
        |       UNION ALL SELECT doc_id, blk, 2, h4 || h5 FROM mh
        |       UNION ALL SELECT doc_id, blk, 3, h6 || h7 FROM mh),
        |     hot_cand AS (
        |       SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |       FROM bands a JOIN bands b
        |         ON a.blk = b.blk AND a.band = b.band AND a.sig = b.sig
        |        AND a.doc_id < b.doc_id),
        |     hot_pairs AS (
        |       SELECT c.a_id, c.b_id, x.shingles AS sa, y.shingles AS sb
        |       FROM hot_cand c JOIN hot x ON c.a_id = x.doc_id
        |                       JOIN hot y ON c.b_id = y.doc_id),
        |     allp AS (SELECT * FROM small_pairs UNION ALL SELECT * FROM hot_pairs)
        | SELECT a_id, b_id,
        |   CAST(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        |     / len(list_distinct(sa || sb)) AS DECIMAL(18,6)) AS jac
        | FROM allp
        | WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        |     / len(list_distinct(sa || sb)) >= 0.8
        | ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 2, 1)),
        |      i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
        | mh AS (
        |  SELECT doc_id,
        |    min(substr(md5('0:' || s), 1, 8))  AS h0, min(substr(md5('0:' || s), 9, 8))  AS h1,
        |    min(substr(md5('0:' || s), 17, 8)) AS h2, min(substr(md5('0:' || s), 25, 8)) AS h3,
        |    min(substr(md5('1:' || s), 1, 8))  AS h4, min(substr(md5('1:' || s), 9, 8))  AS h5,
        |    min(substr(md5('1:' || s), 17, 8)) AS h6, min(substr(md5('1:' || s), 25, 8)) AS h7
        |  FROM sh GROUP BY doc_id),
        | bands AS (
        |  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM mh
        |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM mh
        |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM mh
        |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM mh),
        | bcnt AS (SELECT band, sig, count(*) AS bn FROM bands GROUP BY band, sig),
        | kept AS (SELECT bands.* FROM bands JOIN bcnt USING (band, sig)
        |          WHERE bn <= 4096)
        | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        | FROM kept a JOIN kept b
        |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        | ORDER BY a_id, b_id""".stripMargin,
    // K2f twin: dedup_minhash's signature CTEs over ALL docs (index ∪
    // delta sign identically), then the incremental orientation rule —
    // delta probes report every indexed match and each delta-delta
    // pair once (b < a).
    "dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 2, 1)),
        |      i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
        | mh AS (
        |  SELECT doc_id,
        |    min(substr(md5('0:' || s), 1, 8))  AS h0, min(substr(md5('0:' || s), 9, 8))  AS h1,
        |    min(substr(md5('0:' || s), 17, 8)) AS h2, min(substr(md5('0:' || s), 25, 8)) AS h3,
        |    min(substr(md5('1:' || s), 1, 8))  AS h4, min(substr(md5('1:' || s), 9, 8))  AS h5,
        |    min(substr(md5('1:' || s), 17, 8)) AS h6, min(substr(md5('1:' || s), 25, 8)) AS h7
        |  FROM sh GROUP BY doc_id),
        | bands AS (
        |  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM mh
        |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM mh
        |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM mh
        |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM mh),
        | bcnt AS (SELECT band, sig, count(*) AS bn FROM bands GROUP BY band, sig),
        | kept AS (SELECT bands.* FROM bands JOIN bcnt USING (band, sig)
        |          WHERE bn <= 4096)
        | SELECT DISTINCT d.doc_id AS a_id, o.doc_id AS b_id
        | FROM kept d JOIN kept o ON d.band = o.band AND d.sig = o.sig
        | WHERE d.doc_id % 5 = 0 AND d.doc_id <> o.doc_id
        |   AND (o.doc_id % 5 <> 0 OR o.doc_id < d.doc_id)
        | ORDER BY a_id, b_id""".stripMargin,
    // K9 twin: same positional 5-gram shingles, dup = shared by >1
    // distinct doc, coverage counted per position (no distinct).
    "dedup_substring" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |     docs AS (SELECT doc_id, w, len(w) - 4 AS n_shingles FROM w WHERE len(w) >= 5),
        |     sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4),
        |              i -> array_to_string(w[i:i+4], ' '))) AS s
        |            FROM docs),
        |     dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) > 1),
        |     per AS (SELECT doc_id, count(*) AS dup_shingles
        |             FROM sh JOIN dup USING (s) GROUP BY doc_id)
        | SELECT d.doc_id, CAST(d.n_shingles AS BIGINT) AS n_shingles,
        |   coalesce(per.dup_shingles, 0) AS dup_shingles,
        |   CAST(CAST(coalesce(per.dup_shingles, 0) AS DOUBLE) / d.n_shingles
        |     AS DECIMAL(18,6)) AS dup_frac
        | FROM docs d LEFT JOIN per USING (doc_id)
        | ORDER BY doc_id""".stripMargin,
    // K10 twin: distinct 3-gram shingles (whole-text fallback for
    // sub-3-word docs, same as dedup_ngram's shingle recipe), rare =
    // 1 < df <= 10, containment = |A∩B| / min(|A|,|B|).
    "dedup_containment" ->
      """WITH sh AS (SELECT doc_id,
        |       list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
        |         i -> array_to_string(w[i:i+2], ' '))) AS shingles
        |     FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
        |     ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |     rare AS (SELECT s FROM ex GROUP BY s
        |              HAVING count(DISTINCT doc_id) > 1 AND count(DISTINCT doc_id) <= 10),
        |     rex AS (SELECT ex.* FROM ex JOIN rare USING (s)),
        |     cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |              FROM rex a JOIN rex b ON a.s = b.s AND a.doc_id < b.doc_id)
        | SELECT a_id, b_id,
        |   CAST(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |     / least(len(x.shingles), len(y.shingles)) AS DECIMAL(18,6)) AS containment
        | FROM cand JOIN sh x ON cand.a_id = x.doc_id
        |           JOIN sh y ON cand.b_id = y.doc_id
        | WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |     / least(len(x.shingles), len(y.shingles)) >= 0.8
        | ORDER BY a_id, b_id""".stripMargin,
    "dedup_embed_cos" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |       CAST(b.embedding AS DOUBLE[])) AS DECIMAL(18,6)) AS cos_sim
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |       CAST(b.embedding AS DOUBLE[])) AS DECIMAL(18,6)) >= 0.4
        | ORDER BY a_id, b_id""".stripMargin,
    "sim_topk" ->
      """WITH probes AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q
        |                FROM embeddings WHERE vec_id < 10),
        |     corpus AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c
        |                FROM embeddings),
        |     sims AS (SELECT q_id, c_id,
        |                CAST(list_cosine_similarity(q, c) AS DECIMAL(18,6)) AS cos_sim
        |              FROM probes, corpus WHERE q_id <> c_id)
        | SELECT q_id, c_id, cos_sim, rn FROM (
        |   SELECT q_id, c_id, cos_sim,
        |     row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rn
        |   FROM sims) t
        | WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // K3d twin: the sim_topk contract with the metadata predicate on
    // the candidate set only (probes stay unfiltered).
    "sim_filtered_topk" ->
      """WITH probes AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q
        |                FROM embeddings WHERE vec_id < 10),
        |     corpus AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c
        |                FROM embeddings WHERE label % 2 = 1),
        |     sims AS (SELECT q_id, c_id,
        |                CAST(list_cosine_similarity(q, c) AS DECIMAL(18,6)) AS cos_sim
        |              FROM probes, corpus WHERE q_id <> c_id)
        | SELECT q_id, c_id, cos_sim, rn FROM (
        |   SELECT q_id, c_id, cos_sim,
        |     row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rn
        |   FROM sims) t
        | WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // K3c twin: label self-join + the sim_topk ranking contract.
    "embed_knn_block_unscaled" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |     sims AS (SELECT a.vec_id AS src, a.label AS block, b.vec_id AS dst,
        |                CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(18,6)) AS cos_sim
        |              FROM e a JOIN e b
        |                ON a.label = b.label AND a.vec_id <> b.vec_id)
        | SELECT src, block, dst, cos_sim, rn FROM (
        |   SELECT src, block, dst, cos_sim,
        |     row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst ASC) AS rn
        |   FROM sims) t
        | WHERE rn <= 3 ORDER BY src, rn""".stripMargin,
    // K3e twin: identical md5 bucket (the sample_negative recipe) +
    // the same ranking contract.
    "embed_knn_scaled" ->
      """WITH nbt AS (SELECT greatest(CAST(16 AS BIGINT),
        |               CAST(count(*) AS BIGINT) // 256) AS nb FROM embeddings),
        |     e AS (SELECT vec_id,
        |             CAST(CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % nb AS BIGINT) AS blk,
        |             CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings, nbt),
        |     sims AS (SELECT a.vec_id AS src, a.blk AS block, b.vec_id AS dst,
        |                CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(18,6)) AS cos_sim
        |              FROM e a JOIN e b
        |                ON a.blk = b.blk AND a.vec_id <> b.vec_id)
        | SELECT src, block, dst, cos_sim, rn FROM (
        |   SELECT src, block, dst, cos_sim,
        |     row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst ASC) AS rn
        |   FROM sims) t
        | WHERE rn <= 3 ORDER BY src, rn""".stripMargin,
    // K4b twin: same fixed-point sign-matrix projection recipe as the
    // embed_project oracle, then both ranking stages on 6-dp-rounded
    // cosine with id tie-breaks (the sim_topk contract).
    "sim_project" ->
      """WITH signs AS (
        |  SELECT k, j, CASE WHEN CAST(('0x' || substring(md5(k || ':' || j), 1, 1)) AS INT) % 2 = 0
        |               THEN 1 ELSE -1 END AS s
        |  FROM generate_series(1,8) t1(k), generate_series(1,64) t2(j)),
        | qq AS (SELECT vec_id, j, CAST(floor(CAST(embedding[j] AS DOUBLE) * 1048576.0) AS BIGINT) AS qj
        |        FROM embeddings, generate_series(1,64) t(j)),
        | pr AS (SELECT vec_id, k, CAST(SUM(s * qj) AS DOUBLE)/1048576.0 AS v
        |        FROM qq JOIN signs USING (j) GROUP BY 1, 2),
        | pvec AS (SELECT vec_id, list(v ORDER BY k) AS p FROM pr GROUP BY vec_id),
        | probes AS (SELECT vec_id AS q_id, p AS pq FROM pvec WHERE vec_id < 10),
        | cands AS (SELECT vec_id AS c_id, p AS pc FROM pvec),
        | short AS (SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY
        |        CAST(list_cosine_similarity(pq, pc) AS DECIMAL(18,6)) DESC, c_id ASC) AS srn
        |    FROM probes, cands WHERE q_id <> c_id) t
        |   WHERE srn <= 50),
        | fullv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | rr AS (SELECT s.q_id, s.c_id,
        |     CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(18,6)) AS cos_sim
        |   FROM short s JOIN fullv a ON s.q_id = a.vec_id
        |                JOIN fullv b ON s.c_id = b.vec_id)
        | SELECT q_id, c_id, cos_sim, rn FROM (
        |   SELECT q_id, c_id, cos_sim,
        |     row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rn
        |   FROM rr) t
        | WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct,
        | CAST(sum(length(w)) AS DOUBLE) / count(*) AS avg_len,
        | count(DISTINCT doc_id) AS n_docs
        | FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        | WHERE length(w) > 0
        |   AND w NOT IN ('the', 'and', 'of', 'a', 'in', 'to', 'table', 'row')
        | GROUP BY lang ORDER BY lang""".stripMargin,
    "text_tfidf" ->
      """WITH words AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
        |               FROM documents),
        |     filtered AS (SELECT * FROM words WHERE length(w) > 0),
        |     tf AS (SELECT source, w, count(*) AS tf FROM filtered GROUP BY source, w),
        |     dfreq AS (SELECT w, count(DISTINCT doc_id) AS df FROM filtered GROUP BY w),
        |     n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |     scored AS (SELECT source, tf.w, tf, df,
        |        CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,6)) AS score
        |      FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n)
        | SELECT source, w AS term, tf, df, score, rn FROM (
        |   SELECT source, w, tf, df, score,
        |     row_number() OVER (PARTITION BY source ORDER BY score DESC, w ASC) AS rn
        |   FROM scored) t
        | WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
    // K8 twin (round-3 promotion): double-mean centroids + brute
    // nearest — integer-only output, margin-safe (see query comment).
    "cluster_assign" ->
      """WITH dims AS (SELECT unnest(generate_series(1,
        |          (SELECT max(len(embedding)) FROM embeddings))) AS i),
        |  el AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
        |         FROM embeddings, dims),
        |  cent AS (SELECT label AS cl, i,
        |             sum(CAST(embedding[i] AS DOUBLE)) / count(*) AS cx
        |           FROM embeddings, dims GROUP BY label, i),
        |  d AS (SELECT e.vec_id, e.label, c.cl,
        |          sum((e.x - c.cx) * (e.x - c.cx)) AS d2
        |        FROM el e JOIN cent c ON e.i = c.i GROUP BY e.vec_id, e.label, c.cl),
        |  r AS (SELECT vec_id, label, cl AS assigned,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) AS rn
        |        FROM d)
        | SELECT vec_id, label, assigned FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // K8b twin: the K8 assignment CTEs feeding the T9 exact-sum update.
    "cluster_kmeans_step" ->
      """WITH dims AS (SELECT unnest(generate_series(1,
        |          (SELECT max(len(embedding)) FROM embeddings))) AS i),
        |  el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |         FROM embeddings, dims),
        |  cent AS (SELECT label AS cl, i,
        |             sum(CAST(embedding[i] AS DOUBLE)) / count(*) AS cx
        |           FROM embeddings, dims GROUP BY label, i),
        |  d AS (SELECT e.vec_id, c.cl,
        |          sum((e.x - c.cx) * (e.x - c.cx)) AS d2
        |        FROM el e JOIN cent c ON e.i = c.i GROUP BY e.vec_id, c.cl),
        |  r AS (SELECT vec_id, cl AS assigned,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) AS rn
        |        FROM d),
        |  a AS (SELECT vec_id, assigned FROM r WHERE rn = 1),
        |  q AS (SELECT a.assigned, CAST(i AS BIGINT) AS dim,
        |          CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |        FROM embeddings e JOIN a ON e.vec_id = a.vec_id CROSS JOIN dims),
        |  g AS (SELECT assigned, dim, CAST(count(*) AS BIGINT) AS n,
        |          sum(CAST(q AS DECIMAL(38,0))) AS s1
        |        FROM q GROUP BY 1, 2)
        | SELECT assigned, dim, n,
        |   CAST((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS DECIMAL(18,6)) AS centroid
        | FROM g ORDER BY assigned, dim""".stripMargin,
    "multimodal_cols" ->
      """SELECT doc_id, lang, source, n_chars, label,
        | CAST(len(embedding) AS BIGINT) AS dim
        | FROM documents JOIN embeddings ON doc_id = vec_id
        | WHERE lang IN ('en', 'de') AND n_chars > 200
        | ORDER BY doc_id""".stripMargin,
  )
}
