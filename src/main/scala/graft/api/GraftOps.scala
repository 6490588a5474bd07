package graft.api

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Parquet

/** Public, parameterized operator library — the surface an application
  * builds pipelines on. `SparkEntry.queries` entries are thin bindings
  * of these operators to the test tables; applications call them on
  * their own DataFrames / column names.
  *
  * Design rules (SURVEY §4/§7.4): declarative plans only, shuffles
  * keyed and minimal (banding/blocking instead of n² similarity),
  * deterministic outputs (seeded hashing, rounded-decimal ranking,
  * id tie-breaks).
  */
object GraftOps {

  /** Content digest of the normalized text — the dedup group key.
    * Grouping on the digest instead of the text itself keeps the
    * shuffle key at ~54 bytes regardless of document size (a 100 KB
    * document would otherwise ride the wire twice: once as key, once
    * as payload). The key is [[dualDigest]] (md5 ++ xxhash64 —
    * ADVICE r16): random collision probability stays < 2^-60 over
    * 2^64 documents, and a CONSTRUCTED md5 collision (practical since
    * 2004) no longer suffices to silently merge two distinct texts.
    *
    * Null-safe: a null text digests to a sentinel (not SQL NULL), so
    * null documents form one dedup group instead of silently vanishing
    * through null-rejecting equi-join keys — the semantics the window
    * formulation had (window partitioning groups NULLs together).
    * The sentinel cannot collide with a real digest (real digests are
    * ≥ 34 chars of hex ++ ':' ++ decimal).
    */
  private def normDigest(textCol: String): Column =
    coalesce(dualDigest(lower(trim(col(textCol)))), lit("null-doc"))

  /** md5 ++ ':' ++ xxhash64 of the same text (ADVICE r16): each digest
    * is authoritative with no downstream verify, and single-md5
    * collisions are practically constructible — an adversarial crawl
    * pair could silently merge two distinct texts into one dedup
    * group. Breaking BOTH md5 and the independently-designed xxhash64
    * on the same input pair is beyond any published attack, at the
    * cost of one extra codegen'd hash pass. NULL-safe like md5 (NULL
    * in → NULL out), so the callers' sentinel coalesce is unchanged.
    */
  private def dualDigest(text: Column): Column =
    concat(md5(text), lit(":"), xxhash64(text).cast("string"))

  /** Exact dedup on a normalization of `textCol`: one surviving row id
    * (the minimum) + duplicate count per distinct normalized text.
    * Single hash-partition shuffle keyed by the narrow [[normDigest]]
    * (not the text), with map-side partial aggregation — an
    * exact-duplicate flood collapses to one row per map partition
    * before the exchange; at any scale.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(normDigest(textCol).as("__dk"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(idCol, "n_dups")

  /** The rows of `df` that survive exact dedup on normalized
    * `textCol` — the keep-side companion of [[exactDedup]], for
    * pipelines that need the full surviving rows, not the summary.
    *
    * Shape: digest-keyed combinable `groupBy(min(id))` computes the
    * keep-set, then a left-semi join on (digest, id) selects the
    * surviving rows. Both exchanges carry narrow keys (~54-byte digest
    * + id); the window formulation this replaces had NO partial
    * aggregation (a hot-document flood landed every copy in one
    * window partition) and shuffled the entire text as the key.
    */
  def exactDedupRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.withColumn("__dk", normDigest(textCol))
    val keep = keyed.groupBy("__dk").agg(min(col(idCol)).as(idCol))
    keyed.join(keep, Seq("__dk", idCol), "left_semi").drop("__dk")
  }

  /** Representative collapse for the near-dup tiers (round 16 —
    * VERDICT r15 #1): a real crawl (and the sf1 synthesizer, which
    * replicates text 10×) is dominated by exact replicas, and every
    * shingle/signature tier's candidate volume grows QUADRATICALLY in
    * the replica factor of its hottest texts. Collapsing
    * byte-identical texts to one representative (the min id) BEFORE
    * any pair generation shrinks the pair graph quadratically while
    * staying exactly loss-free, because every downstream signal —
    * block key, shingle set, MinHash signature, SimHash fingerprint —
    * is a pure function of the text: (a) replicas of one text are
    * mutual near-dups (Jaccard 1, hamming 0) and always land in their
    * representative's cluster, and (b) a cross-group pair (a, b)
    * survives a tier's candidate+verify iff the representative pair
    * does, so components/pairs over representatives re-expand through
    * the membership into EXACTLY the full-corpus answer
    * ([[expandRepPairs]] / a membership join for clusters).
    *
    * Returns (representatives, membership): representatives = the
    * full input rows whose id is their text-group's min; membership =
    * (`idCol`, `__rep`). The collapse key digests the RAW text (no
    * normalization — the tiers shingle raw text, so only
    * byte-identical texts are provably interchangeable); NULL texts
    * stay singletons (a NULL block/shingle key pairs with nothing in
    * any tier, so the collapse must not invent a group). Both
    * exchanges carry narrow keys (~54-byte digest + id) with map-side
    * partial aggregation — the replica flood collapses per map
    * partition before the shuffle, the [[exactDedupRows]] contract.
    */
  def collapseReplicas(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val keyed = df.withColumn("__dg", collapseDigest(idCol, textCol))
    val groups = keyed.groupBy("__dg").agg(min(col(idCol)).as("__rep"))
    val membership = keyed.select(col(idCol), col("__dg"))
      .join(groups, "__dg").select(col(idCol), col("__rep"))
    val reps = keyed.join(groups.withColumnRenamed("__rep", idCol),
        Seq("__dg", idCol), "left_semi").drop("__dg")
    (reps, membership)
  }

  /** The collapse grouping key: [[dualDigest]] of the raw text
    * (md5 ++ xxhash64 — ADVICE r16: the key is authoritative with no
    * downstream verify, and bare-md5 collisions are constructible),
    * with NULL texts forced into per-row singleton groups (the
    * sentinel's leading NUL cannot appear in the hex/decimal digest).
    */
  private def collapseDigest(idCol: String, textCol: String): Column =
    coalesce(dualDigest(col(textCol)), concat(lit("\u0000null:"), col(idCol)))

  /** A pair tier through the representative collapse, with a
    * REPLICA-FRACTION GATE (round 16, measured): on a corpus with few
    * exact replicas the collapse is a near-identity — but its
    * semi-join feeds every recompute of the tier's internal frames
    * and the expansion joins ride the full (possibly huge) pair
    * output, a measured +40% on dedup_simhash at sf1 (whose synthetic
    * copies carry distinct prefix tokens BY DESIGN, replica factor
    * 1.0016). So pay one scalar aggregate (count + distinct-digest
    * count, combinable two-phase, no join — the same class of
    * driver-side scalar as an iterative loop's convergence count) and
    * route: representatives > 90% of docs → the tier runs DIRECTLY on
    * the input, plans byte-identical to the uncollapsed operator;
    * otherwise → tier over representatives + exact [[expandRepPairs]]
    * expansion, the quadratic-shrinking path a replica-dominated
    * crawl needs, with the reps/membership frames persisted once
    * (reuse materializer) so the tier's internal recomputes and the
    * expansion's four membership scans read cached blocks.
    *
    * Route equivalence: for a tier whose pair set is a pure function
    * of each document's text the two routes produce the SAME rows
    * ([[expandRepPairs]] exactness; Round16OpsSpec pins both). For a
    * FLOOD-GUARDED tier (ngramJaccardPairs / fuzzyPrefixPairs above
    * maxBlock) the collapse shrinks per-block counts, so blocks near
    * the cap may take the exact route collapsed where they banded
    * direct — the collapsed route's recall DOMINATES the direct
    * route's (banding is a recall filter; the exact route is
    * complete), so crossing the gate can only move the result TOWARD
    * the unrouted-exact answer, never away from it.
    */
  def collapsedPairs(df: DataFrame, idCol: String, textCol: String,
      passCols: Seq[String] = Nil, withinExtras: Seq[Column] = Nil,
      routeHint: Option[Boolean] = None)
      (tier: DataFrame => DataFrame): DataFrame =
    if (!routeHint.getOrElse(collapsePays(df, idCol, textCol)))
      tier(df).select(col("a_id") +: col("b_id") +: passCols.map(col): _*)
    else {
      val mat = reuseMaterializer(df, None)
      val (reps, members) = collapseReplicas(df, idCol, textCol)
      expandRepPairs(tier(mat(reps)), mat(members), idCol, passCols,
        withinExtras)
    }

  /** The shared collapse-route gate: true iff representatives
    * (= distinct collapse digests) are ≤ 90% of documents. One
    * combinable two-phase aggregate, no join; an EMPTY input routes
    * direct (count(distinct) folds to 0 — no NULL surprises, and the
    * direct plan is the cheaper identity on nothing).
    *
    * Round 17 (VERDICT r16 #3 + ADVICE r16): the decision is a pure
    * function of the corpus CONTENT, so callers that invoke several
    * gated tiers over one corpus should compute it ONCE and pass it as
    * `routeHint` to [[collapsedPairs]]/[[collapsedClusters]] — the
    * public [[collapseGate]] exists for exactly that (the query layer
    * caches it per source fingerprint). Without the hint each tier
    * pays this full-corpus digest aggregate at plan-construction time
    * (measured +6.6% on dedup_simhash sf1 isolated, ×3 tiers per
    * surface run, all buying the SAME bit).
    */
  private def collapsePays(df: DataFrame, idCol: String,
      textCol: String): Boolean = {
    val row = df.agg(count(lit(1)).as("n"),
      countDistinct(collapseDigest(idCol, textCol)).as("nr")).head()
    row.getLong(0) > 0L && row.getLong(1) * 10L <= row.getLong(0) * 9L
  }

  /** The [[collapsePays]] decision as a public, shareable value: true
    * iff the representative collapse pays for `df` (distinct texts
    * ≤ 90% of rows). Compute once per corpus and pass to every gated
    * tier via `routeHint` — one aggregate instead of one per tier.
    */
  def collapseGate(df: DataFrame, idCol: String, textCol: String): Boolean =
    collapsePays(df, idCol, textCol)

  /** [[collapsedPairs]]' clustering twin: connected components over a
    * tier's pair graph, built on representatives when the gate routes
    * through the collapse (membership re-expands each doc to its
    * representative's cluster; the component min-label is unchanged
    * because every representative is already its group's min id) and
    * directly otherwise. Output: (idCol, cluster).
    */
  def collapsedClusters(df: DataFrame, idCol: String, textCol: String,
      routeHint: Option[Boolean] = None)
      (pairsOf: DataFrame => DataFrame): DataFrame =
    if (!routeHint.getOrElse(collapsePays(df, idCol, textCol)))
      connectedComponents(df, idCol, pairsOf(df), "a_id", "b_id")
        .select(col("id").as(idCol), col("cluster"))
    else {
      val mat = reuseMaterializer(df, None)
      val (reps, members) = collapseReplicas(df, idCol, textCol)
      val r = mat(reps)
      mat(members).join(
          connectedComponents(r, idCol, pairsOf(r), "a_id", "b_id")
            .withColumnRenamed("id", "__rep"), "__rep")
        .select(col(idCol), col("cluster"))
    }

  /** Re-expand representative-level near-dup pairs to all-document
    * pairs through a [[collapseReplicas]] membership. The full-corpus
    * pair set is exactly (cross) ∪ (within): every rep pair fans out
    * to group(A) × group(B) — least/greatest restores a_id < b_id,
    * since a later id in group(A) can exceed an id in group(B) — and
    * every replica group of size ≥ 2 contributes its C(n, 2) internal
    * pairs (identical texts are mutual near-dups in every tier).
    * `passCols` carries tier outputs (e.g. hamming) through the cross
    * expansion; `withinExtras` supplies the identical-doc value for
    * each (hamming 0, Jaccard 1), pre-aliased to the same names.
    * Expansion is two keyed joins + one keyed self-join — output is
    * honestly quadratic in replica count (it IS the answer), but no
    * signature or verify work is spent producing it.
    */
  def expandRepPairs(repPairs: DataFrame, membership: DataFrame,
      idCol: String, passCols: Seq[String] = Nil,
      withinExtras: Seq[Column] = Nil): DataFrame = {
    val m = membership.select(col(idCol).as("__mid"), col("__rep"))
    val cross = repPairs
      .join(m.select(col("__mid").as("__xa"), col("__rep").as("a_id")), "a_id")
      .join(m.select(col("__mid").as("__xb"), col("__rep").as("b_id")), "b_id")
      .select(least(col("__xa"), col("__xb")).as("a_id") +:
        greatest(col("__xa"), col("__xb")).as("b_id") +:
        passCols.map(col): _*)
    val within = m.select(col("__rep"), col("__mid").as("__xa"))
      .join(m.select(col("__rep"), col("__mid").as("__xb")), "__rep")
      .filter(col("__xa") < col("__xb"))
      .select(col("__xa").as("a_id") +: col("__xb").as("b_id") +:
        withinExtras: _*)
    cross.unionByName(within)
  }

  /** Word n-gram shingles of `textCol` as a deduplicated string array
    * column named `outCol`.
    */
  def shingles(df: DataFrame, textCol: String, n: Int, outCol: String): DataFrame =
    df.withColumn("__w", split(col(textCol), " "))
      .withColumn(outCol, expr(
        s"array_distinct(transform(sequence(0, greatest(size(__w) - $n, 0)), " +
          s"i -> concat_ws(' ', slice(__w, i + 1, $n))))"))
      .drop("__w")

  /** Near-duplicate candidate pairs via MinHash-LSH over n-gram
    * shingles. Returns (a_id, b_id) with a_id < b_id for every pair
    * whose shingle-set Jaccard distance is ≤ `maxJaccardDist` among
    * LSH bucket collisions. Candidate generation is a bucket-key
    * equi-join — work scales with collisions, never n².
    */
  def minHashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxJaccardDist: Double = 0.5, shingleSize: Int = 3,
      numHashTables: Int = 5, seed: Long = 42L): DataFrame = {
    val feat = materializeOnce(minHashSignatures(df, idCol, textCol, shingleSize,
      numHashTables, seed).select(col(idCol), col("__features"),
        col("__hashes")))
    minHashNearDupPairsFromSignatures(feat, idCol, maxJaccardDist,
      numHashTables, seed)
  }

  /** The per-document MinHash signature frame (idCol, __features,
    * __hashes) the LSH tier joins on. [[minHashNearDupPairs]] builds
    * it, caches it once, and hands it to
    * [[minHashNearDupPairsFromSignatures]], so the shingling, TF and
    * MinHash transform run once ahead of the cache instead of once per
    * join side. Features and hashes are a pure per-doc function of the
    * text (HashingTF is stateless; MinHashLSH's coefficients are drawn
    * from `seed` alone, never from data). Persisting this frame as a
    * per-corpus parquet table was measured as a net loss and reverted
    * (the round-18 note in `LlmQueries`; OPTIMIZATION_r18.md §4).
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashTables: Int = 5,
      seed: Long = 42L): DataFrame = {
    val sh = shingles(df, textCol, shingleSize, "__shingles")
    val tf = new HashingTF().setInputCol("__shingles").setOutputCol("__features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feat = tf.transform(sh).select(col(idCol), col("__features"))
    new MinHashLSH().setInputCol("__features").setOutputCol("__hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
      .fit(feat).transform(feat)
  }

  /** [[minHashNearDupPairs]] over an existing signature frame
    * (idCol, __features, __hashes — see [[minHashSignatures]]).
    * approxSimilarityJoin uses the provided `__hashes` column as-is
    * (MLlib only re-transforms when the output column is absent), so
    * neither shingling, TF, nor the per-row MinHash UDF runs at query
    * time — the candidate join and the exact Jaccard-distance verify
    * are unchanged. The `fit` below only draws the seed-deterministic
    * hash coefficients (data-independent), kept identical to the
    * direct tier's.
    */
  def minHashNearDupPairsFromSignatures(sig: DataFrame, idCol: String,
      maxJaccardDist: Double = 0.5, numHashTables: Int = 5,
      seed: Long = 42L): DataFrame = {
    val lsh = new MinHashLSH().setInputCol("__features").setOutputCol("__hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
    // fit validates that the OUTPUT column is absent — drop it for the
    // (data-independent, seed-only) fit; the join then consumes sig's
    // existing __hashes column as-is
    lsh.fit(sig.drop("__hashes"))
      .approxSimilarityJoin(sig, sig, maxJaccardDist, "jaccard_dist")
      .filter(col(s"datasetA.$idCol") < col(s"datasetB.$idCol"))
      .select(col(s"datasetA.$idCol").as("a_id"), col(s"datasetB.$idCol").as("b_id"))
  }

  /** 64-bit SimHash fingerprint pairs within `maxHamming`, verified.
    * Requires [[graft.functions.GraftFunctions.register]].
    *
    * Round-6 redesign for recall (VERDICT r5 item 6): on short docs
    * unigram SimHash is noisy — genuinely near-identical pairs spread
    * to hamming ~6 while unrelated pairs start colliding at 2, so the
    * old 4×16-bit banding (complete only to hamming 3) topped out at
    * ~0.7 recall and NO pure hamming threshold holds precision at 6.
    * The fix is the Manku/Jain/Sarma web-crawl design: candidates
    * from C(8,2) = 28 BLOCK-PAIR tables — split the fingerprint into
    * 8 bytes; any pair within hamming ≤ 6 has ≥ 2 identical bytes,
    * i.e. shares one of the 28 concatenated 16-bit keys (pigeonhole)
    * — then an exact token-Jaccard verify ≥ `minJaccard` on the
    * candidates carries precision. 16-bit table keys keep bucket
    * cardinality at the scale-safe 65k per table (straight 8-bit
    * bands would funnel a web corpus through 256 buckets); candidate
    * volume stays collision-bounded, never all-pairs, and the verify
    * runs on candidates only.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, minJaccard: Double = 0.5): DataFrame =
    simhashPairsFromSignatures(
      simhashSignatures(df, idCol, textCol), idCol, maxHamming, minJaccard)

  /** The per-document SimHash signature frame (idCol, __simhash, __w)
    * — fingerprint + 3-gram shingle set, the two per-doc inputs the
    * banding and the verify consume. Exposed for PERSISTENCE (round 18
    * — VERDICT r17 #4): both columns are pure per-doc functions of the
    * text, so a fingerprint-keyed parquet of this frame feeds
    * [[simhashPairsFromSignatures]] identically while the query-side
    * plan's 4 corpus scans (banding evaluates simhash64(split(text))
    * per side, the verify rebuilds the shingle arrays per side) become
    * column-pruned reads of the signature table.
    */
  def simhashSignatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // Fingerprint votes over the word MULTISET (unchanged semantics).
    // The verify compares 3-gram SHINGLE sets — order-sensitive on
    // purpose: distinct-token sets cannot separate near-identical
    // docs from same-vocabulary permutations (measured max token-set
    // Jaccard 1.0 between unrelated docs on this corpus).
    df.select(col(idCol), split(col(textCol), " ").as("__wall"))
      .withColumn("__simhash", expr("simhash64(__wall)"))
      .withColumn("__w", expr(
        "array_distinct(transform(sequence(1, greatest(size(__wall) - 2, 1)), " +
          "i -> concat_ws(' ', slice(__wall, i, 3))))"))
      .select(col(idCol), col("__simhash"), col("__w"))

  /** [[simhashPairs]] over an existing signature frame (idCol,
    * __simhash, __w — see [[simhashSignatures]]): Manku-style C(8,2)
    * block-pair banding + hamming filter + exact shingle-Jaccard
    * verify, unchanged. (Round 6 measured that materializing the
    * signature subtree INSIDE one action costs more than recomputation
    * — wide arrays, cheap expressions; round 18's persisted-signature
    * path changes the trade because the table is built once per corpus
    * ACROSS actions and each consumer scan prunes to the one column it
    * needs.)
    */
  def simhashPairsFromSignatures(words: DataFrame, idCol: String,
      maxHamming: Int = 6, minJaccard: Double = 0.5): DataFrame = {
    // 28 tables, one per unordered byte pair (i, j): key = byte_i ++ byte_j.
    val tables = (0 until 8).combinations(2).toSeq.zipWithIndex.map {
      case (Seq(i, j), t) =>
        struct(lit(t).as("band_idx"),
          (shiftright(col("__simhash"), i * 8).bitwiseAND(lit(255L)) * 256L +
            shiftright(col("__simhash"), j * 8).bitwiseAND(lit(255L))).as("band_val"))
    }
    val banded = words.select(col(idCol), col("__simhash"),
      explode(array(tables: _*)).as("__b"))
      .select(col(idCol), col("__simhash"),
        col("__b.band_idx").as("band_idx"), col("__b.band_val").as("band_val"))
    val a = banded.select(col(idCol).as("a_id"), col("__simhash").as("a_sh"),
      col("band_idx"), col("band_val"))
    val b = banded.select(col(idCol).as("b_id"), col("__simhash").as("b_sh"),
      col("band_idx").as("b_bi"), col("band_val").as("b_bv"))
    val cand = a.join(b, col("band_idx") === col("b_bi") && col("band_val") === col("b_bv")
        && col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(a_sh ^ b_sh)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming").distinct()
    cand.join(words.select(col(idCol).as("a_id"), col("__w").as("__wa")), "a_id")
      .join(words.select(col(idCol).as("b_id"), col("__w").as("__wb")), "b_id")
      .filter(size(array_intersect(col("__wa"), col("__wb"))).cast("double")
        / size(array_union(col("__wa"), col("__wb"))) >= minJaccard)
      .select("a_id", "b_id", "hamming")
  }

  /** Blocked n-gram Jaccard pairs: candidates share the first
    * `blockWords` words (equality hash join), exact shingle-set
    * Jaccard ≥ `minJaccard` on candidates only.
    *
    * Skew guard (round 6): a natural-language prefix key is Zipfian —
    * "of the"/"in the" blocks can hold a large fraction of a web
    * corpus, and pair generation WITHIN a block is quadratic, which
    * AQE cannot split (it rebalances a key's rows, not a key's n²
    * pair output). So blocks are counted first, and any block holding
    * more than `maxBlock` docs routes its docs through the
    * deterministic banded-MinHash candidate tier (same min-md5
    * signature algebra as [[minhashBandPairs]], band-joined WITHIN the
    * block), capping candidate growth at signature-collision volume
    * instead of n². Both routes end in the same exact shingle-Jaccard
    * verify, and every step stays a deterministic SQL expression, so
    * the full routed pipeline remains DuckDB-oracle-checkable.
    * Semantics: identical to the unrouted operator for every block
    * ≤ `maxBlock`; for hot blocks the banding is a (measured ≥ 0.98
    * at j = 0.8) recall filter on candidates — the standard
    * LSH-above-a-cap contract for near-dup at scale.
    *
    * Fault tolerance: the materialized shingle table uses
    * executor-local blocks by default; pass `checkpointDir` (HDFS/
    * object store) for the reliable checkpoint path on long cluster
    * jobs — same contract as [[connectedComponents]].
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.8, shingleSize: Int = 3, blockWords: Int = 2,
      maxBlock: Int = 1024, checkpointDir: Option[String] = None): DataFrame = {
    val mat = reuseMaterializer(df, checkpointDir)
    val sh = shingles(df, textCol, shingleSize, "__shingles")
      .withColumn("__blk", expr(s"concat_ws(' ', slice(split($textCol, ' '), 1, $blockWords))"))
      .select(col(idCol), col("__blk"), col("__shingles"))
    // Per-block doc counts: groupBy (map-side combinable, skew-safe)
    // then a keyed join back; the probe side's hot key is a plain
    // equi-join AQE can split, unlike the pair-generating self-join.
    val cnt = sh.groupBy("__blk").agg(count(lit(1)).as("__bn"))
    // (id, blk, shingles, block-count) feeds both routes' candidate
    // generation AND both verify joins — up to 6 plan occurrences of
    // the shingle build with no canonical-exchange reuse between
    // them. Materialize it once ([[reuseMaterializer]]: lazy
    // MEMORY_AND_DISK cache by default — computed once inside the
    // consuming action, no extra job — reliable checkpoint under
    // `checkpointDir`): every downstream branch re-reads cached
    // blocks instead of re-splitting text.
    val tagged = mat(sh.join(cnt, "__blk"))
    val small = tagged.filter(col("__bn") <= maxBlock).drop("__bn")
    val hot = tagged.filter(col("__bn") > maxBlock).drop("__bn")
    val smallPairs = small.select(col(idCol).as("a_id"), col("__blk"), col("__shingles").as("sa"))
      .join(small.select(col(idCol).as("b_id"), col("__blk").as("b_blk"), col("__shingles").as("sb")),
        col("__blk") === col("b_blk") && col("a_id") < col("b_id"))
      .select("a_id", "b_id", "sa", "sb")
    // Hot route: 8 deterministic min-md5 sub-hashes over the SAME
    // shingle set, 4 bands × 2 rows, equi-join on (block, band, sig).
    val hx = hot.select(col(idCol), col("__blk"), explode(col("__shingles")).as("__s"))
    val aggs = (0 until 8).map { k =>
      min(substring(md5(concat(lit(s"${k / 4}:"), col("__s"))), (k % 4) * 8 + 1, 8)).as(s"__h$k")
    }
    val mh = hx.groupBy(col(idCol), col("__blk")).agg(aggs.head, aggs.tail: _*)
    // one agg + band-struct explode (not a unionAll of per-band
    // selects — see bandSignatures: pruning would re-run the min-md5
    // agg per band); cached for both self-join sides
    val bandRows = mat(mh.select(col(idCol), col("__blk"), explode(array((0 until 4).map { b =>
      struct(lit(b).as("__band"),
        concat(col(s"__h${2 * b}"), col(s"__h${2 * b + 1}")).as("__sig"))
    }: _*)).as("__e"))
      .select(col(idCol), col("__blk"),
        col("__e.__band").as("__band"), col("__e.__sig").as("__sig")))
    val cand = bandRows.select(col(idCol).as("a_id"), col("__blk"), col("__band"), col("__sig"))
      .join(bandRows.select(col(idCol).as("b_id"), col("__blk"), col("__band"), col("__sig")),
        Seq("__blk", "__band", "__sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val hotPairs = cand
      .join(hot.select(col(idCol).as("a_id"), col("__shingles").as("sa")), "a_id")
      .join(hot.select(col(idCol).as("b_id"), col("__shingles").as("sb")), "b_id")
      .select("a_id", "b_id", "sa", "sb")
    smallPairs.unionAll(hotPairs)
      .withColumn("jac", size(array_intersect(col("sa"), col("sb"))).cast("double")
        / size(array_union(col("sa"), col("sb"))))
      .filter(col("jac") >= minJaccard)
      .select(col("a_id"), col("b_id"), col("jac").cast(DecimalType(18, 6)).as("jac"))
  }

  /** Edit-distance near-dup pairs on a fixed-length text prefix:
    * candidates share the first `blockWords` words (equality hash
    * join), exact `levenshtein(prefix_a, prefix_b) <= maxDist` on
    * candidates only. Returns (a_id, b_id, dist) with a_id < b_id.
    *
    * Flood guard (round 15 — VERDICT r14 #1: this operator was the one
    * unguarded quadratic left in the dedup family, 194× wall-clock on
    * 10× rows at sf1): exactly the [[ngramJaccardPairs]] contract —
    * per-block doc counts are computed first, and any block holding
    * more than `maxBlock` docs routes its docs through a deterministic
    * banded-MinHash candidate tier (8 min-md5 sub-hashes over the
    * prefix's CHARACTER 3-gram shingles — the unit edit distance
    * operates on, so shingle overlap tracks the verify metric — as
    * 4 bands × 2 rows, equi-joined WITHIN the block), capping
    * candidate growth at signature-collision volume instead of n².
    * Both routes end in the same exact levenshtein verify, and every
    * step is a deterministic SQL expression, so the routed pipeline
    * stays DuckDB-oracle-checkable end to end. Semantics: identical to
    * the unrouted operator for every block ≤ `maxBlock`; for hot
    * blocks the banding is a recall filter on candidates (the standard
    * LSH-above-a-cap contract — a dist ≤ 5 pair of 60-char prefixes
    * shares ≥ ~3/4 of its shingles, comfortably above the 4×2 banding
    * knee), while the exact verify keeps precision at 1.
    */
  def fuzzyPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 60, maxDist: Int = 5, blockWords: Int = 2,
      maxBlock: Int = 1024, checkpointDir: Option[String] = None): DataFrame = {
    val mat = reuseMaterializer(df, checkpointDir)
    val base = df.select(col(idCol),
      substring(col(textCol), 1, prefixLen).as("__p"),
      expr(s"concat_ws(' ', slice(split($textCol, ' '), 1, $blockWords))")
        .as("__blk"))
    // per-block counts: map-side-combinable groupBy + keyed join back
    // (the same skew-safe tagging as ngramJaccardPairs — AQE can split
    // a hot key's JOIN rows, never its n² pair output)
    val cnt = base.groupBy("__blk").agg(count(lit(1)).as("__bn"))
    // (id, blk, prefix, block-count) feeds both routes' candidate
    // generation and both verify joins — materialize once
    val tagged = mat(base.join(cnt, "__blk"))
    val small = tagged.filter(col("__bn") <= maxBlock).drop("__bn")
    val hot = tagged.filter(col("__bn") > maxBlock).drop("__bn")
    val smallPairs = small
      .select(col(idCol).as("a_id"), col("__blk"), col("__p").as("pa"))
      .join(small.select(col(idCol).as("b_id"), col("__blk").as("b_blk"),
          col("__p").as("pb")),
        col("__blk") === col("b_blk") && col("a_id") < col("b_id"))
      .select("a_id", "b_id", "pa", "pb")
    // Hot route: character-3-gram shingles of the prefix, 8
    // deterministic min-md5 sub-hashes, 4 bands × 2 rows, equi-join
    // on (block, band, sig) — the ngramJaccardPairs hot tier with the
    // shingle unit swapped from words to characters.
    val hx = hot.withColumn("__sh", expr(
        "array_distinct(transform(sequence(1, greatest(length(__p) - 2, 1)), " +
          "i -> substring(__p, i, 3)))"))
      .select(col(idCol), col("__blk"), explode(col("__sh")).as("__s"))
    val aggs = (0 until 8).map { k =>
      min(substring(md5(concat(lit(s"${k / 4}:"), col("__s"))),
        (k % 4) * 8 + 1, 8)).as(s"__h$k")
    }
    val mh = hx.groupBy(col(idCol), col("__blk")).agg(aggs.head, aggs.tail: _*)
    val bandRows = mat(mh.select(col(idCol), col("__blk"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("__band"),
          concat(col(s"__h${2 * b}"), col(s"__h${2 * b + 1}")).as("__sig"))
      }: _*)).as("__e"))
      .select(col(idCol), col("__blk"),
        col("__e.__band").as("__band"), col("__e.__sig").as("__sig")))
    val cand = bandRows
      .select(col(idCol).as("a_id"), col("__blk"), col("__band"), col("__sig"))
      .join(bandRows.select(col(idCol).as("b_id"), col("__blk"),
        col("__band"), col("__sig")), Seq("__blk", "__band", "__sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val hotPairs = cand
      .join(hot.select(col(idCol).as("a_id"), col("__p").as("pa")), "a_id")
      .join(hot.select(col(idCol).as("b_id"), col("__p").as("pb")), "b_id")
      .select("a_id", "b_id", "pa", "pb")
    smallPairs.unionAll(hotPairs)
      .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("bigint"))
      .filter(col("dist") <= maxDist)
      .select("a_id", "b_id", "dist")
  }

  /** Deterministic ±1 random projection (Johnson–Lindenstrauss) of a
    * float-vector column to `outDims` dimensions: out_k = (1/√m is
    * left to the caller) Σ_j s(k,j)·v_j with signs s(k,j) ∈ {±1}
    * derived from the parity of the first md5 hex digit of "k:j" —
    * a seedless, engine-reproducible sign matrix. Used to shrink
    * embeddings before ANN / near-dup tiers: 64→8 is an 8× cut in
    * shuffle bytes and index memory while JL preserves pairwise
    * distances in expectation (E‖proj‖² = outDims·‖v‖²).
    *
    * Exactness: each component v_j is scaled by 2^`fixedPointBits`
    * and floored to a BIGINT before accumulation — float→double and
    * the power-of-two multiply are both IEEE-exact, floor is exact,
    * and integer sums are associative — so the result is
    * bit-identical on any engine and any partitioning (no
    * floating-point summation order anywhere). The sign matrix is a
    * 2D literal, so the whole projection is one codegen'd map-only
    * expression: no shuffle, no UDF, no per-row hashing.
    *
    * Output: input columns plus `outCol` = array<double> of length
    * `outDims` (fixed-point result scaled back; division by 2^bits is
    * exact).
    */
  /** Symmetric per-vector int8 quantization of an embedding column —
    * the 4× storage/scan-byte cut for persisted similarity indexes
    * (compare [[randomProjection]]'s 8× DIMENSION cut: they compose —
    * an 8-dim int8 index is a 32× byte cut over float-64). Each
    * vector is scaled by its own max-abs (`scale` = amax/127) and
    * each component mapped to floor(x·127/amax + 0.5) ∈ [-127, 127],
    * stored as tinyint. `floor(+0.5)` instead of round(): identical
    * semantics on every engine (ROUND ties differ across SQL
    * dialects), and IEEE-exact for these magnitudes.
    *
    * Map-only codegen expression — no shuffle, no UDF. A zero vector
    * quantizes to nulls (nullif guards the division); callers filter
    * or treat as zero.
    */
  def int8Quantize(df: DataFrame, idCol: String, vecCol: String,
      outCol: String = "q", scaleCol: String = "scale"): DataFrame =
    df.withColumn("__amax", expr(s"array_max(transform($vecCol, x -> abs(double(x))))"))
      .withColumn(scaleCol, (col("__amax") / lit(127.0)).cast("float"))
      .withColumn(outCol, expr(
        s"transform($vecCol, x -> cast(floor(double(x) * 127.0D / nullif(__amax, 0D) + 0.5D) as tinyint))"))
      .select(col(idCol), col(outCol), col(scaleCol))

  /** Per-vector quantization-quality stats for [[int8Quantize]]:
    * reconstruction RMSE and the cosine between the original and the
    * dequantized vector (both 6-dp, id-ordered — the cross-engine
    * ranking contract of the sim_* family). The quality gate a
    * pipeline runs BEFORE switching its shortlist scans to the int8
    * index: q_cos ≥ 0.9999 on real embeddings means shortlist
    * rankings are unaffected. Deterministic arithmetic → full DuckDB
    * oracle.
    */
  def int8QuantizeStats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec6 = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val withQ = df
      .withColumn("__v", expr(s"transform($vecCol, x -> double(x))"))
      .withColumn("__amax", expr("array_max(transform(__v, x -> abs(x)))"))
      .withColumn("__qv", expr(
        "transform(__v, x -> floor(x * 127.0D / nullif(__amax, 0D) + 0.5D))"))
      .withColumn("__recon", expr("transform(__qv, x -> x * __amax / 127.0D)"))
    withQ.select(
      col(idCol),
      size(col("__v")).cast("bigint").as("n_dims"),
      dec6(col("__amax")).as("amax"),
      dec6(expr(
        "sqrt(aggregate(zip_with(__v, __recon, (a, b) -> (a - b) * (a - b)), 0D, " +
          "(acc, x) -> acc + x) / size(__v))")).as("q_rmse"),
      dec6(expr(
        "aggregate(zip_with(__v, __recon, (a, b) -> a * b), 0D, (acc, x) -> acc + x) " +
          "/ nullif(sqrt(aggregate(__v, 0D, (acc, x) -> acc + x * x)) " +
          "* sqrt(aggregate(__recon, 0D, (acc, x) -> acc + x * x)), 0D)")).as("q_cos"))
  }

  def randomProjection(df: DataFrame, vecCol: String, inDims: Int,
      outDims: Int, outCol: String = "proj", fixedPointBits: Int = 20): DataFrame = {
    require(inDims > 0 && outDims > 0, "randomProjection: dims must be positive")
    def sign(k: Int, j: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
    }
    val scale = math.pow(2.0, fixedPointBits)
    val signs = array((1 to outDims).map(k =>
      array((1 to inDims).map(j => lit(sign(k, j))): _*)): _*)
    df.withColumn(outCol,
      transform(sequence(lit(1), lit(outDims)), k =>
        (aggregate(sequence(lit(1), lit(inDims)), lit(0L), (acc, j) =>
          acc + element_at(element_at(signs, k.cast("int")), j.cast("int")) *
            floor(element_at(col(vecCol), j.cast("int")).cast("double") * lit(scale))
              .cast("long"))
          .cast("double") / lit(scale))))
  }

  /** Per-document duplicated-span coverage via exact shingle matching
    * — the "exact substring dedup" signal of Lee et al. 2022
    * (Deduplicating Training Data Makes Language Models Better),
    * re-expressed at k-word-shingle grain instead of suffix arrays: a
    * k-word shingle occurring in more than one DISTINCT document is a
    * duplicated span, and each document reports how many of its
    * shingle positions fall inside one (`dup_shingles`, `dup_frac`).
    *
    * Scale shape (100 TB): two shingle-grain shuffles (global
    * distinct-doc count, then a left-semi probe of occurrences against
    * the duplicated-shingle table) plus one doc-grain aggregate — the
    * vocabulary map-reduce shape. Never all-pairs; the
    * duplicated-shingle table is bounded by corpus redundancy, not
    * corpus size, and a hot boilerplate shingle costs one counter + a
    * semi-join key, never a quadratic block. Shingle positions are NOT
    * deduplicated within a document, so coverage counts every repeated
    * position; "duplicated" means cross-document (within-doc repeats
    * of a globally unique shingle don't count — self-repetition is
    * `text_repetition`'s signal).
    *
    * Only documents with ≥ k words appear in the output (shorter ones
    * have no k-shingle). Every step is a deterministic SQL expression
    * → full DuckDB oracle.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 2, s"substringDupStats: k must be >= 2, got $k")
    val mat = reuseMaterializer(df, checkpointDir)
    val w = df.select(col(idCol), split(col(textCol), " ").as("__w"))
      .filter(size(col("__w")) >= k)
    // positions kept (no array_distinct): coverage is per-position.
    // The exploded shingle stream feeds the duplicated-shingle groupBy
    // AND the left-semi probe — materialize it once (lazy cache /
    // reliable under `checkpointDir`, see [[reuseMaterializer]]) so
    // the text split + explode runs a single time.
    val sh = mat(w.select(col(idCol), explode(expr(
      s"transform(sequence(0, size(__w) - $k), " +
        s"i -> concat_ws(' ', slice(__w, i + 1, $k)))")).as("__sh")))
    val dup = sh.groupBy("__sh")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > 1)
      .select("__sh")
    val per = sh.join(dup, Seq("__sh"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("dup_shingles"))
    w.select(col(idCol), (size(col("__w")) - (k - 1)).cast("long").as("n_shingles"))
      .join(per, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("dup_shingles"), lit(0L)).as("dup_shingles"))
      .withColumn("dup_frac",
        (col("dup_shingles").cast("double") / col("n_shingles"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
  }

  /** The REMOVAL half of exact-substring dedup (Lee et al. 2022),
    * companion to [[substringDupStats]]: every word position covered
    * by a cross-document-duplicated k-word shingle is dropped, and
    * the remaining words are reassembled in order. Returns one row
    * per input doc: (`idCol`, `clean_text`, `n_removed`) — docs with
    * no duplicated span (or fewer than k words) pass through with
    * `n_removed = 0`; a fully-duplicated doc comes back as the empty
    * string (the downstream quality gate's job to drop).
    *
    * Scale shape: the same two shingle-grain shuffles as
    * [[substringDupStats]] (global distinct-doc count + semi-join of
    * start positions), one position-grain anti-join, and one
    * doc-grain reassembly aggregate — work scales with corpus
    * redundancy, never pairs. Every step is deterministic SQL
    * (collect_list sorted by position before concat, so partition
    * order cannot leak into the text) → full DuckDB oracle.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 2, s"removeDuplicatedSpans: k must be >= 2, got $k")
    val mat = reuseMaterializer(df, checkpointDir)
    val w = mat(df.select(col(idCol), split(col(textCol), " ").as("__w")))
    // 0-based word positions
    val words = w.select(col(idCol), posexplode(col("__w")).as(Seq("__p", "__word")))
    // shingle start positions; guard: sequence(0, n-k) DESCENDS when
    // n < k, so short docs must not generate starts at all
    val st = mat(w.filter(size(col("__w")) >= k)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__w) - $k), i -> struct(i as s, " +
          s"concat_ws(' ', slice(__w, i + 1, $k)) as sh))")).as("__e"))
      .select(col(idCol), col("__e.s").as("__s"), col("__e.sh").as("__sh")))
    val dup = st.groupBy("__sh")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > 1)
      .select("__sh")
    val covered = st.join(dup, Seq("__sh"), "left_semi")
      .select(col(idCol), explode(expr(s"sequence(__s, __s + ${k - 1})")).as("__p"))
      .distinct()
    val kept = words.join(covered, Seq(idCol, "__p"), "left_anti")
    val agg = kept.groupBy(idCol).agg(
      count(lit(1)).as("__nk"),
      expr("concat_ws(' ', transform(array_sort(collect_list(struct(__p, __word))), x -> x.__word))")
        .as("__ct"))
    w.select(col(idCol), size(col("__w")).cast("long").as("__nw"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__ct"), lit("")).as("clean_text"),
        (col("__nw") - coalesce(col("__nk"), lit(0L))).cast("long").as("n_removed"))
  }

  /** Asymmetric containment near-dup pairs: documents that INCLUDE
    * another document's text (quotations, article supersets, crawl
    * page+boilerplate wrappers). Jaccard-based tiers miss these BY
    * DESIGN — a 30-word doc quoted verbatim inside a 300-word doc has
    * Jaccard ≈ 0.1 (never passes a 0.8 gate) but containment 1.0; a
    * dedup pipeline that only gates on Jaccard keeps the training set
    * memorizing the quoted text twice.
    *
    * Candidates come from RARE shingles only: a shingle shared by
    * 2..`maxDf` distinct docs pairs them up, bounding per-shingle
    * fan-out at C(maxDf, 2) ≈ 45 pairs — a hot boilerplate shingle
    * ("click here to subscribe") generates NO candidates instead of a
    * quadratic block, which is also correct, because ubiquity carries
    * no containment signal. Recall contract: a pair is found iff it
    * shares ≥ 1 rare shingle — for real contained text (≥ shingleSize
    * consecutive original words) some shingle of the contained doc is
    * near-always rare; a doc composed ENTIRELY of ubiquitous shingles
    * is invisible here and is exactly what `exactDedup` /
    * boilerplate-stripping already handles. Second blind spot: a doc
    * SHORTER than `shingleSize` words gets one whole-text fallback
    * shingle (see [[shingles]]) which can never equal any k-word
    * shingle of a longer doc, so containment pairs whose contained
    * side is < shingleSize words are structurally unfindable — route
    * micro-docs through `exactDedup`/`dedup_fuzzy` (substring-grain
    * tiers) if they matter; at shingleSize = 3 that is a ≤ 2-word
    * "document".
    *
    * Exact verify on candidates only: containment =
    * |A∩B| / min(|A|, |B|) over distinct-shingle sets ≥
    * `minContainment`. Every step is a deterministic SQL expression →
    * full DuckDB oracle.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      minContainment: Double = 0.8, shingleSize: Int = 3,
      maxDf: Int = 10, checkpointDir: Option[String] = None): DataFrame = {
    require(maxDf >= 2, s"containmentPairs: maxDf must be >= 2, got $maxDf")
    val mat = reuseMaterializer(df, checkpointDir)
    // The shingle-set frame feeds both verify joins and (exploded) the
    // rare-shingle groupBy plus both self-join sides — ~5 plan
    // occurrences. Materialize each grain once ([[reuseMaterializer]]:
    // lazy cache by default, reliable under `checkpointDir`).
    val sh = mat(shingles(df, textCol, shingleSize, "__sh")
      .select(col(idCol), col("__sh")))
    val ex = mat(sh.select(col(idCol), explode(col("__sh")).as("__s")))
    // count(1), not countDistinct(id): shingles() array_distincts per
    // doc, so ex rows are already unique (id, shingle) pairs — the
    // plain count skips the distinct-expansion exchange
    val dfs = mat(ex.groupBy("__s").agg(count(lit(1)).as("__df")))
    val rare = dfs.filter(col("__df") > 1 && col("__df") <= maxDf)
      .select("__s")
    val rex = ex.join(rare, "__s")
    // Candidate pairs WITH their exact shared-rare-shingle count (the
    // groupBy subsumes the old distinct): every rare shingle of A∩B is
    // by construction a rex match, so __shared_rare is EXACTLY
    // |A∩B ∩ rare|, not a sample of it.
    val cand = rex.select(col("__s"), col(idCol).as("a_id"))
      .join(rex.select(col("__s"), col(idCol).as("b_id")), "__s")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("__shared_rare"))
    // Cheap pre-filter before the array-carrying verify joins:
    //   |A∩B| = |A∩B ∩ rare| + |A∩B ∩ common(df > maxDf)|
    //         ≤ __shared_rare + least(__hc_a, __hc_b)
    // (df=1 shingles can't intersect; unshared rare shingles can't
    // either). A pair whose upper bound can't reach
    // minContainment · min(|A|, |B|) provably fails verification, so
    // pruning it cannot change the output — only counts (id, count)
    // rows move here, never the shingle arrays.
    val sizes = sh.select(col(idCol), size(col("__sh")).as("__sz"))
    val hc = ex.join(dfs.filter(col("__df") > maxDf).select("__s"), "__s")
      .groupBy(idCol).agg(count(lit(1)).as("__hc"))
    val pre = cand
      .join(sizes.select(col(idCol).as("a_id"), col("__sz").as("__sz_a")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("__sz").as("__sz_b")), "b_id")
      .join(hc.select(col(idCol).as("a_id"), col("__hc").as("__hc_a")), Seq("a_id"), "left")
      .join(hc.select(col(idCol).as("b_id"), col("__hc").as("__hc_b")), Seq("b_id"), "left")
      .filter((col("__shared_rare") +
          least(coalesce(col("__hc_a"), lit(0L)), coalesce(col("__hc_b"), lit(0L))))
            .cast("double") >=
        (lit(minContainment) - lit(1e-9)) *
          least(col("__sz_a"), col("__sz_b")).cast("double"))
      .select("a_id", "b_id")
    // exact verification of the surviving pairs only
    pre
      .join(sh.select(col(idCol).as("a_id"), col("__sh").as("__sa")), "a_id")
      .join(sh.select(col(idCol).as("b_id"), col("__sh").as("__sb")), "b_id")
      .withColumn("containment",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          least(size(col("__sa")), size(col("__sb"))).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"),
        col("containment")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))
          .as("containment"))
  }

  /** Greedy application of an ordered BPE merge list to a word
    * column — the APPLY half of the tokenizer pipeline whose LEARN
    * half is `vocab_bpe_pairs` (single-round pair counting). Each
    * merge (rank order) rewrites every adjacent standalone symbol
    * pair into the joined symbol, greedily left to right — the BPE
    * tokenize step, at vocabulary grain.
    *
    * Merge-pair encoding (`pairCol`): either a 2-character string
    * `"xy"` (two single-char symbols — what round-1 learning emits)
    * or an explicit space-separated `"left right"` pair for
    * multi-symbol merges (any real merge list beyond round 1, e.g.
    * `"th e"` = 'th'+'e'; symbols can never contain spaces, so the
    * separator is unambiguous). Any other shape — e.g. a bare
    * multi-char string like `"the"` with no separator — RAISES at
    * execution rather than silently matching on its first two
    * characters and corrupting the word.
    *
    * Mechanism: symbols ride in a DOUBLE-space-delimited string
    * ("␣␣t␣␣h␣␣e␣␣"), and each merge is one `replace` of
    * "␣x␣␣y␣" → "␣xy␣" — the pattern takes ONE space from each side,
    * so adjacent repeats ("a b a b") merge on a single left-to-right
    * scan exactly like the token-list algorithm, and a consumed
    * symbol ("h" inside "th") can never false-match a later merge
    * (no flanking spaces). The fold is an `aggregate` HOF over the
    * collected merge array — fully codegen'd, no UDF, no driver
    * collect (`collect_list` into ONE broadcast row).
    *
    * Scale: runs over the word VOCABULARY (weight column carries the
    * corpus counts), so cost is |vocab| × |merges| string scans —
    * the vocabulary map-reduce shape, independent of corpus size.
    * Deterministic string algebra → full DuckDB oracle (recursive
    * CTE over merge rank).
    */
  def bpeApply(words: DataFrame, wordCol: String, merges: DataFrame,
      pairCol: String, rankCol: String, outCol: String = "toks"): DataFrame = {
    // Normalize every merge to canonical "left right" form, validating
    // the encoding contract: space-separated two non-empty symbols, or
    // exactly two characters. Anything else raise_errors — a silent
    // first-two-chars guess would splice garbage into the word.
    val normPair =
      s"""CASE
         |  WHEN x.p LIKE '% %' AND size(split(x.p, ' ')) = 2
         |       AND length(element_at(split(x.p, ' '), 1)) > 0
         |       AND length(element_at(split(x.p, ' '), 2)) > 0 THEN x.p
         |  WHEN x.p NOT LIKE '% %' AND length(x.p) = 2
         |    THEN concat(substring(x.p, 1, 1), ' ', substring(x.p, 2, 1))
         |  ELSE raise_error(concat('bpeApply: merge pair must be two ',
         |    'single chars ("xy") or space-separated symbols ',
         |    '("left right"); got: "', x.p, '"'))
         |END""".stripMargin
    val m1 = merges.agg(expr(
      s"transform(array_sort(collect_list(struct($rankCol as r, $pairCol as p))), " +
        s"x -> $normPair)")
      .as("__ms"))
    // p is "left right"; the double-space pattern takes one flanking
    // space from each side: ' left  right ' → ' leftright '
    words.crossJoin(broadcast(m1))
      .withColumn("__s", concat(lit("  "), regexp_replace(col(wordCol), "(.)", "$1  ")))
      .withColumn("__s", expr(
        "aggregate(__ms, __s, (acc, p) -> replace(acc, " +
          "concat(' ', replace(p, ' ', '  '), ' '), " +
          "concat(' ', replace(p, ' ', ''), ' ')))"))
      .withColumn(outCol, trim(regexp_replace(col("__s"), "  +", " ")))
      .drop("__ms", "__s")
  }

  /** Temperature-scaled domain resampling (the LLM data-mix α-power
    * rebalance): keep each row of domain d with probability
    * r_d = min(1, targetFrac · N · n_d^α / (Σ_d′ n_d′^α · n_d)),
    * decided by a deterministic md5 bucket of the row id — so the
    * sampled mix's expected shares are ∝ n_d^α (α = 1 keeps the
    * natural mix, α → 0 flattens toward uniform) and the expected
    * kept fraction is `targetFrac`.
    *
    * This is the rate-based twin of the fixed-count variant (M4
    * `sample_weighted`'s per-domain md5-permutation row_number): no
    * per-domain sort anywhere — one map-side-combinable domain count,
    * a broadcast of |domains| thresholds, and a map-only filter. At
    * 100 TB that is one scan; the row_number variant's global
    * per-domain window sort is the part that doesn't scale.
    *
    * Cross-engine determinism (the oracle recipe): the per-domain
    * weight n^α is rounded to DECIMAL(18,6) BEFORE the cross-domain
    * normalizer is summed — decimal sums are exact and order-free,
    * where a double Σ would depend on aggregation order — and the
    * final rate/threshold is one scalar double expression, the same
    * IEEE tree on both engines. α = 0.5 evaluates via sqrt
    * (correctly rounded per IEEE-754; general pow is not) — prefer
    * it for oracled pipelines.
    */
  def sampleTemperature(df: DataFrame, idCol: String, domainCol: String,
      alpha: Double = 0.5, targetFrac: Double = 0.5, seed: String = "7"): DataFrame = {
    require(alpha > 0 && targetFrac > 0 && targetFrac <= 1,
      s"sampleTemperature: need alpha > 0 and 0 < targetFrac <= 1, got alpha=$alpha targetFrac=$targetFrac")
    val w = if (alpha == 0.5) sqrt(col("__n").cast("double"))
            else pow(col("__n").cast("double"), lit(alpha))
    val cnt = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__wn", w.cast(DecimalType(18, 6)))
    val tot = cnt.agg(sum(col("__n")).as("__nn"), sum(col("__wn")).as("__den"))
    // threshold on the first 8 md5 hex chars read as a 32-bit bucket:
    // floor(2^32 · r_d), capped at 2^32 (= keep all) by least(1.0,·)
    val thr = cnt.crossJoin(broadcast(tot))
      .select(col(domainCol), floor(lit(4294967296.0) *
          least(lit(1.0), lit(targetFrac) * col("__nn").cast("double") * col("__wn").cast("double")
            / (col("__den").cast("double") * col("__n").cast("double"))))
        .cast("bigint").as("__thr"))
    val bucket = conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    df.join(broadcast(thr), Seq(domainCol))
      .filter(bucket < col("__thr"))
      .drop("__thr")
  }

  /** Canonicalize a URL column for dedup: lowercase, strip the scheme
    * and a leading `www.`, drop tracking parameters (utm_*, fbclid,
    * gclid), then repair the query-string punctuation the removal can
    * leave behind — a surviving real parameter that FOLLOWED a removed
    * tracking one would otherwise keep its `&` where the `?` belongs
    * (`a?utm_x=1&id=3` → `a&id=3` → repaired to `a?id=3`), and a
    * fully-stripped query leaves a trailing `?`. Pure codegen
    * expression chain, no UDF.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noScheme = regexp_replace(lower(url), "^https?://(www\\.)?", "")
    val noTracking = regexp_replace(noScheme, "[?&](utm_[a-z_]+|fbclid|gclid)=[^&]*", "")
    // first '&' with no '?' before it becomes '?'; then drop a bare trailing '?'
    regexp_replace(regexp_replace(noTracking, "^([^?]*)&", "$1?"), "\\?$", "")
  }

  /** Cross-corpus blocked n-gram Jaccard pairs (a × b, not self):
    * the train-vs-heldout / shard-vs-shard near-dup shape. Same
    * first-`blockWords` equality blocking as [[ngramJaccardPairs]],
    * but candidates span the two inputs and every (a,b) ordering is a
    * distinct pair (no `a_id < b_id` dedup — ids may overlap or come
    * from different id spaces). Scale: one hash-partitioned equi-join
    * on the block key; neither corpus is ever crossed with itself.
    */
  def ngramJaccardCrossPairs(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String, minJaccard: Double = 0.8, shingleSize: Int = 3,
      blockWords: Int = 2): DataFrame = {
    def prep(df: DataFrame, side: String) =
      shingles(df, textCol, shingleSize, "__shingles")
        .withColumn("__blk", expr(s"concat_ws(' ', slice(split($textCol, ' '), 1, $blockWords))"))
        .select(col(idCol).as(s"${side}_id"), col("__blk").as(s"${side}_blk"),
          col("__shingles").as(s"s$side"))
    prep(a, "a").join(prep(b, "b"), col("a_blk") === col("b_blk"))
      .withColumn("jac", size(array_intersect(col("sa"), col("sb"))).cast("double")
        / size(array_union(col("sa"), col("sb"))))
      .filter(col("jac") >= minJaccard)
      .select(col("a_id"), col("b_id"), col("jac").cast(DecimalType(18, 6)).as("jac"))
  }

  /** Attach `__norm` = L2 norm of `vecCol` (via the codegen'd
    * array_dot). Requires GraftFunctions.register.
    */
  private def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__norm", expr(s"sqrt(array_dot($vecCol, $vecCol))"))

  /** ALL pairs with cosine ≥ `minCos` — exact, via a deterministic,
    * provably-complete grid-blocked candidate join (never a cartesian
    * product).
    *
    * Completeness: on L2-normalized vectors, cos(u,w) ≥ t ⟺
    * ‖û−ŵ‖ ≤ r = √(2−2t). Any 1-Lipschitz projection p (here the
    * normalized first coordinate) then satisfies |p(u)−p(w)| ≤ r, so
    * with grid cells of width r a qualifying pair is at most one cell
    * apart — a 3-neighbor-cell equi-join is exhaustive. Unlike
    * random-projection LSH (whose bucket misses are only
    * probabilistically rare — unacceptable for an exact operator), this
    * blocking can only over-generate candidates; the exact cosine
    * filter keeps the output identical to the all-pairs formulation.
    *
    * Scale: work is Σ_cell n_cell², i.e. adaptive — tight thresholds /
    * clustered corpora spread across many cells and prune hard; a
    * threshold comparable to the data diameter degenerates toward n²,
    * which is inherent to the OPERATOR (its output is then itself ~n²),
    * not to this plan. The join is a keyed shuffle: at 100 TB it
    * partitions by cell instead of melting a single cartesian task.
    * Requires GraftFunctions.register.
    */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
      minCos: Double, numSalts: Int = 16): DataFrame = {
    // 1e-7 relative slack: projections run float→double, cell width
    // must stay ≥ the true distance bound after rounding.
    val cellW = math.sqrt(2.0 - 2.0 * minCos) * (1.0 + 1e-7)
    val emb = withNorm(df, vecCol)
      .withColumn("__cell",
        floor(element_at(col(vecCol), 1).cast("double") / col("__norm") / lit(cellW))
          .cast("long"))
    // Salted join keys: a dense cell would otherwise put its whole n²
    // in ONE task. The a-side picks a deterministic salt shard, the
    // b-side replicates across all shards — same pairs, ×numSalts
    // parallelism inside each cell.
    // repartition by (cell, salt): when the small side broadcasts, the
    // probe side's partitioning IS the parallelism — without this the
    // whole corpus-file's single input split would probe serially.
    val a = emb.select(col(idCol).as("a_id"), col(vecCol).as("q"),
      col("__norm").as("nq"), col("__cell"),
      pmod(col(idCol).cast("long"), lit(numSalts)).as("__salt"))
      .repartition(col("__cell"), col("__salt"))
    val b = emb.select(col(idCol).as("b_id"), col(vecCol).as("c"),
      col("__norm").as("nc"), col("__cell"))
      .withColumn("__bcell",
        explode(array(col("__cell") - 1, col("__cell"), col("__cell") + 1)))
      .withColumn("__salt", explode_outer(expr(s"sequence(0, ${numSalts - 1})")))
    a.join(b, a("__cell") === b("__bcell") && a("__salt") === b("__salt")
        && col("a_id") < col("b_id"))
      .withColumn("__cos_d", expr("array_dot(q, c)") / (col("nq") * col("nc")))
      // cheap double pre-filter kills ~all candidates before the
      // decimal conversion; the 1e-6 slack keeps every value that the
      // 6-dp half-up rounding could still lift to the threshold.
      .filter(col("__cos_d") >= minCos - 5e-7)
      .withColumn("cos_sim", col("__cos_d").cast(DecimalType(18, 6)))
      .filter(col("cos_sim") >= minCos)
      .select("a_id", "b_id", "cos_sim")
  }

  /** CROSS-corpus companion of [[cosinePairsBlocked]] (round 17 —
    * VERDICT r16 #1): all pairs (p ∈ `probe`, c ∈ `corpus`) with
    * cosine ≥ `minCos`, via the same provably-complete 3-neighbor-cell
    * grid join — the O(delta) APPEND step of a persisted similarity
    * graph. When a batch of new vectors arrives, the new edges are
    * exactly (new × standing) ∪ (new × new): this operator computes
    * the first term without ever re-crossing the standing corpus with
    * itself, so index growth costs O(batch × collisions), not a full
    * rebuild — the sim_ivf_delta contract applied to the edge list.
    *
    * Contract: the two inputs' id spaces must be DISJOINT (the append
    * use case — a batch is new by construction); output is normalized
    * to (a_id, b_id, cos_sim) with a_id < b_id via least/greatest, so
    * it unions directly with the self-join's edges. Completeness is
    * [[cosinePairsBlocked]]'s argument verbatim: the probe row's cell
    * and a qualifying corpus row's cell differ by at most one, and the
    * corpus side replicates across ±1 cells. Salting as in the
    * self-join: a dense cell's probe rows spread over `numSalts`
    * shards, the corpus side replicates across them.
    */
  def cosinePairsBlockedCross(probe: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, minCos: Double,
      numSalts: Int = 16): DataFrame = {
    val cellW = math.sqrt(2.0 - 2.0 * minCos) * (1.0 + 1e-7)
    def cells(df: DataFrame) = withNorm(df, vecCol)
      .withColumn("__cell",
        floor(element_at(col(vecCol), 1).cast("double") / col("__norm") / lit(cellW))
          .cast("long"))
    val a = cells(probe).select(col(idCol).as("p_id"), col(vecCol).as("q"),
      col("__norm").as("nq"), col("__cell"),
      pmod(col(idCol).cast("long"), lit(numSalts)).as("__salt"))
      .repartition(col("__cell"), col("__salt"))
    val b = cells(corpus).select(col(idCol).as("c_id"), col(vecCol).as("c"),
      col("__norm").as("nc"), col("__cell"))
      .withColumn("__bcell",
        explode(array(col("__cell") - 1, col("__cell"), col("__cell") + 1)))
      .withColumn("__salt", explode_outer(expr(s"sequence(0, ${numSalts - 1})")))
    a.join(b, a("__cell") === b("__bcell") && a("__salt") === b("__salt")
        && col("p_id") =!= col("c_id"))
      .withColumn("__cos_d", expr("array_dot(q, c)") / (col("nq") * col("nc")))
      .filter(col("__cos_d") >= minCos - 5e-7)
      .withColumn("cos_sim", col("__cos_d").cast(DecimalType(18, 6)))
      .filter(col("cos_sim") >= minCos)
      .select(least(col("p_id"), col("c_id")).as("a_id"),
        greatest(col("p_id"), col("c_id")).as("b_id"), col("cos_sim"))
  }

  /** Exact k-NN graph WITHIN blocks: each row's top-`k` cosine
    * neighbors among the rows sharing its `blockCol` value — the
    * all-rows companion of [[cosineTopK]] (which bounds the PROBE
    * side instead). The block key is whatever coarse partitioner the
    * pipeline already has — a cluster/IVF-cell assignment, a language,
    * a shard — and is the thing that makes an all-rows k-NN graph
    * buildable at 100 TB: the candidate join is a plain equi-join on
    * the block (shuffle-hash, AQE-splittable), cost Σ b² over block
    * sizes instead of n² global. Oversized blocks are the operator's
    * skew hazard; the contract is the same as the IVF tier's — cap
    * block size upstream (sub-split hot cells) rather than letting a
    * mega-block go quadratic.
    *
    * The join projection drops both vectors immediately after the
    * dot product, so the per-source ranking exchange carries only
    * (src, dst, block, sim) scalars. Ranking follows the [[cosineTopK]]
    * cross-engine contract: 6-dp-rounded similarity, id tie-break.
    */
  def cosineKnnBlocked(corpus: DataFrame, idCol: String, vecCol: String,
      blockCol: String, k: Int): DataFrame = {
    val normed = withNorm(corpus, vecCol)
    val a = normed.select(col(idCol).as("src"), col(blockCol).as("block"),
      col(vecCol).as("q"), col("__norm").as("nq"))
    val b = normed.select(col(idCol).as("dst"), col(blockCol).as("__b"),
      col(vecCol).as("c"), col("__norm").as("nc"))
    val w = Window.partitionBy(col("src")).orderBy(col("cos_sim").desc, col("dst").asc)
    a.join(b, col("block") === col("__b") && col("src") =!= col("dst"))
      .withColumn("cos_sim", (expr("array_dot(q, c)") / (col("nq") * col("nc")))
        .cast(DecimalType(18, 6)))
      .select("src", "block", "dst", "cos_sim")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** Exact cosine top-k neighbors of each probe row against the
    * corpus. Deliberately brute-force — bound the probe side; the
    * LSH/IVF variants are the full-corpus-scale paths. Rankings use
    * the 6-dp-rounded similarity with an id tie-break (deterministic
    * across engines and partitionings).
    */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probePredicate: Column, k: Int,
      candidatePredicate: Column = lit(true)): DataFrame = {
    // candidatePredicate (round 13 — VERDICT r12 #4, filtered ANN):
    // the production vector-search shape is top-k UNDER a metadata
    // predicate. Filtering the candidate side BEFORE the norm/dot
    // pipeline keeps the predicate on raw corpus columns, so Catalyst
    // pushes it into the parquet scan (PushedFilters) — the filtered
    // scan reads fewer bytes instead of discarding rows post-join.
    val normed = withNorm(corpus, vecCol)
    val probes = normed.filter(probePredicate)
      .select(col(idCol).as("q_id"), col(vecCol).as("q"), col("__norm").as("nq"))
    val cand = normed.filter(candidatePredicate)
      .select(col(idCol).as("c_id"), col(vecCol).as("c"), col("__norm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
    probes.crossJoin(cand).filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim", (expr("array_dot(q, c)") / (col("nq") * col("nc")))
        .cast(DecimalType(18, 6)))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cos_sim", "rn")
  }

  /** Approximate cosine top-k through the [[randomProjection]] (JL)
    * compression tier — the round-7 wiring of `embed_project` into the
    * ANN path: the SHORTLIST scan runs entirely in `projDims`
    * (default 8) dimensions, and only the ≤ `shortlist` survivors per
    * probe are re-ranked against the full `inDims`-dim vectors.
    *
    * Why this is the 100 TB shape: the brute-force scan's cost is
    * corpus × probes × dims multiply-adds, and its shuffle payload
    * carries the vectors — projecting 64 → 8 cuts both by 8×
    * (the shortlist stage drops the arrays BEFORE its window
    * exchange, so the ranking shuffle moves only (q_id, c_id, sim)
    * triples), while the exact re-rank touches shortlist × probes
    * full vectors — negligible against the corpus. JL guarantees the
    * projected cosine concentrates around the true one, so a modest
    * `shortlist` (default 10×k) recovers ≥ 0.95 of the exact top-k
    * (measured, SCALE.md round 7).
    *
    * Determinism / oracle: the projection is the bit-identical
    * fixed-point sign-matrix map of [[randomProjection]]; both
    * ranking stages order by the 6-dp-rounded similarity with an id
    * tie-break — the same cross-engine contract as [[cosineTopK]],
    * so the whole operator carries a full DuckDB oracle (unlike the
    * LSH/IVF tiers, whose bucketing is engine-specific).
    *
    * `projected`: optionally a PRECOMPUTED projection table
    * (`idCol` + an array-of-numeric projection column named by
    * `projCol`, default "proj" — build it once with
    * [[randomProjection]] and persist, the ivfIndexBuild pattern).
    * At 100 TB this is the whole point: the shortlist stage then
    * scans ~projDims/inDims of the corpus BYTES (measured in
    * tools/AnnStress; Spark 4's WindowGroupLimit already keeps the
    * ranking exchange k-bounded for both tiers, so scan bytes — not
    * shuffle — are where the corpus size bites). When omitted the
    * projection is computed inline (the oracled query path).
    */
  def projectedCosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probePredicate: Column, k: Int, inDims: Int, projDims: Int = 8,
      shortlist: Int = 0, projected: Option[DataFrame] = None,
      projCol: String = "proj"): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 10 * k
    val projDot =
      "aggregate(zip_with(pq, pc, (x, y) -> double(x) * double(y)), 0D, (acc, v) -> acc + v)"
    val projNorm = (c: String) =>
      s"sqrt(aggregate($c, 0D, (acc, x) -> acc + double(x) * double(x)))"
    // `projCol` names the projection column of a precomputed table
    // EXPLICITLY — guessing "the first non-id column" would silently
    // pick a partition/metadata column on a wider table and produce a
    // garbage shortlist with no error.
    val proj = projected
      .map { p =>
        require(p.columns.contains(projCol),
          s"projectedCosineTopK: precomputed projection table has no " +
            s"column '$projCol' (columns: ${p.columns.mkString(", ")}); " +
            "pass projCol= to name the projection column")
        p.select(col(idCol), col(projCol).as("__p"))
      }
      .getOrElse(randomProjection(corpus, vecCol, inDims, projDims, "__p")
        .select(col(idCol), col("__p")))
    // probe ids resolve against the CORPUS (the predicate may use any
    // corpus column), then semi-select the projected rows — keeps the
    // precomputed-projection path semantically identical to inline
    val probeIds = corpus.filter(probePredicate).select(col(idCol).as("q_id"))
    val probes = proj.join(probeIds, proj(idCol) === probeIds("q_id"))
      .select(col("q_id"), col("__p").as("pq"))
      .withColumn("npq", expr(projNorm("pq")))
    val cand = proj.select(col(idCol).as("c_id"), col("__p").as("pc"))
      .withColumn("npc", expr(projNorm("pc")))
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("__psim").desc, col("c_id").asc)
    val short = probes.crossJoin(cand).filter(col("q_id") =!= col("c_id"))
      .withColumn("__psim",
        (expr(projDot) / (col("npq") * col("npc"))).cast(DecimalType(18, 6)))
      // arrays dropped BEFORE the ranking exchange: the window shuffle
      // moves 3 scalars per candidate, not two vectors
      .select("q_id", "c_id", "__psim")
      .withColumn("__srn", row_number().over(ws))
      .filter(col("__srn") <= sl)
      .select("q_id", "c_id")
    // full-dim exact re-rank of the shortlist only (same 6-dp + id
    // tie-break ranking contract as cosineTopK)
    val full = withNorm(corpus, vecCol)
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("c_id").asc)
    short
      .join(full.select(col(idCol).as("q_id"), col(vecCol).as("q"),
        col("__norm").as("nq")), "q_id")
      .join(full.select(col(idCol).as("c_id"), col(vecCol).as("c"),
        col("__norm").as("nc")), "c_id")
      .withColumn("cos_sim", (expr("array_dot(q, c)") / (col("nq") * col("nc")))
        .cast(DecimalType(18, 6)))
      .withColumn("rn", row_number().over(wq).cast("bigint"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cos_sim", "rn")
  }

  /** Per-group decimal-mean centroids of `vecCol` keyed by `byCol` —
    * the deterministic coarse quantizer for IVF / nearest-centroid
    * assignment (exact decimal partials ⇒ partition-order invariant).
    */
  def centroids(df: DataFrame, byCol: String, vecCol: String): DataFrame =
    df.select(col(byCol).as("cl"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("cl", "i")
      .agg((sum(col("x").cast(DecimalType(28, 10))).cast("double") / count(lit(1))).as("cx"))
      .groupBy("cl")
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)").as("centroid"))

  /** MAP-ONLY top-`m` nearest centroids per row: the k centroids
    * collapse to ONE broadcast row (a sorted struct list) and each
    * input row computes its (d2, cl)-sorted shortlist with per-row
    * HOFs — `__ranked` = array<struct<d2,cl>> of the m nearest
    * (d2 asc, cl asc on ties; the exact order the old window rank
    * produced).
    *
    * This shape replaced a row_number() window over the row×centroid
    * crossJoin (round 8): the window needed an Exchange on the row id
    * carrying k copies of every VECTOR through the wire — corpus × k
    * × 256 bytes of shuffle for a 64-dim float — where the fold needs
    * zero exchanges: the plan is scan → 1-row broadcast → project, so
    * centroid assignment is pure scan throughput at any corpus size.
    */
  private def centroidTopM(df: DataFrame, vecCol: String,
      cent: DataFrame, m: Int): DataFrame = {
    val packed = cent.agg(
      sort_array(collect_list(struct(col("cl"), col("centroid")))).as("__cents"))
    df.crossJoin(broadcast(packed))
      .withColumn("__ranked", expr(
        s"""slice(array_sort(transform(__cents, c -> named_struct(
           |  'd2', aggregate(zip_with($vecCol, c.centroid,
           |          (x, y) -> (double(x) - y) * (double(x) - y)), 0D, (acc, v) -> acc + v),
           |  'cl', c.cl))), 1, $m)""".stripMargin))
      .drop("__cents")
  }

  /** Nearest-centroid assignment (the k-means E-step / coarse
    * quantizer): adds `assigned` to `df`, map-only (see
    * [[centroidTopM]]). `cent` is a [[centroids]] frame (cl, centroid).
    */
  def assignNearestCentroid(df: DataFrame, vecCol: String,
      cent: DataFrame): DataFrame =
    centroidTopM(df, vecCol, cent, 1)
      .withColumn("assigned", expr("element_at(__ranked, 1).cl"))
      .drop("__ranked")

  /** Multi-iteration Lloyd k-means (VERDICT r8 "missing" #4 — the
    * converged companion of the single `cluster_kmeans_step`): runs
    * `iters` full E+M iterations from `initCent` and returns the
    * per-iteration convergence report — one row per (iter, cluster)
    * with the cluster's size and its centroid's L2 displacement from
    * the previous iteration.
    *
    * Scale shape (MLlib's own k-means loop, re-expressed on the
    * DataFrame API): the model state — k centroids × dims doubles —
    * lives on the DRIVER between iterations, exactly like MLlib
    * `KMeans` collects cluster centers each round; per iteration the
    * plan is scan → 1-row broadcast argmin assignment (map-only, zero
    * exchange — [[centroidTopM]]) → ONE combinable clusters×dims
    * groupBy → a k×dims collect. Driver state and per-iteration
    * shuffle payload are both O(k·dims), independent of corpus size;
    * the input's vector column is pinned once (scoped lazy
    * MEMORY_AND_DISK persist, released before returning) so
    * iterations re-read cached blocks instead of re-scanning parquet.
    *
    * Determinism: the M-step re-uses cluster_kmeans_step's exact-sum
    * recipe — components quantized to the 1e-6 grid BEFORE the sum
    * (integer partial agg, shuffle-order invariant), mean written
    * half-up at 6 dp; displacement is the double sqrt over those 6-dp
    * grid values, rounded half-up to 6 dp. Assignment inherits K8's
    * margin argument. Empty clusters carry their previous centroid
    * forward (n = 0, shift = 0) rather than collapsing k.
    */
  def kmeansReport(df: DataFrame, vecCol: String, initCent: DataFrame,
      iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pinned = df.select(col(vecCol).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def grid6(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    var cents: Seq[(Long, Array[java.math.BigDecimal])] =
      initCent.select(col("cl").cast("long"), col("centroid"))
        .collect() // model-state-sized: k centroid rows
        .map(r => r.getLong(0) -> r.getSeq[Double](1).map(grid6).toArray)
        .toSeq.sortBy(_._1)
    val report = Seq.newBuilder[(Int, Long, Long, java.math.BigDecimal)]
    // try/finally (ADVICE r9): an iteration's Spark action can throw
    // (Bench's flake path runs queries twice); without the finally the
    // MEMORY_AND_DISK pin of the full vector column leaks for the JVM
    // lifetime, invisible to releaseMaterialized (it is scoped here,
    // not in the reuse registry)
    try {
    for (it <- 1 to iters) {
      val centDf = cents
        .map { case (cl, a) => (cl, a.map(_.doubleValue()).toSeq) }
        .toDF("cl", "centroid")
      val upd = assignNearestCentroid(pinned, "__v", centDf)
        .select(col("assigned").cast("long").as("cl"),
          posexplode(col("__v")).as(Seq("p", "x")))
        .select(col("cl"), col("p"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT)").as("q"))
        .groupBy("cl", "p")
        .agg(count(lit(1)).as("n"), sum(col("q").cast(DecimalType(38, 0))).as("s"))
        .collect() // model-state-sized: k×dims rows, corpus-independent
        .map(r => (r.getLong(0), r.getInt(1),
          r.getLong(2), r.getDecimal(3).longValueExact()))
        .groupBy(_._1)
      val next = cents.map { case (cl, old) =>
        upd.get(cl) match {
          case Some(rows) =>
            val n = rows.head._3
            val arr = old.clone()
            rows.foreach { case (_, p, _, s) =>
              // exact-integer mean on the 1e-6 grid, 6-dp half-up —
              // bit-identical to cluster_kmeans_step's SQL cast chain
              arr(p) = grid6(s.toDouble / n.toDouble / 1e6)
            }
            (cl, n, arr)
          case None => (cl, 0L, old) // empty cluster: carry forward
        }
      }
      next.zip(cents).foreach { case ((cl, n, arr), (_, old)) =>
        val shift = math.sqrt(arr.zip(old).map { case (a, b) =>
          val d = a.subtract(b).doubleValue(); d * d
        }.sum)
        report += ((it, cl, n, grid6(shift)))
      }
      cents = next.map { case (cl, _, arr) => (cl, arr) }
    }
    } finally {
      // scoped pin: release OUR cache only (not the shared reuse
      // registry — a blanket releaseMaterialized here would drop other
      // operators' still-useful pinned frames as a side effect)
      pinned.unpersist()
    }
    report.result()
      .toDF("iter", "cluster", "n", "centroid_shift")
      .select(col("iter").cast("int").as("iter"), col("cluster"),
        col("n"), col("centroid_shift").cast(DecimalType(18, 6)).as("centroid_shift"))
  }

  /** IVF-style approximate top-k: corpus bucketed once by nearest
    * centroid; probes scan their `nprobe` nearest buckets only.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String, cent: DataFrame,
      probePredicate: Column, k: Int, nprobe: Int): DataFrame = {
    val bucketed = withNorm(centroidTopM(corpus, vecCol, cent, 1), vecCol)
      .select(col(idCol).as("c_id"), expr("element_at(__ranked, 1).cl").as("bucket"),
        col(vecCol).as("c"), col("__norm").as("nc"))
    val probes = withNorm(
        centroidTopM(corpus.filter(probePredicate), vecCol, cent, nprobe), vecCol)
      .select(col(idCol).as("q_id"),
        explode(expr("transform(__ranked, r -> r.cl)")).as("bucket"),
        col(vecCol).as("q"), col("__norm").as("nq"))
    ivfJoin(probes, bucketed, k)
  }

  /** Nearest-centroid bucket assignment of a corpus — the IVF coarse
    * quantization step, exposed on its own so an index can be GROWN:
    * appending a vector batch to an existing index is assigning ONLY
    * the batch against the frozen centroids (O(delta) work), never
    * re-assigning the corpus. Returns (c_id, c, nc, bucket).
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, payload: Seq[String] = Nil): DataFrame =
    // `payload` (round 13): scalar corpus columns carried INTO the
    // index — the filtered-ANN pattern where metadata predicates are
    // evaluated at the index scan itself (parquet row-group stats can
    // then skip), instead of a post-hoc id join back to the corpus.
    withNorm(centroidTopM(corpus, vecCol, cent, 1), vecCol)
      .select(Seq(col(idCol).as("c_id"), col(vecCol).as("c"),
        col("__norm").as("nc"), expr("element_at(__ranked, 1).cl").as("bucket")) ++
        payload.map(col): _*)

  /** The probe side of an IVF lookup: each query exploded to its
    * `nprobe` nearest buckets. Returns (q_id, bucket, q, nq).
    */
  def ivfProbes(probesDf: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, nprobe: Int): DataFrame =
    withNorm(centroidTopM(probesDf, vecCol, cent, nprobe), vecCol)
      .select(col(idCol).as("q_id"),
        explode(expr("transform(__ranked, r -> r.cl)")).as("bucket"),
        col(vecCol).as("q"), col("__norm").as("nq"))

  /** Persist the IVF "index": the corpus with nearest-centroid bucket
    * assignment, written as parquet PARTITIONED BY bucket. At scale the
    * directory layout is the inverted file — a probe batch then reads
    * only its nprobe buckets (partition pruning), nprobe/k of the data.
    */
  def ivfIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, path: String, payload: Seq[String] = Nil): Unit =
    ivfAssign(corpus, idCol, vecCol, cent, payload)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Approximate top-k against a persisted IVF index (ivfIndexBuild).
    * Probe bucket ids are collected (tiny: ≤ probes × nprobe values)
    * into an IN filter so the scan PRUNES index partitions instead of
    * reading the whole corpus. `candidatePredicate` (round 13 —
    * filtered ANN) PRE-filters on index payload columns at the SAME
    * scan: partition pruning cuts to nprobe buckets, the predicate
    * pushes into the parquet reader within them, and ranking sees only
    * qualifying candidates — so top-k is over the filtered set (the
    * post-filter alternative drops non-matching hits after ranking
    * and silently returns fewer than k rows).
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      probesDf: DataFrame, idCol: String, vecCol: String, cent: DataFrame,
      k: Int, nprobe: Int,
      candidatePredicate: Option[Column] = None): DataFrame = {
    val probes = ivfProbes(probesDf, idCol, vecCol, cent, nprobe)
    val wanted = probes.select("bucket").distinct()
      .collect().map(_.get(0)).toSeq // metadata-sized: <= distinct probe buckets (the DPP pattern)
    val scan = Parquet.read(spark, indexPath)
      .filter(col("bucket").isin(wanted: _*))
    val bucketed = candidatePredicate.map(scan.filter).getOrElse(scan)
    ivfJoin(probes, bucketed, k)
  }

  /** The probe×bucket ranking stage over an already-pruned bucketed
    * corpus frame — public so callers that prune by their own means
    * (e.g. commit-log manifest stats) reuse the exact ranking contract
    * (6-dp decimal cosine, id tie-break).
    */
  def ivfRank(probes: DataFrame, bucketed: DataFrame, k: Int): DataFrame =
    ivfJoin(probes, bucketed, k)

  /** Shared probe×bucket join + per-probe top-k (6-dp decimal rank,
    * id tie-break).
    */
  private def ivfJoin(probes: DataFrame, bucketed: DataFrame, k: Int): DataFrame = {
    val wq = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
    probes.join(bucketed, "bucket")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim", (expr("array_dot(q, c)") / (col("nq") * col("nc")))
        .cast(DecimalType(18, 6)))
      .withColumn("rn", row_number().over(wq).cast("bigint"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cos_sim", "rn")
  }

  /** PRODUCT-QUANTIZATION codebook training (ref: n/a, SURVEY §0; the
    * Jégou-Douze-Schmid PQ construction from the public literature):
    * split `vecCol` (dims = m·dsub) into `m` subspaces and train
    * `ksub` centroids per subspace — `iters` Lloyd rounds from a
    * deterministic hash-sliced init (code 0 of the init = the mean of
    * the vectors whose id hashes there, so the init needs no RNG and
    * replays bit-identically).
    *
    * Scale shape: the model state — m×ksub×dsub doubles (8·16·8 = 1 Ki
    * here) — lives on the driver like [[kmeansReport]]'s; per round
    * the plan is one broadcast-codebook join + a (id, sub) min-by
    * shuffle of corpus×m SUBVECTOR rows + one model-sized collect.
    * At 100 TB you train on a corpus SAMPLE (PQ codebooks converge on
    * ~10⁵–10⁶ vectors — standard practice) and [[pqEncode]], which is
    * the map-only full-corpus pass, against the frozen result.
    *
    * Determinism: the M-step reuses the kmeansReport recipe —
    * components quantized to the 1e-6 grid BEFORE the sum (integer
    * partial agg, shuffle-order invariant), mean taken on exact
    * integers, written half-up at 6 dp; assignment ties break to the
    * lowest code id. Empty codes carry their previous centroid.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sv = df.select(col(idCol).as("__id"),
        posexplode(expr(s"transform(sequence(0, ${m - 1}), " +
          s"s -> slice($vecCol, s * $dsub + 1, $dsub))"))
          .as(Seq("sub", "sv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def grid6(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // fold an assignment into the next codebook: exact-integer
    // per-coordinate means on the 1e-6 grid (m×ksub×dsub model rows)
    def mstep(assigned: DataFrame,
        prev: Option[Array[Array[Array[Double]]]]): Array[Array[Array[Double]]] = {
      val rows = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("p", "x")))
        .select(col("sub"), col("code"), col("p"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT)").as("q"))
        .groupBy("sub", "code", "p")
        .agg(count(lit(1)).as("n"), sum(col("q").cast(DecimalType(38, 0))).as("s"))
        .collect() // model-state-sized: m×ksub×dsub rows, corpus-independent
      val cb = prev.map(_.map(_.map(_.clone()).clone()).clone())
        .getOrElse(Array.fill(m, ksub, dsub)(0.0))
      rows.foreach { r =>
        val (s, c, p) = (r.getInt(0), r.getInt(1), r.getInt(2))
        val n = r.getLong(3)
        val sum = r.getDecimal(4).longValueExact()
        cb(s)(c)(p) = grid6(sum.toDouble / n.toDouble / 1e6)
      }
      cb
    }
    def cbDf(cb: Array[Array[Array[Double]]]): DataFrame =
      cb.zipWithIndex.flatMap { case (codes, s) =>
        codes.zipWithIndex.map { case (cent, j) => (s, j, cent.toSeq) }
      }.toSeq.toDF("sub", "code", "cent")
    try {
      var cb = mstep(sv.withColumn("code",
        expr(s"CAST(pmod(xxhash64(__id), $ksub) AS INT)")), None)
      for (_ <- 1 to iters) {
        val assigned = sv.join(broadcast(cbDf(cb)), "sub")
          .withColumn("dist",
            expr("aggregate(zip_with(sv, cent, " +
              "(a, b) -> CAST((a - b) * (a - b) AS DOUBLE)), " +
              "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"))
          .groupBy("__id", "sub")
          // lowest-code tie-break via the (dist, code) struct min;
          // sv is functionally determined by the group key
          .agg(min(struct(col("dist"), col("code"))).getField("code").as("code"),
            first(col("sv")).as("sv"))
        cb = mstep(assigned, Some(cb))
      }
      cb
    } finally sv.unpersist()
  }

  private def cbLiteral(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** PQ-ENCODE a corpus against a frozen codebook: one MAP-ONLY pass
    * (the codebook rides as a literal inside the expression — no join,
    * no shuffle, stays in whole-stage codegen) emitting per vector its
    * m nearest-centroid codes and true norm. The encoded index is the
    * PQ story: a 64-float vector (256 B) becomes m small codes + one
    * norm, so ANN scans read ~30× fewer bytes and every downstream
    * exchange carries scalars. Distances per subspace are computed
    * once into a table, then argmin'd with a lowest-code tie-break —
    * deterministic, no floating sum ever crosses a partition boundary.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    withNorm(df, vecCol)
      .withColumn("__cb", cbLiteral(cb))
      .select(col(idCol).as("c_id"),
        expr(
          s"""transform(
             |  transform(sequence(0, ${m - 1}), s ->
             |    transform(sequence(0, ${ksub - 1}), j ->
             |      aggregate(zip_with(slice($vecCol, s * $dsub + 1, $dsub),
             |          __cb[s][j],
             |          (a, b) -> CAST((a - b) * (a - b) AS DOUBLE)),
             |        CAST(0 AS DOUBLE), (acc, x) -> acc + x))),
             |  ds -> CAST(aggregate(sequence(1, ${ksub - 1}), 0,
             |    (best, j) -> IF(ds[j] < ds[best], j, best)) AS INT))
             |""".stripMargin.trim).as("codes"),
        col("__norm").as("nc"))
  }

  /** ASYMMETRIC-DISTANCE (ADC) top-k over a PQ-encoded index: each
    * probe precomputes its m×ksub lookup table of subspace dot
    * products (map-only, against the literal codebook), the encoded
    * index is scanned ONCE per probe batch summing m table lookups
    * per vector — never touching the original vectors — and only the
    * `shortlist` best candidates per probe are re-ranked EXACTLY
    * against the raw corpus (the sim_ivf 6-dp + id tie-break
    * contract), so the reported cosines are true cosines, approximate
    * only in which candidates were considered. The probe side
    * broadcasts (probes × lut is KiB-sized); the index side never
    * shuffles vectors — the ranking exchange carries (q_id, c_id,
    * score) scalars. At 100 TB: scan bytes ∝ the ~30×-smaller code
    * table, exact work ∝ probes × shortlist.
    */
  def pqTopK(probesDf: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cb: Array[Array[Array[Double]]], index: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val probes = withNorm(probesDf, vecCol)
      .withColumn("__cb", cbLiteral(cb))
      .withColumn("lut", expr(lutExpr(m, ksub, dsub, vecCol)))
      .select(col(idCol).as("q_id"), col(vecCol).as("q"),
        col("__norm").as("nq"), col("lut"))
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("c_id").asc)
    val cand = index
      .crossJoin(broadcast(probes.select(col("q_id"), col("nq"), col("lut"))))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("approx", adcExpr(m) / (col("nq") * col("nc")))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlist)
      .select("q_id", "c_id")
    exactRerank(cand, corpus, idCol, vecCol,
      probes.select(col("q_id"), col("q"), col("nq")), k)
  }

  /** The probe-side ADC lookup table: per probe an m×ksub table of
    * subspace dot products against the literal codebook (`__cb` must
    * be in scope) — map-only, KiB-sized per probe.
    */
  private def lutExpr(m: Int, ksub: Int, dsub: Int, vecCol: String): String =
    s"transform(sequence(0, ${m - 1}), s -> " +
      s"transform(sequence(0, ${ksub - 1}), j -> " +
      s"aggregate(zip_with(slice($vecCol, s * $dsub + 1, $dsub), " +
      s"__cb[s][j], (a, b) -> CAST(a * b AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, x) -> acc + x)))"

  /** ADC score: m lookup-table reads summed per candidate. */
  private def adcExpr(m: Int): Column =
    expr(s"aggregate(sequence(0, ${m - 1}), CAST(0 AS DOUBLE), " +
      "(acc, s) -> acc + lut[s][codes[s]])")

  /** EXACT re-rank of a (q_id, c_id) shortlist against the raw corpus
    * under the sim_topk contract (6-dp decimal cosine, id tie-break) —
    * shared tail of every shortlist-based ANN path.
    */
  private def exactRerank(cand: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, probeVecs: DataFrame, k: Int): DataFrame = {
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("c_id").asc)
    cand
      .join(corpus.select(col(idCol).as("c_id"), col(vecCol).as("c")), "c_id")
      .join(probeVecs, "q_id")
      .withColumn("cos_sim",
        (expr("array_dot(q, c)") /
          (col("nq") * expr("sqrt(array_dot(c, c))")))
          .cast(DecimalType(18, 6)))
      .withColumn("rn", row_number().over(wq).cast("bigint"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cos_sim", "rn")
  }

  /** IVF-PQ composite top-k — the production ANN layout (ref: n/a,
    * SURVEY §0; the Jégou-Douze-Schmid IVFADC construction from the
    * public literature): the coarse quantizer routes each probe to its
    * `nprobe` inverted lists (partition/manifest pruning at scale —
    * the index frame arrives already bucket-keyed), ADC scores ONLY
    * those lists' PQ codes (m table lookups per candidate, never a raw
    * vector), and the per-probe `shortlist` is re-ranked EXACTLY under
    * the sim_topk contract. The two reductions COMPOSE: scan bytes ∝
    * (nprobe / nlist) × the ~30×-smaller code table. With nprobe =
    * nlist the bucket join degenerates to pqTopK's full scan and the
    * result is IDENTICAL (spec-pinned) — the algebraic anchor that the
    * composition only prunes candidates, never re-scores them.
    */
  def ivfpqTopK(probesDf: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cent: DataFrame, cb: Array[Array[Array[Double]]],
      index: DataFrame, nprobe: Int, k: Int, shortlist: Int): DataFrame = {
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val probes = withNorm(centroidTopM(probesDf, vecCol, cent, nprobe), vecCol)
      .withColumn("__cb", cbLiteral(cb))
      .withColumn("lut", expr(lutExpr(m, ksub, dsub, vecCol)))
      .select(col(idCol).as("q_id"),
        explode(expr("transform(__ranked, r -> r.cl)")).as("bucket"),
        col("__norm").as("nq"), col("lut"))
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("c_id").asc)
    // bucket EQUI-join (each candidate lives in exactly one list, so a
    // probe meets a candidate at most once); probes×lut broadcasts
    val cand = index
      .join(broadcast(probes), "bucket")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("approx", adcExpr(m) / (col("nq") * col("nc")))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlist)
      .select("q_id", "c_id")
    val pside = withNorm(probesDf, vecCol)
      .select(col(idCol).as("q_id"), col(vecCol).as("q"),
        col("__norm").as("nq"))
    exactRerank(cand, corpus, idCol, vecCol, pside, k)
  }

  /** MERGE/upsert semantics over immutable columnar storage (the
    * copy-on-write lake pattern, pre-table-format): rows from `updates`
    * win on key collision, unmatched `base` rows survive, new keys
    * insert. One anti-join (the updates key set broadcasts when small)
    * + a union — the rewrite batch a parquet lake runs per merge.
    */
  def upsert(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(keyCol), Seq(keyCol), "left_anti"))

  /** Skew-resistant equi-join: the fact side is salted into `numSalts`
    * deterministic shards (hash of the whole row — splits a hot KEY's
    * rows even though the key itself is constant), the dim side is
    * replicated once per shard, and the join runs on (key, salt). A
    * single hot key's rows land in `numSalts` parallel tasks instead of
    * one straggler. Result set is identical to the plain equi-join
    * (each fact row meets each matching dim row exactly once — at its
    * own salt). Use when the dim side is too big to broadcast and the
    * fact key is skewed; AQE's skew-join split is the automatic cousin,
    * this is the explicit, partitioning-stable form.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, numSalts: Int = 16): DataFrame = {
    val sf = fact.withColumn("__salt",
      pmod(hash(fact.columns.map(col).toIndexedSeq: _*), lit(numSalts)))
    val sd = dim.withColumn("__salt",
      explode(expr(s"sequence(0, ${numSalts - 1})")))
    sf.join(sd, sf(factKey) === sd(dimKey) && sf("__salt") === sd("__salt"))
      .drop("__salt")
  }

  /** Gap-based sessionization: assigns each row a per-key session
    * index (1-based, in (`tsMicrosCol`, `idCol`) order) that increments
    * whenever the gap to the previous row exceeds `gapMicros`. One
    * shuffle on `keyCol`; two window passes over the same partitioning
    * (Catalyst reuses the exchange). The classic events→sessions
    * operator of a behavioral / training-data pipeline.
    */
  def sessionize(df: DataFrame, keyCol: String, tsMicrosCol: String,
      idCol: String, gapMicros: Long): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsMicrosCol).asc, col(idCol).asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(col(tsMicrosCol), 1).over(ord))
      .withColumn("__new_sess",
        when(col("__prev").isNull || col(tsMicrosCol) - col("__prev") > gapMicros, 1)
          .otherwise(0))
      .withColumn("sess", sum(col("__new_sess")).over(run).cast("bigint"))
      .drop("__prev", "__new_sess")
  }

  /** Deterministic stratified sample: exactly min(n, group size) rows
    * per `stratumCol` value, chosen by md5 of the id — a stable,
    * engine-portable pseudo-random order (unlike xxhash64/rand, md5 is
    * identical everywhere). One shuffle on the stratum key; the window
    * top-n is WindowGroupLimit-optimized (no full sort of each group).
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= n)
  }

  /** Lineage-truncation strategy for the iterative graph loops:
    * executor-local blocks (`localCheckpoint`) by default — fast, but
    * lost with an executor — or the reliable checkpoint path when a
    * durable `dir` (HDFS/object store on a real cluster) is supplied.
    * Setting the SparkContext checkpoint dir is idempotent per value.
    */
  private def checkpointer(df: DataFrame, dir: Option[String]): (DataFrame, Boolean) => DataFrame = {
    // StatsReset: checkpoints PRESERVE origin statistics, and iterative
    // loops compound them — size-only join estimation multiplies child
    // sizeInBytes, so round r's estimate is a product of round r-1's
    // and the BigInt bit-length grows geometrically; by round ~12 of a
    // two-join round the driver burns minutes in BigInteger.multiply
    // on 10⁸-bit numbers (round-13 finding). Stripping the stats at
    // each round boundary keeps them leaf-default-sized; AQE supplies
    // real sizes at execution time.
    import org.apache.spark.sql.graftshim.StatsReset
    dir match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(d)) sc.setCheckpointDir(d)
        (f, eager) => StatsReset(f.checkpoint(eager))
      case None =>
        (f, eager) => StatsReset(f.localCheckpoint(eager))
    }
  }

  /** Reuse-materialization strategy for a subtree that occurs several
    * times in ONE action's plan (LSH signature tables, symmetrized
    * edge lists): lazy `persist(MEMORY_AND_DISK)` by default — the
    * first stage that needs the subtree computes it once into the
    * cache and every other occurrence reads the cached blocks, with
    * NO extra materialization job. Round-6 used an eager
    * `localCheckpoint` here and paid a separate up-front job + block
    * write per call, which at bench scale cost more than the
    * recompute it saved (dedup_minhash 3.0 → 7.4 s, VERDICT r6
    * Performance) — materializing lazily inside the consuming action
    * keeps the dedupe without the second job. With a durable `dir`
    * the subtree still goes through the eager reliable checkpoint
    * (recoverable after executor loss), the long-cluster-job
    * contract. Distinct from [[checkpointer]]: persist does NOT
    * truncate lineage, so iterative loops whose plan GROWS per round
    * must keep checkpointing — this helper is only for bounded-depth
    * fan-out reuse.
    *
    * Cache lifetime: each lazy persist is recorded in a registry and
    * pinned until [[releaseMaterialized]] runs — Spark's CacheManager
    * would otherwise hold the blocks for the SparkSession's lifetime,
    * accumulating memory/disk across calls AND letting a later query
    * whose subtree canonically matches a cached plan silently read
    * stale data if the underlying source file was rewritten. Callers
    * that own the action (Bench, Verify, application drivers) call
    * [[releaseMaterialized]] after each consuming action.
    */
  private def reuseMaterializer(df: DataFrame, dir: Option[String]): DataFrame => DataFrame =
    dir match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(d)) sc.setCheckpointDir(d)
        f => f.checkpoint(true)
      case None =>
        f => {
          val p = f.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          materialized.add(p)
          p
        }
    }

  // Registry of frames pinned by [[reuseMaterializer]]'s lazy-cache
  // path (identity set: the same frame registered twice unpersists
  // once). ConcurrentHashMap-backed — operators can build plans from
  // multiple threads.
  private val materialized: java.util.Set[DataFrame] =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Materialize a frame that a composed pipeline references more than
    * once (round 17 — guide §5: cache only what is reused AND expensive
    * to recompute): the public binding of the internal reuse
    * materializer the pair tiers already use. Lazy MEMORY_AND_DISK —
    * the first consuming action computes and caches, later plan
    * occurrences re-read blocks instead of re-executing the subtree
    * (Spark's canonical-exchange reuse does NOT fire across separate
    * aggregate/join subtrees of one query). Registered for
    * [[releaseMaterialized]] like every other pinned frame, so Verify's
    * per-dump and Bench's per-entry release bound the storage.
    */
  def materializeOnce(df: DataFrame): DataFrame =
    reuseMaterializer(df, None)(df)

  /** Unpersist every DataFrame the reuse materializer has pinned since
    * the last release, returning how many were dropped. Call when the
    * pinned blocks can no longer be trusted or afforded: Verify calls
    * it per dump (the correctness gate stays self-contained); Bench
    * calls it after every entry, outside the timed region, so each
    * entry starts from the empty cache an isolated run sees;
    * long-lived application drivers call it on their own cadence to
    * bound storage.
    */
  def releaseMaterialized(blocking: Boolean = false): Int = {
    var n = 0
    val it = materialized.iterator()
    while (it.hasNext) {
      it.next().unpersist(blocking)
      it.remove()
      n += 1
    }
    n
  }

  /** Connected components by min-label propagation WITH pointer
    * jumping — the dedup-CLUSTER step that turns near-dup pairs into
    * groups (pick one survivor per component). Labels start as each
    * vertex id; every round each vertex takes the min of its own and
    * its neighbors' labels, then jumps through its own label
    * (label(i) := label(label(i))), until a fixpoint — O(log diameter)
    * rounds, bounded per pass by `maxIter`, with an iterated
    * distributed contraction finishing any graph whose diameter
    * outruns the cap (round 13 — no hard-failure cliff, no manual
    * maxIter rescue at any scale).
    *
    * Scale: each round is two keyed joins + one keyed agg (shuffle on
    * vertex id); the per-round driver `count()` is the convergence
    * check every Pregel-style loop needs, not a data collect.
    *
    * Fault tolerance: by default rounds truncate lineage with
    * `localCheckpoint` (executor-local blocks — fast, but an executor
    * loss mid-job kills the computation). Pass `checkpointDir` (HDFS/
    * object-store path on a real cluster) to write round snapshots
    * through the reliable checkpoint path instead, the standard
    * long-iterative-job practice.
    */
  def connectedComponents(vertices: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      residualCap: Int = 2000000): DataFrame = {
    val ckpt = checkpointer(vertices, checkpointDir)
    // localCheckpoint (eager) rather than persist: the loop below
    // re-embeds this frame's LOGICAL PLAN into every round's join, so
    // a deep upstream lineage (e.g. edges fresh out of a blocked
    // similarity join) grows the per-action plan string exponentially
    // and can OOM the DRIVER building listener explain strings long
    // before any executor struggles. Checkpointing truncates the plan
    // to a scan of the materialized blocks; rounds stay O(1)-sized no
    // matter what produced the edges. (Tradeoff vs persist: blocks
    // are not recomputable on executor loss — the standard iterative-
    // graph practice; use a reliable checkpoint dir for long jobs.)
    // Symmetrize in ONE pass over the edge pipeline (explode of the
    // two orientations), not a self-union: a union re-embeds the edge
    // plan twice, and when the edges arrive straight out of an
    // expensive build (the blocked-Jaccard join here) the
    // materializing checkpoint would EXECUTE that build twice unless
    // AQE's exchange reuse happens to dedupe it — measured round 6 as
    // the bulk of dedup_cluster's r5 bench regression.
    val sym = ckpt(edges.select(explode(array(
        struct(col(aCol).as("__src"), col(bCol).as("__dst")),
        struct(col(bCol).as("__src"), col(aCol).as("__dst")))).as("__e"))
      .select(col("__e.__src").as("__src"), col("__e.__dst").as("__dst")),
      true)
    // MIN-LABEL + POINTER-JUMPING rounds (round 13 — VERDICT r12 #3).
    // Each round: (1) hash-min — every vertex takes the min of its own
    // and its neighbors' labels (one keyed join + keyed agg); (2) a
    // POINTER JUMP — label(i) := label(label(i)) via one self-join
    // (labels are vertex ids and monotonically shrink toward the
    // component min, so the indirection is always defined and always
    // ≤ the current label). Hash-min alone needs diameter rounds (a
    // 10⁷-node path = 10⁷ rounds); the jump compounds the reachable
    // shift geometrically (s → 2s+1 per round on a path), so the
    // fixpoint lands in O(log diameter) rounds — ~24 for 10⁷. The
    // per-round cost is one extra shuffle join, repaid exponentially
    // in round count on deep graphs and negligible on the shallow
    // dup-cluster graphs that dominate in practice.
    //
    // Per-round localCheckpoint, NOT persist: a persisted chain keeps
    // the whole round-recursive plan alive, and InMemoryRelation
    // rendering re-expands every previous round inside each action's
    // listener explain string — ~round 15 of a long-diameter graph
    // that string passes 2 GB and OOMs the driver. Checkpointing
    // resets each round to a block scan: O(1) plan, any diameter.
    // The convergence flag rides along in the same projection, so the
    // check is a filter-count over the checkpointed blocks, not a
    // second join; lazy checkpoints — the convergence count is the
    // action that materializes both steps' blocks, one job per round.
    def propagate(seed: DataFrame, edgesSym: DataFrame): (DataFrame, Boolean) = {
      var labels = seed
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIter) {
        val nbrMin = edgesSym.join(labels, col("__dst") === col("id"))
          .groupBy("__src").agg(min(col("cluster")).as("__nlbl"))
        val minLbl = least(col("cluster"), coalesce(col("__nlbl"), col("cluster")))
        val step = ckpt(labels.join(nbrMin, labels("id") === nbrMin("__src"), "left")
          .select(labels("id"), col("cluster").as("__old"), minLbl.as("__c1")),
          false)
        val ptr = step.select(col("id").as("__pid"), col("__c1").as("__pc"))
        val jumped = least(col("__c1"), coalesce(col("__pc"), col("__c1")))
        val next = ckpt(step.join(ptr, step("__c1") === col("__pid"), "left")
          .select(step("id"), jumped.as("cluster"),
            (jumped =!= col("__old")).as("__chg")),
          false)
        changed = next.filter(col("__chg")).count()
        labels = next.select("id", "cluster")
        i += 1
      }
      (labels, changed == 0L)
    }
    var (labels, converged) = propagate(
      vertices.select(col(idCol).as("id"), col(idCol).as("cluster")), sym)
    // ITERATED FINISH (round 13 — VERDICT r12 #3; removes the
    // round-11/12 hard-failure cliff). If the round cap hit before the
    // fixpoint, derive the residual: the distinct inter-label pairs
    // still crossing components. A residual that fits the driver cap
    // (2e6 pairs, ~32 MB of longs) finishes with union-find
    // (min-label, path-compressed — exactly the fixpoint more rounds
    // would reach), broadcast back. A residual ABOVE the cap — which
    // round 11/12 REFUSED loudly — now CONTINUES the jumped
    // propagation distributedly; because the jump compounds the
    // already-earned reach (~×2^maxIter per pass), the loop bound
    // below is unreachable by construction (64 passes with even
    // maxIter=1 reach 2^64 > any long-keyed diameter) and exists only
    // to turn a non-deterministic edge frame (labels disagreeing
    // across actions) into a loud failure instead of an endless loop.
    // Same exactness, no cliff, no manual maxIter rescue.
    var meta = 0
    while (!converged) {
      meta += 1
      require(meta <= 64,
        "connectedComponents: 64 continuation passes did not converge " +
          "— the edge frame is yielding different rows across " +
          "actions (non-deterministic input); materialize it first")
      val resolved = ckpt(labels, true)
      val half = sym
        .join(resolved, col("__src") === col("id"))
        .select(col("__dst"), col("cluster").as("__ca"))
      val cedges = half
        .join(resolved, col("__dst") === col("id"))
        .select(col("__ca").as("ca"), col("cluster").as("cb"))
        .filter(col("ca") =!= col("cb"))
        .distinct()
      // ONE action (ADVICE r11): limit(cap+1) bounds the collect; the
      // length check routes an over-cap residual to the distributed
      // path. The rows decode straight into two primitive long arrays
      // (never a boxed-pair array), and the union-find runs on a
      // LongMap (open-addressed primitive keys).
      val rows = cedges.limit(residualCap + 1)
        .collect() // metadata-sized: residual inter-LABEL pairs, length-bounded at 2e6+1; over-cap routes to the distributed contraction below
      if (rows.isEmpty) {
        // the cap round itself completed the labeling — changed>0 only
        // because the final round still moved labels
        labels = resolved.select("id", "cluster")
        converged = true
      } else if (rows.length <= residualCap) {
        val ea = new Array[Long](rows.length)
        val eb = new Array[Long](rows.length)
        var ri = 0
        while (ri < rows.length) {
          ea(ri) = rows(ri).getLong(0); eb(ri) = rows(ri).getLong(1); ri += 1
        }
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        ri = 0
        while (ri < ea.length) {
          val (ra, rb) = (find(ea(ri)), find(eb(ri)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          ri += 1
        }
        val closure = parent.keys.toSeq.map(l => (l, find(l)))
        val spark = vertices.sparkSession
        import spark.implicits._
        val closDf = closure.toDF("__lbl", "__final")
        labels = resolved.join(broadcast(closDf),
            resolved("cluster") === col("__lbl"), "left")
          .select(resolved("id"),
            coalesce(col("__final"), resolved("cluster")).as("cluster"))
        converged = true
      } else {
        // over-cap residual: CONTINUE the jumped propagation on the
        // full graph, seeded with the labels earned so far. The
        // pointer jump composes the existing shift multiplicatively —
        // with reach s at the seed, one round reaches 2s+2, so a pass
        // of maxIter rounds multiplies reach by ~2^maxIter and total
        // convergence is log(diameter) ROUNDS, not passes. (A pure
        // label-graph contraction is NOT used here: on a path-shaped
        // residual min-label merges only the head segment — the label
        // graph is the same path again and a contraction pass adds a
        // constant, never converging. Continuation compounds instead;
        // measured on a 200k path this is the difference between 4
        // passes and never.)
        val (lbl2, conv2) = propagate(resolved.select("id", "cluster"), sym)
        labels = lbl2
        converged = conv2
      }
    }
    labels
    // Checkpoint blocks (sym + superseded rounds) are label-frame-sized
    // and freed by the ContextCleaner as references drop; explicit
    // unpersist() is a CacheManager no-op for checkpointed data.
  }

  /** Fixed-iteration PageRank over an undirected edge list. All
    * arithmetic is DECIMAL: exact sums make every iteration's result
    * independent of shuffle order and partition count (double
    * contributions would drift by summation order at cluster scale and
    * break the engine's determinism gate). Damping 0.85, rank seeded
    * at 1; isolated vertices hold rank 0.15 (no dangling
    * redistribution — edges here are symmetric, so every connected
    * vertex has out-degree ≥ 1).
    */
  /** Power-iteration PageRank in INTEGER fixed point: ranks live in
    * units of 1e-10 as longs, contributions are floor divisions
    * (`DIV`), and the damping step is `(85 × in) DIV 100` — every
    * operation is exact integer arithmetic that any engine reproduces
    * bit-for-bit (DuckDB: `//` on BIGINT), which is what lets the
    * iterative operator carry a full cross-engine oracle (unrolled
    * CTEs) instead of an exempt self-test. Round-5 change from the
    * earlier DECIMAL(28,10) formulation, whose per-iteration HALF_UP
    * casts no other engine replicates.
    *
    * Long range: the damping step multiplies 85 × __in in non-ANSI
    * long arithmetic, which WRAPS SILENTLY past 2^63 — so the binding
    * constraint is any vertex's incoming mass staying under
    * 2^63 / 85 ≈ 1.1e17 units. Uniform graphs (in-mass ≈ 1e10/vertex)
    * are safe to ~10^7 vertices even if a hub drew every vertex's
    * full rank; real hub concentration determines the true bound.
    * Beyond that, scale the rank unit down (the algebra is
    * unchanged) — e.g. units of 1e-6 buy four orders of magnitude.
    *
    * Fault tolerance: same `checkpointDir` contract as
    * [[connectedComponents]] — cached executor-local blocks by
    * default, reliable snapshots when a dir is given. Truncation is
    * PERIODIC (every 8 iterations, round-7 change): short analytics
    * runs pay no truncation jobs, long cluster runs keep the plan
    * bounded.
    */
  def pageRank(vertices: DataFrame, idCol: String, edges: DataFrame,
      aCol: String, bCol: String, iters: Int = 5,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = checkpointer(vertices, checkpointDir)
    val mat = reuseMaterializer(vertices, checkpointDir)
    // Single-pass symmetrization (see connectedComponents): one
    // execution of the upstream edge build, whatever produced it —
    // cached lazily ([[reuseMaterializer]]): every iteration re-reads
    // the cached edge/degree blocks; no up-front materialization job.
    val sym = mat(edges.select(explode(array(
        struct(col(aCol).as("__src"), col(bCol).as("__dst")),
        struct(col(bCol).as("__src"), col(aCol).as("__dst")))).as("__e"))
      .select(col("__e.__src").as("__src"), col("__e.__dst").as("__dst")))
    val deg = mat(sym.groupBy("__src").agg(count(lit(1)).as("__deg")))
    var ranks = vertices.select(col(idCol).as("id"),
      lit(10000000000L).as("rank"))
    for (i <- 0 until iters) {
      val contrib = sym.join(ranks, col("__src") === col("id"))
        .join(deg, Seq("__src"))
        .select(col("__dst"), expr("rank DIV __deg").as("__c"))
        .groupBy("__dst").agg(sum(col("__c")).as("__in"))
      val next = ranks.select("id")
        .join(contrib, col("id") === col("__dst"), "left")
        .select(col("id"),
          (lit(1500000000L)
            + expr("(85 * coalesce(__in, 0L)) DIV 100")).as("rank"))
      // PERIODIC plan truncation (round-7 change): the per-round plan
      // grows linearly (each iteration nests the previous), which only
      // threatens the driver past tens of iterations — but round 6's
      // EVERY-iteration eager localCheckpoint paid one extra job per
      // iteration and doubled bench wall-clock (graph_pagerank
      // 2.7 → 5.9 s, VERDICT r6). Truncate every 8 rounds instead:
      // a 5-iteration analytics run pays zero truncation jobs, a
      // 100-iteration cluster job still keeps its plan O(8 rounds)
      // deep. With a durable `checkpointDir` every truncation goes
      // through the reliable path (executor-loss-recoverable).
      ranks = if ((i + 1) % 8 == 0 && i + 1 < iters) ckpt(next, true) else next
    }
    ranks
  }

  /** As-of enrichment: for every row, the id of the latest row in the
    * same `partitionCol` whose marker predicate held, at-or-before its
    * (`tsCol`, `idCol`) position. One shuffle, no self-join.
    */
  def asofLastMatch(df: DataFrame, partitionCol: String, tsCol: String,
      idCol: String, marker: Column, outCol: String): DataFrame = {
    val w = Window.partitionBy(col(partitionCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__marker", when(marker, col(idCol)))
      .withColumn(outCol, last(col("__marker"), ignoreNulls = true).over(w))
      .drop("__marker")
  }

  /** As-of enrichment with a staleness bound: like [[asofLastMatch]],
    * but a marker older than `toleranceMicros` (in `(tsCol)` event
    * time) is treated as no match — pandas' `merge_asof(tolerance=)`
    * semantics. `gapCol` carries the age of the match in microseconds
    * (NULL when unmatched). Same single shuffle, no self-join.
    */
  def asofLastMatchWithin(df: DataFrame, partitionCol: String, tsCol: String,
      idCol: String, marker: Column, outCol: String, gapCol: String,
      toleranceMicros: Long): DataFrame = {
    val w = Window.partitionBy(col(partitionCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tu = expr(s"unix_micros(cast($tsCol as timestamp))")
    val fresh = col("__tu") - col("__mts") <= toleranceMicros
    df.withColumn("__tu", tu)
      .withColumn("__marker", when(marker, col(idCol)))
      .withColumn("__mt", when(marker, tu))
      .withColumn("__mid", last(col("__marker"), ignoreNulls = true).over(w))
      .withColumn("__mts", last(col("__mt"), ignoreNulls = true).over(w))
      .withColumn(outCol, when(fresh, col("__mid")))
      .withColumn(gapCol, when(fresh, col("__tu") - col("__mts")))
      .drop("__tu", "__marker", "__mt", "__mid", "__mts")
  }

  /** FORWARD as-of: `outCol` = id of the nearest row AT OR AFTER each
    * row (in `(tsCol, idCol)` order, same partition) satisfying
    * `marker` — the mirror of [[asofLastMatch]] (e.g. "next error
    * after this purchase"). Same single-shuffle window formulation,
    * descending order: "last marker seen so far" walking backwards IS
    * the next marker forwards.
    */
  def asofNextMatch(df: DataFrame, partitionCol: String, tsCol: String,
      idCol: String, marker: Column, outCol: String): DataFrame = {
    val w = Window.partitionBy(col(partitionCol))
      .orderBy(col(tsCol).desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__marker", when(marker, col(idCol)))
      .withColumn(outCol, last(col("__marker"), ignoreNulls = true).over(w))
      .drop("__marker")
  }

  /** Time-bounded N-step funnel (ClickHouse windowFunnel shape): for
    * every key that produced `steps.head`, the first-completion time
    * of each step, where step i+1 must occur strictly after step i's
    * first completion and within `windowMicros` of it. Returns one
    * row per key reaching step 1, with columns `t1..tN` (NULL once
    * the funnel breaks) and `depth` = steps reached.
    *
    * Scale shape: each step is a filter → per-key min aggregation
    * chained by key equi-joins — every stage rides the key
    * partitioning; no per-key event arrays are ever materialized.
    */
  def windowFunnel(events: DataFrame, keyCol: String, typeCol: String,
      tsMicrosCol: String, steps: Seq[String], windowMicros: Long): DataFrame = {
    require(steps.nonEmpty, "windowFunnel needs at least one step")
    val ev = events.select(col(keyCol), col(typeCol), col(tsMicrosCol))
    val first = ev.filter(col(typeCol) === steps.head)
      .groupBy(keyCol).agg(min(col(tsMicrosCol)).as("t1"))
    val reached = steps.drop(1).zipWithIndex.scanLeft(first) {
      case (prev, (st, i)) =>
        val pcol = s"t${i + 1}"
        ev.filter(col(typeCol) === st)
          .join(prev.select(col(keyCol), col(pcol)), keyCol)
          .filter(col(tsMicrosCol) > col(pcol) &&
            col(tsMicrosCol) <= col(pcol) + windowMicros)
          .groupBy(keyCol).agg(min(col(tsMicrosCol)).as(s"t${i + 2}"))
    }
    val all = reached.tail.foldLeft(reached.head) {
      (acc, step) => acc.join(step, Seq(keyCol), "left")
    }
    val depth = (2 to steps.length).foldLeft(lit(1L)) { (acc, i) =>
      acc + when(col(s"t$i").isNotNull, 1L).otherwise(0L)
    }
    all.withColumn("depth", depth)
  }

  /** Exact rolling median over a BOUNDED trailing row frame —
    * discrete lower-middle semantics (element (n+1) DIV 2 of the
    * sorted frame; no interpolation arithmetic to drift). Adds
    * `nOut` (frame size) and `medOut`. Per-row state is O(frame),
    * never O(partition).
    */
  def rollingMedian(df: DataFrame, partCol: String, orderCols: Seq[Column],
      valCol: String, precedingRows: Int, nOut: String, medOut: String): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(orderCols: _*)
      .rowsBetween(-precedingRows.toLong, 0)
    df.withColumn("__arr", collect_list(col(valCol)).over(w))
      .withColumn(nOut, size(col("__arr")).cast("bigint"))
      .withColumn(medOut,
        expr("element_at(array_sort(__arr), CAST((size(__arr) + 1) DIV 2 AS INT))"))
      .drop("__arr")
  }

  /** Longest run of strictly increasing `valCol` per key, plus streak
    * count and total up-step count. Condition islands: lag + running
    * break-count share one key exchange; islands collapse via partial
    * aggregation before the island-count-sized shuffle.
    */
  def increasingStreaks(df: DataFrame, keyCol: String,
      orderCols: Seq[Column], valCol: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__up", col(valCol) > lag(col(valCol), 1).over(ord))
      .withColumn("__brk", when(coalesce(col("__up"), lit(false)), 0L).otherwise(1L))
      .withColumn("__grp", sum(col("__brk")).over(run))
      .groupBy(col(keyCol), col("__grp"))
      .agg(sum(when(col("__up"), 1L).otherwise(0L)).as("__len"))
      .groupBy(keyCol)
      .agg(max(col("__len")).as("max_streak"),
        sum(when(col("__len") > 0, 1L).otherwise(0L)).as("n_streaks"),
        sum(col("__len")).as("n_up"))
  }

  /** Deterministic banded-MinHash near-duplicate CANDIDATE pairs:
    * word-3-gram shingles → `bands × rowsPerBand` min-hashes (min of
    * md5 over seed-prefixed shingles — lexicographic min of hex
    * strings, engine-independent) → band signatures → equi-join on
    * (band, signature), `a_id < b_id`, distinct.
    *
    * Unlike the ML MinHashLSH tier (dedup_near), every step is a
    * deterministic SQL expression, so the full pipeline is
    * DuckDB-oracle-checkable. Scale shape: one combinable shuffle to
    * the per-doc signature row (min() collapses map-side), a map-side
    * band fanout of |bands| rows per doc, and one hash join on the
    * band signature — never an all-pairs comparison.
    *
    * Bucket-width guard (round 6): a band bucket holding B docs emits
    * B²/2 candidate pairs, and an exact-duplicate FLOOD (the classic
    * crawl pathology — one boilerplate page mirrored millions of
    * times) puts all its docs in the same bucket in EVERY band, a
    * within-key quadratic no AQE split can fix. Buckets wider than
    * `maxBucket` docs are therefore dropped whole — the standard
    * production-LSH cap. Contract: a bucket that wide is an
    * exact-dup flood (or hash-degenerate junk) and belongs to the
    * [[exactDedup]] tier, which handles it in one combinable
    * group-by; genuine NEAR-dup buckets stay far below the cap. The
    * guard is one combinable count + equi-join, oracle-expressible.
    */
  /** The per-document banded min-md5 signature rows
    * (`idCol`, `__band`, `__sig`) shared by [[minhashBandPairs]] and
    * the incremental index build/probe pair — ONE signature algebra,
    * so an index built today collides identically with a delta
    * signed tomorrow. ceil(bands·rowsPerBand/4) md5s per shingle,
    * split into 8-hex-char (32-bit) sub-hashes — measured 8 separate
    * md5s at 3.1 s for sf0.1's shingle volume vs ~2 s split; the min
    * of a 32-bit sub-hash is the same banding statistic, and the
    * lexicographic min stays engine-portable.
    */
  private def bandSignatures(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val nh = bands * rowsPerBand
    val sh = df.select(col(idCol), explode(expr(
      s"array_distinct(transform(sequence(1, greatest(size(split($textCol, ' ')) - 2, 1)), " +
        s"i -> concat_ws(' ', slice(split($textCol, ' '), i, 3))))")).as("__s"))
    val aggs = (0 until nh).map { k =>
      val m = md5(concat(lit(s"${k / 4}:"), col("__s")))
      min(substring(m, (k % 4) * 8 + 1, 8)).as(s"__h$k")
    }
    val mh = sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    // ONE aggregation + a band-struct explode, NOT a 4-way union of
    // per-band selects: under a union, column pruning specializes
    // each branch to its 2 sub-hashes and the signature aggregate
    // (shingle explode + md5s — the dominant cost) re-executes per
    // band (4 scans, seen in the round-7 PlanDump audit); the
    // explode keeps it one scan, one aggregate, map-side fanout.
    val bandStructs = array((0 until bands).map { b =>
      val sig = concat((0 until rowsPerBand).map(r => col(s"__h${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("__band"), sig.as("__sig"))
    }: _*)
    mh.select(col(idCol), explode(bandStructs).as("__e"))
      .select(col(idCol), col("__e.__band").as("__band"), col("__e.__sig").as("__sig"))
  }

  def minhashBandPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, maxBucket: Int = 4096,
      checkpointDir: Option[String] = None): DataFrame = {
    val mat = reuseMaterializer(df, checkpointDir)
    // The signature table feeds the bucket-count guard AND both sides
    // of the candidate self-join — four plan occurrences whose
    // exchanges are not canonically equal (different aliasing), so
    // nothing short of materialization dedupes them: without it the
    // md5 signature aggregation (the dominant cost) executes 4×.
    // Materialized ONCE into docs × bands short rows via
    // [[reuseMaterializer]] — lazy MEMORY_AND_DISK cache by default
    // (computed inside the consuming action, no separate job — the
    // round-6 eager localCheckpoint here cost a 2.5× bench
    // regression, VERDICT r6), reliable checkpoint files under
    // `checkpointDir`, same fault-tolerance contract as
    // connectedComponents.
    val bandRows = mat(bandSignatures(df, idCol, textCol, bands, rowsPerBand))
    val kept = bandRows.join(
      bandRows.groupBy("__band", "__sig").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") <= maxBucket).drop("__bn"),
      Seq("__band", "__sig"))
    kept.select(col(idCol).as("a_id"), col("__band"), col("__sig"))
      .join(kept.select(col(idCol).as("b_id"), col("__band"), col("__sig")),
        Seq("__band", "__sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Persist a corpus's banded-MinHash signature index — the build
    * half of INCREMENTAL near-dup (`dedup_incremental`): a continuous
    * crawl signs each new batch against yesterday's index instead of
    * re-scanning the accumulated corpus. Stored as
    * (`idCol`, `__sig`) parquet partitioned by `__band` (the probe
    * join's key prefix); the signature algebra is [[bandSignatures]],
    * shared with [[minhashBandPairs]], so index and delta collide
    * identically. Index size is docs × bands short rows — at 100 TB
    * of text this is the classic metadata-sized sidecar (~1% of
    * corpus bytes), and the build is one combinable min-aggregation
    * over the corpus, run once.
    */
  def minhashIndexBuild(corpus: DataFrame, idCol: String, textCol: String,
      path: String, bands: Int = 4, rowsPerBand: Int = 2): Unit =
    bandSignatures(corpus, idCol, textCol, bands, rowsPerBand)
      .write.mode("overwrite").partitionBy("__band").parquet(path)

  /** Probe half of incremental near-dup: candidate pairs of a DELTA
    * batch against the indexed corpus AND within the delta itself.
    * Output rows are (`a_id` ∈ delta, `b_id`) with `b_id` either an
    * indexed doc (every such pair reported) or a delta doc (reported
    * once, `b_id` < `a_id`) — i.e. exactly the NEW pairs the batch
    * introduces; index-index pairs were reported when their batches
    * arrived.
    *
    * Scale shape: signs only the delta (one combinable agg over the
    * batch), joins on (band, sig) against the band-partitioned index
    * — a keyed hash join whose index side prunes to colliding
    * buckets, never a corpus re-scan. The `maxBucket` flood guard is
    * applied over the COMBINED (index ∪ delta) bucket widths, so a
    * boilerplate flood split across batches is still caught exactly
    * as [[minhashBandPairs]] would catch it in one shot.
    * Deterministic SQL throughout → full DuckDB oracle.
    */
  def minhashIndexProbe(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, delta: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, maxBucket: Int = 4096): DataFrame = {
    val mat = reuseMaterializer(delta, None)
    val deltaSigs = mat(bandSignatures(delta, idCol, textCol, bands, rowsPerBand)
      .withColumn("__delta", lit(true)))
    val indexSigs = Parquet.read(spark, indexPath)
      .select(col(idCol), col("__band"), col("__sig"), lit(false).as("__delta"))
    val all = mat(indexSigs.unionByName(deltaSigs))
    val kept = all.join(
      all.groupBy("__band", "__sig").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") <= maxBucket).drop("__bn"),
      Seq("__band", "__sig"))
    deltaSigs.select(col(idCol).as("a_id"), col("__band"), col("__sig"))
      .join(kept.select(col(idCol).as("b_id"), col("__band"), col("__sig"),
        col("__delta").as("__b_delta")), Seq("__band", "__sig"))
      // delta-index: all pairs; delta-delta: once, oriented b < a
      .filter(col("a_id") =!= col("b_id") &&
        (!col("__b_delta") || col("b_id") < col("a_id")))
      .select("a_id", "b_id").distinct()
  }

  /** Top-k rows per group through the custom physical operator
    * [[graft.plans.TopKPerGroupExec]] (SURVEY §4 tier (c)): bounded
    * per-group heaps map-side AND reduce-side around ONE hash
    * exchange — never a full window sort, shuffle payload ≤
    * k × groups-per-partition rows. Schema is unchanged (no rank
    * column). `orderSpec` is (column, descending?) pairs and should
    * be total per group (add a unique tie-break column) for
    * deterministic output, exactly as with `row_number`.
    *
    * Registers [[graft.plans.TopKPerGroupStrategy]] on the session on
    * first use; cluster-wide registration goes through
    * [[graft.GraftExtensions]].
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int,
      maxPartialGroups: Int = graft.plans.TopKPerGroup.DefaultMaxPartialGroups): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.graft.GraftSqlInternals
    val spark = df.sparkSession
    GraftSqlInternals.addStrategy(spark, graft.plans.TopKPerGroupStrategy)
    val lp = GraftSqlInternals.analyzed(df)
    // Resolve with the session's resolver so spark.sql.caseSensitive
    // semantics match every other column reference in the API.
    val resolve = GraftSqlInternals.resolver(spark)
    def attr(name: String) = lp.output.filter(a => resolve(a.name, name)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"topKPerGroup: no column '$name' in ${lp.output.map(_.name).mkString(", ")}")
      case many => throw new IllegalArgumentException(
        s"topKPerGroup: ambiguous column '$name' matches ${many.map(_.name).mkString(", ")}")
    }
    val order = orderSpec.map { case (c, desc) =>
      SortOrder(attr(c), if (desc) Descending else Ascending)
    }
    GraftSqlInternals.ofRows(spark,
      graft.plans.TopKPerGroup(groupCols.map(attr), order, k, lp, maxPartialGroups))
  }
}
