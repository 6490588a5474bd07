package graft

import org.apache.spark.sql.functions._
import graft.api.GraftOps

/** API-genericity tests: GraftOps must work on arbitrary DataFrames
  * with arbitrary column names, not just the test tables (catches
  * hardcoded column references).
  */
class GraftOpsSpec extends GraftSpec {

  import spark.implicits._

  private lazy val tiny = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon eta"),  // near dup of 1
    (4L, "one two three four five six seven")
  ).toDF("rid", "body")

  test("exactDedup on custom column names") {
    val out = GraftOps.exactDedup(tiny, "rid", "body").orderBy("rid").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("ngramJaccardPairs on custom column names finds the near-dup") {
    val pairs = GraftOps.ngramJaccardPairs(tiny, "rid", "body", minJaccard = 0.3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minHashNearDupPairs leaves no cached block after releaseMaterialized") {
    val sc = spark.sparkContext
    GraftOps.releaseMaterialized(spark, blocking = true)
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    for (_ <- 1 to 3) {
      val pairs = GraftOps.minHashNearDupPairs(tiny, "rid", "body")
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)))
      GraftOps.releaseMaterialized(spark, blocking = true)
    }
    val left = sc.getRDDStorageInfo.filterNot(i => before(i.id))
    assert(left.isEmpty, s"cached RDDs left: ${left.map(_.name).mkString(", ")}")
  }

  test("ngramJaccardPairs: hot-block MinHash routing returns the same pairs") {
    // Round-6 skew guard: a block over maxBlock docs routes through
    // banded-MinHash candidates instead of the quadratic self-join.
    // On a planted hot block the routed result must still contain
    // every high-Jaccard pair (deterministic md5 banding; at
    // jac ≥ 0.9 a band collision is near-certain and fixed).
    val hot = (0 until 12).map { i =>
      (100L + i, s"of the quick brown fox jumps over lazy dog number$i end")
    } ++ Seq(
      (200L, "of the quick brown fox jumps over lazy dog number0 end"), // near/exact dup of 100
      (300L, "totally different first words here with unique content entirely"))
    val df = hot.toDF("rid", "body")
    val routed = GraftOps.ngramJaccardPairs(df, "rid", "body",
        minJaccard = 0.8, maxBlock = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unrouted = GraftOps.ngramJaccardPairs(df, "rid", "body",
        minJaccard = 0.8, maxBlock = Int.MaxValue)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed.contains((100L, 200L)))
    assert(routed === unrouted)
  }

  test("minhashBandPairs: bucket guard drops the exact-dup flood, keeps the tail pair") {
    // An exact-duplicate flood shares every band signature; buckets
    // wider than maxBucket are dropped whole (the flood belongs to
    // exactDedup), while genuine near-dup pairs outside stay found.
    val flood = (0 until 20).map(i =>
      (i.toLong, "subscribe to our newsletter for exclusive offers today friends"))
    val tail = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val df = (flood ++ tail).toDF("rid", "body")
    val guarded = GraftOps.minhashBandPairs(df, "rid", "body", maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded.contains((100L, 101L)))
    assert(!guarded.exists { case (a, b) => a < 100L || b < 100L },
      s"flood pairs leaked through the bucket guard: $guarded")
    val unguarded = GraftOps.minhashBandPairs(df, "rid", "body")
      .filter(col("a_id") < 100L).count()
    assert(unguarded == 20L * 19 / 2) // what the guard prevented
  }

  test("minhashIndexProbe reports exactly the batch's new pairs vs the one-shot operator") {
    // Incremental contract: probing a delta against the corpus index
    // must yield precisely the one-shot minhashBandPairs pairs that
    // TOUCH the delta — delta×index in (delta, index) orientation,
    // delta×delta once (b < a) — and none of the index×index pairs
    // (those were reported when their own batches arrived).
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this one document"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "the quick brown fox jumps over the lazy dog forever"),
      (6L, "the quick brown fox jumps over the lazy dog forever")
    ).toDF("doc_id", "text")
    val isDelta = (id: Long) => id >= 5L
    val corpus = docs.filter(!col("doc_id").geq(5L))
    val delta = docs.filter(col("doc_id").geq(5L))
    val dir = scratch("graft_mhidx") + "/idx"
    GraftOps.minhashIndexBuild(corpus, "doc_id", "text", dir)
    val probed = GraftOps.minhashIndexProbe(spark, dir, delta, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = GraftOps.minhashBandPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.flatMap { case (x, y) => // x < y by operator contract
      (isDelta(x), isDelta(y)) match {
        case (true, true)   => Some((y, x)) // delta-delta once, b < a
        case (true, false)  => Some((x, y)) // a must be the delta doc
        case (false, true)  => Some((y, x))
        case (false, false) => None         // index-index: prior batches
      }
    }
    assert(probed === expected && probed.nonEmpty,
      s"probed=$probed expected=$expected")
  }

  test("simhashPairs on custom column names pairs the exact dup") {
    graft.functions.GraftFunctions.register(spark)
    val pairs = GraftOps.simhashPairs(tiny, "rid", "body", maxHamming = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }


  test("substringDupStats: cross-doc spans count, within-doc repeats and short docs don't") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),           // shares "a b c d e" with doc 2
      (2L, "a b c d e x y z w v"),           // one shared 5-shingle position
      (3L, "k l m n o p q r s t"),           // globally unique shingles
      (4L, "one two three"),                 // < 5 words: no 5-shingle, absent
      (5L, "p2 q2 r2 s2 t2 p2 q2 r2 s2 t2")  // repeats ITS OWN shingle only
    ).toDF("rid", "body")
    val out = GraftOps.substringDupStats(docs, "rid", "body", k = 5)
      .orderBy("rid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // 10-word docs have 6 shingle positions; docs 1 and 2 each have
    // exactly one position inside the shared "a b c d e" span; doc 5's
    // self-repeat is countDistinct(doc)=1, so NOT duplicated; doc 4
    // has no 5-shingle and must be absent.
    assert(out === Seq((1L, 6L, 1L), (2L, 6L, 1L), (3L, 6L, 0L), (5L, 6L, 0L)))
  }

  test("bpeApply: greedy merges handle adjacent repeats and consumed symbols") {
    val words = Seq((1L, "abab"), (2L, "aab"), (3L, "the"), (4L, "xy")).toDF("wid", "w")
    val merges = Seq(("ab", 1), ("th", 2), ("he", 3)).toDF("pair", "r")
    val out = GraftOps.bpeApply(words, "w", merges, "pair", "r")
      .orderBy("wid").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    // "abab" → both pairs merge on one left-to-right scan;
    // "aab" → only the second (a,b) is a pair;
    // "the" → "th" consumes the h, so the later "he" merge must NOT
    // fire (no standalone h remains);
    // "xy" → no merge applies, symbols stay split.
    assert(out === Seq((1L, "ab ab"), (2L, "a ab"), (3L, "th e"), (4L, "x y")))
  }

  test("bpeApply: multi-symbol merges via space-separated pairs") {
    // Real merge lists beyond round 1 join multi-char symbols: after
    // 'th' exists, merge ('th', 'e') → 'the'. Encoded "th e".
    val words = Seq((1L, "the"), (2L, "then"), (3L, "ethe")).toDF("wid", "w")
    val merges = Seq(("th", 1), ("th e", 2)).toDF("pair", "r")
    val out = GraftOps.bpeApply(words, "w", merges, "pair", "r")
      .orderBy("wid").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    // "the" → th e → the; "then" → th e n → the n;
    // "ethe" → e th e → e the (the leading e is standalone, merges)
    assert(out === Seq((1L, "the"), (2L, "the n"), (3L, "e the")))
  }

  test("bpeApply: malformed merge pair fails loudly, not silently") {
    // A bare multi-char pair with no separator is ambiguous — the old
    // first-two-chars guess would splice "the" wherever "t h" appears.
    val words = Seq((1L, "this")).toDF("wid", "w")
    val merges = Seq(("the", 1)).toDF("pair", "r")
    val e = intercept[Exception] {
      GraftOps.bpeApply(words, "w", merges, "pair", "r").collect()
    }
    assert(e.getMessage.contains("bpeApply") ||
      Option(e.getCause).exists(_.getMessage.contains("bpeApply")))
  }

  test("exactDedupRows keeps exactly the min-id row per normalized text") {
    val out = GraftOps.exactDedupRows(tiny, "rid", "body")
      .orderBy("rid").collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L, 3L, 4L)) // row 2 (dup of 1) dropped, cols intact
    assert(GraftOps.exactDedupRows(tiny, "rid", "body").columns.toSeq ===
      Seq("rid", "body"))
  }

  test("removeDuplicatedSpans drops exactly the shared span, keeps the rest in order") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // shares "a b c d e" with doc 2
      (2L, "a b c d e x y z w v"),
      (3L, "k l m n o p q r s t"),  // unique → untouched
      (4L, "one two three"),        // < 5 words → untouched
      (5L, "p q r s t2"),           // exact dup pair → fully removed
      (6L, "p q r s t2")
    ).toDF("rid", "body")
    val out = GraftOps.removeDuplicatedSpans(docs, "rid", "body", k = 5)
      .orderBy("rid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out === Seq(
      (1L, "f g h i j", 5L),
      (2L, "x y z w v", 5L),
      (3L, "k l m n o p q r s t", 0L),
      (4L, "one two three", 0L),
      (5L, "", 5L),
      (6L, "", 5L)))
  }

  test("containmentPairs: verbatim quote scores 1.0 where Jaccard would miss it") {
    val docs = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "intro words here alpha beta gamma delta closing remarks now"),
      (12L, "totally unrelated junk content nothing shared at all here friend")
    ).toDF("rid", "body")
    val out = GraftOps.containmentPairs(docs, "rid", "body", minContainment = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue())).toSeq
    // doc 10's 2 distinct 3-shingles are both inside doc 11 →
    // containment 1.0, while Jaccard is 2/8 = 0.25 (the pair every
    // Jaccard tier misses by design). doc 12 shares nothing.
    assert(out === Seq((10L, 11L, 1.0)))
  }

  test("sessionize on custom column names splits at the gap") {
    val log = Seq(
      (1L, 100L, 1L), (1L, 200L, 2L), (1L, 2000L, 3L),
      (2L, 50L, 4L)
    ).toDF("who", "at_us", "rid")
    val out = GraftOps.sessionize(log, "who", "at_us", "rid", gapMicros = 1000L)
      .orderBy("who", "at_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 100L, 1L), (1L, 200L, 1L), (1L, 2000L, 2L), (2L, 50L, 1L)))
  }

  test("stratifiedSample on custom column names caps each stratum") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("key", "grp")
    val out = GraftOps.stratifiedSample(df, "grp", "key", n = 7).collect()
    val byGrp = out.groupBy(_.getString(1)).map { case (g, rs) => g -> rs.length }
    assert(byGrp === Map("even" -> 7, "odd" -> 7))
    // deterministic across invocations
    val again = GraftOps.stratifiedSample(df, "grp", "key", n = 7).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("connectedComponents labels chains and singletons correctly") {
    val vs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("node")
    val es = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("u", "v")
    val out = GraftOps.connectedComponents(vs, "node", es, "u", "v")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L)))
  }

  test("connectedComponents converges past the round cap via the driver finish") {
    // A 60-node PATH has diameter 59 ≫ maxIter = 2: the pre-round-11
    // code returned the round-cap labels SILENTLY UNCONVERGED (the
    // sf0.1 purchase graph hit exactly this — 674 labels for 666
    // components). With maxIter=2 the jumped reach is only 6, leaving
    // ~53 residual inter-label pairs ≤ the default cap, so this
    // exercises the DRIVER union-find finish specifically (the
    // distributed continuation path is exercised by the over-cap test
    // below).
    val n = 60
    val vs = (0L until n).toDF("node")
    val es = (0L until n - 1).map(i => (i, i + 1)).toDF("u", "v")
    val out = GraftOps.connectedComponents(vs, "node", es, "u", "v",
        maxIter = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == n)
    assert(out.forall(_._2 == 0L),
      s"unconverged labels survived the cap: ${out.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connectedComponents: over-cap residual recurses distributedly, never fails (round 13)") {
    // Round 11/12 REFUSED loudly when the residual label graph
    // exceeded the 2e6-pair driver cap; round 13 continues the jumped
    // propagation distributedly instead. A PATH is the adversarial
    // shape: min-label merges only the head segment per round, so the
    // residual stays ~n pairs until the pointer-jump reach passes n.
    // With maxIter=4 and cap 500, a 100k path leaves ~100k residual
    // pairs after pass 1 (reach 30) — far over cap — forcing ~3
    // continuation passes whose reach compounds 30 → 510 → 8190 →
    // 131k ≥ n. Diameter 10⁵ ≫ maxIter; the old code could only
    // raise. Exactness: every label must be 0.
    val n = 100000L
    val vs = spark.range(n).toDF("node")
    val es = spark.range(n - 1).selectExpr("id AS u", "id + 1 AS v")
    val out = GraftOps.connectedComponents(vs, "node", es, "u", "v",
      maxIter = 4, residualCap = 500)
    val bad = out.filter(col("cluster") =!= 0L).count()
    assert(bad == 0L, s"$bad vertices not labeled 0 on a single path")
    assert(out.count() == n)
  }

  test("iterative ops: reliable checkpointDir path matches localCheckpoint and writes files") {
    // Round-6 cluster fault-tolerance story: with a durable dir the
    // loops snapshot rounds through the reliable checkpoint path
    // (recoverable after executor loss) instead of executor-local
    // blocks. Results must be identical either way.
    val dir = scratch("graft_ckpt")
    val vs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("node")
    val es = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("u", "v")
    val reliable = GraftOps.connectedComponents(vs, "node", es, "u", "v",
        checkpointDir = Some(dir))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(reliable.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L)))
    val prLocal = GraftOps.pageRank(vs, "node", es, "u", "v", iters = 3)
      .orderBy("id").collect().map(_.toSeq)
    val prReliable = GraftOps.pageRank(vs, "node", es, "u", "v", iters = 3,
        checkpointDir = Some(dir))
      .orderBy("id").collect().map(_.toSeq)
    assert(prLocal.toSeq === prReliable.toSeq)
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(written > 0, s"no reliable checkpoint files under $dir")
  }

  test("reliable checkpointDir: repeated calls with one dir keep one checkpoint subdirectory") {
    // Spark stores the checkpoint dir as <dir>/<uuid>; re-pointing it on
    // every call would leave one uuid subdirectory per call
    val dir = scratch("graft_ckpt_once")
    val vs = Seq(1L, 2L, 3L).toDF("node")
    val es = Seq((1L, 2L)).toDF("u", "v")
    for (_ <- 1 to 2)
      GraftOps.connectedComponents(vs, "node", es, "u", "v",
        checkpointDir = Some(dir)).collect()
    val subdirs = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try st.toArray.toSeq finally st.close()
    }
    assert(subdirs.size == 1, s"checkpoint subdirectories under $dir: $subdirs")
  }

  test("LSH tiers: reliable checkpointDir path matches the local default") {
    // The signature/shingle materialization (round-6 materialize-once
    // fix) honors the same durable-checkpoint contract as the
    // iterative graph ops.
    val dir = scratch("graft_ckpt_lsh")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this one document"),
      (4L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val mhLocal = pairs(GraftOps.minhashBandPairs(docs, "doc_id", "text"))
    val mhReliable = pairs(GraftOps.minhashBandPairs(docs, "doc_id", "text",
      checkpointDir = Some(dir)))
    assert(mhLocal === mhReliable && mhLocal.nonEmpty)
    val ngLocal = pairs(GraftOps.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.5, maxBlock = 2).select("a_id", "b_id"))
    val ngReliable = pairs(GraftOps.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.5, maxBlock = 2, checkpointDir = Some(dir))
      .select("a_id", "b_id"))
    assert(ngLocal === ngReliable && ngLocal.nonEmpty)
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(written > 0, s"no reliable checkpoint files under $dir")
  }

  test("randomProjection: exact on one-hot vectors, JL norm bound on random ones") {
    // one-hot e_j: proj_k must be EXACTLY s(k,j)·(floor(2^20)/2^20) = ±1.0
    def sign(k: Int, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
    val dim = 16
    val oneHots = (1 to dim).map(j =>
      (j.toLong, Array.tabulate(dim)(i => if (i == j - 1) 1.0f else 0.0f)))
      .toDF("id", "v")
    val proj = GraftOps.randomProjection(oneHots, "v", inDims = dim, outDims = 4)
      .select("id", "proj").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (j <- 1 to dim; k <- 1 to 4)
      assert(proj(j.toLong)(k - 1) === sign(k, j),
        s"one-hot e_$j component $k: got ${proj(j.toLong)(k - 1)}, want ${sign(k, j)}")
    // JL: E‖proj‖² = outDims·‖v‖²; on deterministic pseudo-random unit
    // vectors the AVERAGE over 64 vectors concentrates near 4.0
    val rnd = new scala.util.Random(7)
    val unit = (1 to 64).map { i =>
      val raw = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, raw.map(_ / n))
    }.toDF("id", "v")
    val norms = GraftOps.randomProjection(unit, "v", inDims = dim, outDims = 4)
      .select("proj").collect()
      .map(_.getSeq[Double](0)).map(p => p.map(x => x * x).sum)
    val mean = norms.sum / norms.length
    assert(mean > 2.0 && mean < 6.0, s"mean ‖proj‖² = $mean, expected ≈ 4")
  }

  test("saltedJoin equals the plain join on custom column names") {
    val fact = Seq((1L, 10.0), (1L, 20.0), (2L, 30.0)).toDF("fk", "x")
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("dk", "name")
    val salted = GraftOps.saltedJoin(fact, dim, "fk", "dk", numSalts = 4)
      .select("fk", "x", "name").orderBy("fk", "x").collect()
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "x", "name").orderBy("fk", "x").collect()
    assert(salted.map(_.toSeq).toSeq === plain.map(_.toSeq).toSeq)
  }

  test("cosinePairsBlocked on custom column names matches brute force") {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vid", "v")
    val out = GraftOps.cosinePairsBlocked(vecs, "vid", "v", minCos = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L)))
  }

  test("upsert: updates win, survivors kept, inserts added") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val delta = Seq((2L, "B"), (9L, "Z")).toDF("k", "v")
    val out = GraftOps.upsert(base, delta, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "Z")))
  }

  test("asofLastMatch on custom column names") {
    val log = Seq(
      (10L, 1L, 1L, "view"), (11L, 1L, 2L, "buy"),
      (12L, 1L, 3L, "view"), (13L, 2L, 1L, "view")
    ).toDF("row_id", "who", "seq", "action")
    val out = GraftOps.asofLastMatch(log, "who", "seq", "row_id",
      col("action") === "buy", "last_buy")
      .orderBy("row_id").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq ===
      Seq((10L, -1L), (11L, 11L), (12L, 11L), (13L, -1L)))
  }

  test("cosineTopK on custom column names") {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vid", "v")
    val top1 = GraftOps.cosineTopK(vecs, "vid", "v", col("vid") === 1L, k = 1)
      .select("c_id").head().getLong(0)
    assert(top1 === 2L)
  }
}
