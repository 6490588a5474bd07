package graft

import org.apache.spark.sql.functions._

/** Round-18 pins: the degree-ordered triangle orientation (VERDICT
  * r17 #3) is value-identical to the round-5 node-iterator
  * formulation — same triangle set, same per-vertex counts.
  */
class Round18OpsSpec extends GraftSpec {

  test("text_ngram_profile split-chars trigrams == positions+substring trigrams") {
    // the shipped split-chars formulation (O(len) per doc) must produce
    // the identical (lang, tg, c) profile as the former
    // positions-explode + substring formulation (O(len²) per doc) —
    // both are character-positioned by construction
    val docs = Tables.load(spark, sf, "documents")
    def profile(tg: org.apache.spark.sql.DataFrame) =
      tg.groupBy("lang", "tg").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    val shipped = profile(docs.filter(length(col("text")) >= 3)
      .select(col("lang"), split(lower(col("text")), "").as("ca"))
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(ca) - 3), " +
          "i -> concat(ca[i], ca[i+1], ca[i+2]))")).as("tg")))
    val positions = profile(docs.filter(length(col("text")) >= 3)
      .select(col("lang"), lower(col("text")).as("tx"))
      .select(col("lang"),
        explode(expr("sequence(1, length(tx) - 2)")).as("i"), col("tx"))
      .select(col("lang"), expr("substring(tx, i, 3)").as("tg")))
    assert(shipped.nonEmpty && shipped == positions,
      s"only-shipped=${(shipped.toSet -- positions.toSet).take(5)} " +
        s"only-positions=${(positions.toSet -- shipped.toSet).take(5)}")
  }

  test("persisted IVF quantizer table == recomputed centroids, bit-exact") {
    graft.functions.GraftFunctions.register(spark)
    def centMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toList).toMap
    val persisted = centMap(graft.queries.LlmQueries.centFor(spark, sf))
    val recomputed = centMap(graft.api.GraftOps.centroids(
      Tables.load(spark, sf, "embeddings"), "label", "embedding"))
    assert(persisted.nonEmpty && persisted == recomputed,
      "parquet round-trip of the quantizer diverged from the direct aggregate")
  }

  // The dedup tiers route through the staged signature frames
  // (GraftOps.minHashSignatures / simhashSignatures) in-query; pin the
  // staged composition against hand-rolled r17-shaped equivalents —
  // hashes hoisted ahead of the cache must not change any pair.
  test("minHash tier via staged signatures == r17 direct formulation") {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val docs = Tables.load(spark, sf, "documents")
    val staged = graft.api.GraftOps.minHashNearDupPairs(
      docs, "doc_id", "text", maxJaccardDist = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = graft.api.GraftOps.shingles(docs, "text", 3, "__shingles")
    val tf = new HashingTF().setInputCol("__shingles").setOutputCol("__features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feat = tf.transform(sh).select(col("doc_id"), col("__features"))
    val lsh = new MinHashLSH().setInputCol("__features").setOutputCol("__hashes")
      .setNumHashTables(5).setSeed(42L)
    val direct = lsh.fit(feat)
      .approxSimilarityJoin(feat, feat, 0.5, "jaccard_dist")
      .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
      .select(col("datasetA.doc_id").as("a_id"), col("datasetB.doc_id").as("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(staged.nonEmpty && staged == direct,
      s"only-staged=${(staged -- direct).take(5)} " +
        s"only-direct=${(direct -- staged).take(5)}")
  }

  test("persisted IVF index (c_id, bucket) == fresh ivfAssign routing (the sim_ivfpq read)") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, sf, "embeddings")
    val cent = graft.queries.LlmQueries.centFor(spark, sf)
    val fresh = graft.api.GraftOps.ivfAssign(emb, "vec_id", "embedding", cent)
      .select("c_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the same read sim_ivfpq performs: the persisted v2 index's routing
    val q = SparkEntry.queries("sim_ivfpq")(spark, sf) // forces index build
    q.count()
    val persisted = spark.read.parquet(Derived.path("ivf", sf)).select("c_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(persisted.nonEmpty && persisted == fresh,
      "persisted index routing diverged from pointwise ivfAssign")
  }
}
