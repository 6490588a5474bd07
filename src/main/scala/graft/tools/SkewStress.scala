package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load
import graft.api.GraftOps

/** Planted-skew growth measurement (VERDICT r5 items 1 and 8): unlike
  * [[ScaleStress]] (balanced copies), every construction here plants a
  * deliberately PATHOLOGICAL key distribution — the Zipf-prefix hot
  * block, the 83%-hot shingle document, the 83%-hot graph hub — and
  * measures 1× vs N× runtime. A skew-safe plan grows near the output
  * growth; a quadratic hazard shows ≈ N² however small the data.
  *
  * Copies are alphabet-ROTATED (a bijection on shingle space), so each
  * copy keeps its internal collision structure while being signature-
  * disjoint from every other copy — the planted hot KEY is shared
  * across copies (the block/hub grows N×) but true matches stay within
  * a copy, keeping the expected output linear in N.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          dev/run.sh graft.tools.SkewStress [mult]
  * Prints one markdown table row per operator (pasted into SCALE.md).
  */
object SkewStress {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = if (args.nonEmpty) args(0).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    println(s"| operator | rows 1x | sec 1x | rows ${mult}x | sec ${mult}x | ratio |")
    println("|---|---|---|---|---|---|")
    run(spark, sfDir, mult).foreach { case (op, r1, t1, rn, tn) =>
      println(f"| $op | $r1 | $t1%.2f | $rn | $tn%.2f | ${tn / t1}%.1fx |")
    }
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, mult: Int): Seq[(String, Long, Double, Long, Double)] = {
    graft.functions.GraftFunctions.register(spark)
    val off = 100000000L
    val abc = "abcdefghijklmnopqrstuvwxyz"

    def timeCount(build: () => DataFrame): (Long, Double) = {
      build().count() // warm: JIT + codegen
      val t0 = System.nanoTime()
      val n = build().count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val scratch = graft.Derived.scratch("graft_skew")
    def materialize(df: DataFrame, name: String): DataFrame = {
      val p = s"$scratch/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    val docs = load(spark, sfDir, "documents").select("doc_id", "text")

    // --- dedup_ngram under a planted Zipf hot prefix -----------------
    // HALF of every copy's docs get the same "of the" first-two-words
    // prefix, so the hot block holds 50% of the corpus and grows N×
    // (2500 → 25000 docs at sf0.1/10×) — the exact hazard VERDICT r5
    // flagged. The prefix is prepended AFTER rotation, so all copies
    // land in the SAME hot block while their shingle sets (and hence
    // md5 band signatures) stay copy-disjoint: the routed MinHash tier
    // should keep candidates ≈ within-copy pairs (linear), where the
    // unrouted within-block self-join would grow its pair count N².
    def ngCopies(n: Int): DataFrame =
      (0 until n).map { k =>
        val rot = abc.drop(k % 26) + abc.take(k % 26)
        docs.select((col("doc_id") + lit(k * off)).as("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(lit("of the "), translate(col("text"), abc, rot)))
            .otherwise(translate(col("text"), abc, rot)).as("text"))
      }.reduce(_ union _)
    val ng1 = materialize(ngCopies(1), "ng1")
    val ngN = materialize(ngCopies(mult), "ngN")
    def ngPairs(df: DataFrame): DataFrame =
      GraftOps.ngramJaccardPairs(df, "doc_id", "text", minJaccard = 0.8)
    val (nr1, nt1) = timeCount(() => ngPairs(ng1))
    val (nrn, ntn) = timeCount(() => ngPairs(ngN))

    // --- dedup_minhash under an 83%-hot band bucket (exact-dup flood)
    // Five sixths of every copy's docs are EXACT COPIES of one fixed
    // page (shared across copies, so the flood bucket grows N× with
    // the corpus): they share the argmin shingle in every band, i.e.
    // ~83% of all docs pile into ONE (band, sig) key per band. The
    // unguarded join would emit B²/2 candidates from that bucket
    // (8.6e6 at 1×, 8.6e8 at 10× — within-key quadratic, unfixable by
    // AQE); the maxBucket guard drops flood buckets whole, so time and
    // output should track the 17% rotation-disjoint tail linearly.
    def mmCopies(n: Int): DataFrame =
      (0 until n).map { k =>
        val rot = abc.drop(k % 26) + abc.take(k % 26)
        docs.select((col("doc_id") + lit(k * off)).as("doc_id"),
          when(col("doc_id") % 6 =!= 0,
            lit("subscribe to our newsletter for the latest updates " +
              "and exclusive offers from our partner network today"))
            .otherwise(translate(col("text"), abc, rot)).as("text"))
      }.reduce(_ union _)
    val mm1 = materialize(mmCopies(1), "mm1")
    val mmN = materialize(mmCopies(mult), "mmN")
    val (mr1, mt1) = timeCount(() => GraftOps.minhashBandPairs(mm1, "doc_id", "text"))
    val (mrn, mtn) = timeCount(() => GraftOps.minhashBandPairs(mmN, "doc_id", "text"))

    // --- connectedComponents under an 83%-hot hub vertex -------------
    // Each copy's similarity-graph edges are augmented with a STAR: one
    // hub wired to five sixths of the copy's vertices, so ~83% of all
    // edges touch one vertex and every copy collapses into one giant
    // component through it. Propagation grouping is min() (map-side
    // combinable) and the edge join's hot key is a plain equi-join AQE
    // can split, so the ratio should track rows — while round count
    // stays fixed (star diameter 2).
    val emb = load(spark, sfDir, "embeddings")
    val baseEdges = materialize(
      GraftOps.cosinePairsBlocked(emb, "vec_id", "embedding", minCos = 0.4)
        .select(col("a_id"), col("b_id")), "hub_base_edges")
    def hubInputs(n: Int): (DataFrame, DataFrame) = {
      val vs = (0 until n).map(k =>
        emb.select((col("vec_id") + lit(k * off)).as("id"))).reduce(_ union _)
      val es = (0 until n).map { k =>
        val sim = baseEdges.select(
          (col("a_id") + lit(k * off)).as("a_id"),
          (col("b_id") + lit(k * off)).as("b_id"))
        val star = emb.filter(col("vec_id") % 6 =!= 0)
          .select(lit(k * off - 1L).as("a_id"),
            (col("vec_id") + lit(k * off)).as("b_id"))
        sim.unionAll(star)
      }.reduce(_ union _)
      (materialize(vs.unionAll(es.select(col("a_id").as("id"))).distinct(), s"hub_vs$n"),
        materialize(es, s"hub_es$n"))
    }
    val (hv1, he1) = hubInputs(1)
    val (hvN, heN) = hubInputs(mult)
    val (hr1, ht1) = timeCount(() =>
      GraftOps.connectedComponents(hv1, "id", he1, "a_id", "b_id"))
    val (hrn, htn) = timeCount(() =>
      GraftOps.connectedComponents(hvN, "id", heN, "a_id", "b_id"))

    // --- pipeline_end2end under an 83% exact-dup flood ---------------
    // Five sixths of every copy's docs are EXACT COPIES of one fixed
    // page (ids distinct, text identical — the boilerplate-page crawl
    // shape), so at N× the flood dedup group holds ~83% of a corpus
    // N× the size. The digest-keyed combinable groupBy collapses the
    // flood to one row per map partition BEFORE the exchange (the
    // round-7 full-text window had no partial aggregation: every
    // flood copy landed in ONE window partition on one task), so
    // runtime should track rows ~linearly. The full documents schema
    // rides along (lang feeds the stage-4 sampler).
    val fullDocs = load(spark, sfDir, "documents")
    def plCopies(n: Int): DataFrame =
      (0 until n).map { k =>
        val rot = abc.drop(k % 26) + abc.take(k % 26)
        fullDocs.select((col("doc_id") + lit(k * off)).as("doc_id"),
          when(col("doc_id") % 6 =!= 0,
            lit("subscribe to our newsletter for the latest updates " +
              "and exclusive offers from our partner network today"))
            .otherwise(translate(col("text"), abc, rot)).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _)
    val pl1 = materialize(plCopies(1), "pl1")
    val plN = materialize(plCopies(mult), "plN")
    val (pr1, pt1) = timeCount(() => graft.queries.PipelineQueries.endToEnd(pl1))
    val (prn, ptn) = timeCount(() => graft.queries.PipelineQueries.endToEnd(plN))

    // --- seq_markov under an 83%-hot transition ----------------------
    // Five sixths of all events become type "view" (one hot "view" →
    // "view" bigram dominating the matrix, shared across copies so the
    // hot transition key grows N× with the corpus). The bigram count
    // is a COMBINABLE aggregate: the flood collapses to one row per
    // map partition before the type²-grain exchange, so runtime should
    // track rows — a per-key reduce without map-side partials would
    // funnel 83% of the corpus into one reducer instead. The lag
    // window's user_id partitions stay balanced (the flood is in the
    // VALUE, not the window key).
    val evm = load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("ep"))
    def mkCopies(n: Int): DataFrame =
      (0 until n).map(k => evm.select(
        (col("user_id") + lit(k * off)).as("user_id"),
        (col("event_id") + lit(k * off)).as("event_id"),
        when(col("event_id") % 6 =!= 0, lit("view"))
          .otherwise(col("event_type")).as("event_type"),
        col("ep"))).reduce(_ union _)
    def markov(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ep").asc, col("event_id").asc)
      df.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
    }
    val mk1 = materialize(mkCopies(1), "mk1")
    val mkN = materialize(mkCopies(mult), "mkN")
    val (kr1, kt1) = timeCount(() => markov(mk1))
    val (krn, ktn) = timeCount(() => markov(mkN))

    // --- text_rarity under a 50%-mass hot word -----------------------
    // VERDICT r8 next #8: every doc's text gets a run of the single
    // word "zq" equal to its own word count, so ~half of ALL token
    // mass lands on ONE unigram key, shared across copies (the hot
    // key's occurrence count grows N× with the corpus). The round-9
    // plan pre-aggregates (doc_id, word) counts BEFORE the unigram
    // join, so the hot word crosses the w-keyed exchange as ONE row
    // per doc (cnt=|doc|), never one row per occurrence — join input
    // and skew amplitude are capped at |docs|, and runtime should
    // track rows. The r8 token-grain join would instead push 50% of
    // all token rows through a single reducer key.
    def hotCopies(n: Int): DataFrame =
      (0 until n).map(k => docs.select(
        (col("doc_id") + lit(k * off)).as("doc_id"),
        expr("concat(text, ' ', repeat('zq ', greatest(size(split(text, ' ')), 1)))")
          .as("text"))).reduce(_ union _)
    def rarity(df: DataFrame): DataFrame = {
      val perDoc = df
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      val uni = perDoc.groupBy("w").agg(sum(col("cnt")).cast("bigint").as("c"))
      perDoc.join(uni, Seq("w")).groupBy("doc_id")
        .agg(sum(col("cnt")).cast("bigint").as("n_tok"),
          sum(col("cnt") * col("c")).cast("bigint").as("sum_c"),
          min(col("c")).as("min_c"))
    }
    val ht1df = materialize(hotCopies(1), "hot1")
    val htNdf = materialize(hotCopies(mult), "hotN")
    val (rr1, rt1) = timeCount(() => rarity(ht1df))
    val (rrn, rtn) = timeCount(() => rarity(htNdf))

    Seq(
      ("dedup_ngram (50%-hot prefix block, routed MinHash tier)", nr1, nt1, nrn, ntn),
      ("dedup_minhash (83% exact-dup flood, bucket guard)", mr1, mt1, mrn, mtn),
      ("dedup_cluster (83%-hot hub vertex star graph)", hr1, ht1, hrn, htn),
      ("pipeline_end2end (83% exact-dup flood, digest-key dedup)", pr1, pt1, prn, ptn),
      ("seq_markov (83%-hot transition, combinable bigram agg)", kr1, kt1, krn, ktn),
      ("text_rarity (50%-mass hot word, pre-aggregated join)", rr1, rt1, rrn, rtn))
  }
}
