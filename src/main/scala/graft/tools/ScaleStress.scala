package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load
import graft.api.GraftOps

/** Scale-growth measurement for the operators whose 100 TB survival is
  * asserted from plan shape (VERDICT r2 "What's missing" #4): run each
  * at 1× and N× input (synthetic disjoint copies) and report the
  * runtime ratio. Near-linear operators show ratio ≈ N or below
  * (shared fixed overheads); a quadratic regression shows ≈ N².
  *
  * Copy constructions keep the WORKLOAD linear by design:
  *  - sessionize: user_id offset per copy → N× disjoint users, same
  *    per-user history (window partitions scale, no partition grows).
  *  - connectedComponents: node-id offset per copy → N disjoint
  *    isomorphic graphs, same propagation-round count, N× rows/round.
  *  - cosinePairsBlocked: element ROTATION per copy — preserves norms
  *    and within-copy pair structure while cross-copy cosines fall
  *    back to the corpus's background similarity distribution. NOTE
  *    (measured, sf0.1): this corpus has a CONSTANT background rate of
  *    cos≥0.4 pairs (~0.05% of all pairs), so the TRUE OUTPUT grows
  *    ~N² with corpus size — that is a property of the problem at a
  *    loose threshold, not of the algorithm. The honest pass criterion
  *    for this row is therefore runtime growth ≤ output growth
  *    (time/output-pair flat or falling), not runtime ≈ N.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          dev/run.sh graft.tools.ScaleStress [mult]
  * Prints one markdown table row per operator (pasted into SCALE.md).
  */
object ScaleStress {

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

  /** One (name, rows1x, sec1x, rowsNx, secNx) tuple per operator. */
  def run(spark: SparkSession, sfDir: String, mult: Int): Seq[(String, Long, Double, Long, Double)] = {
    // idempotent: cosinePairsBlocked needs array_dot whoever calls us
    graft.functions.GraftFunctions.register(spark)
    val off = 100000000L // id offset stride between synthetic copies

    // Times CONSTRUCTION + count: an eager operator (the
    // connectedComponents loop checkpoints per round) does its work
    // while the DataFrame is being built, so timing only a pre-built
    // frame's count() would measure a cached scan. The 1x case is run
    // once untimed first (JIT/codegen warmup) — without it the 1x
    // timing absorbs first-touch compilation and the reported ratio
    // flatters the Nx run.
    def timeCount(build: () => DataFrame): (Long, Double) = {
      build().count() // warm: JIT + codegen + shuffle-service touch
      val t0 = System.nanoTime()
      val n = build().count()
      (n, (System.nanoTime() - t0) / 1e9)
    }

    // Materialize each synthetic input to parquet and read it back
    // before timing. Two reasons: (a) the timed run then measures the
    // OPERATOR on on-disk input, exactly like every other bench entry,
    // not the copy-generation arithmetic; (b) an iterative operator
    // (connectedComponents) re-embeds its input's logical plan into
    // every round — feeding it a 10-way union of blocked-join trees
    // grows the plan string past 2 GB and OOMs the driver building the
    // SQL-listener explain string. A scan plan keeps rounds O(1)-sized,
    // which is also how a production pipeline would run it.
    val scratch = graft.Derived.scratch("graft_stress")
    def materialize(df: DataFrame, name: String): DataFrame = {
      val p = s"$scratch/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    // --- sessionize over N× disjoint users -------------------------
    val ev = load(spark, sfDir, "events")
      .withColumn("ep_us", expr("unix_micros(cast(ts as timestamp))"))
      .select("user_id", "ep_us", "event_id")
    def evCopies(n: Int): DataFrame =
      (0 until n).map(k => ev.select(
        (col("user_id") + lit(k * off)).as("user_id"),
        col("ep_us"), (col("event_id") + lit(k * off)).as("event_id")))
        .reduce(_ union _)
    def sess(df: DataFrame): DataFrame =
      GraftOps.sessionize(df, "user_id", "ep_us", "event_id", 1800L * 1000000L)
        .groupBy("user_id", "sess").agg(count(lit(1)).as("n"))
    val ev1 = materialize(evCopies(1), "ev1")
    val evN = materialize(evCopies(mult), "evN")
    val (sr1, st1) = timeCount(() => sess(ev1))
    val (srn, stn) = timeCount(() => sess(evN))

    // --- connected components over N disjoint copies of the
    //     embeddings similarity graph ------------------------------
    val emb = load(spark, sfDir, "embeddings")
    val baseEdges = materialize(
      GraftOps.cosinePairsBlocked(emb, "vec_id", "embedding", minCos = 0.4)
        .select(col("a_id"), col("b_id")), "edges") // discovery timed in the cosine row below
    def ccInputs(n: Int): (DataFrame, DataFrame) = (
      materialize((0 until n).map(k =>
        emb.select((col("vec_id") + lit(k * off)).as("id"))).reduce(_ union _), s"vs$n"),
      materialize((0 until n).map(k => baseEdges.select(
        (col("a_id") + lit(k * off)).as("a_id"),
        (col("b_id") + lit(k * off)).as("b_id"))).reduce(_ union _), s"es$n"))
    val (vs1, es1) = ccInputs(1)
    val (vsN, esN) = ccInputs(mult)
    val (cr1, ct1) = timeCount(() =>
      GraftOps.connectedComponents(vs1, "id", es1, "a_id", "b_id"))
    val (crn, ctn) = timeCount(() =>
      GraftOps.connectedComponents(vsN, "id", esN, "a_id", "b_id"))

    // --- exact cosine pairs over an N×-denser corpus ----------------
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    def rotCopies(n: Int): DataFrame =
      (0 until n).map { k =>
        val r = k % dim
        emb.select((col("vec_id") + lit(k * off)).as("vec_id"),
          expr(s"concat(slice(embedding, ${r + 1}, ${dim - r}), slice(embedding, 1, $r))")
            .as("embedding"))
      }.reduce(_ union _)
    def cos(df: DataFrame): DataFrame =
      GraftOps.cosinePairsBlocked(df, "vec_id", "embedding", minCos = 0.4)
    val rot1 = materialize(rotCopies(1), "rot1")
    val rotN = materialize(rotCopies(mult), "rotN")
    val (pr1, pt1) = timeCount(() => cos(rot1))
    val (prn, ptn) = timeCount(() => cos(rotN))

    // --- decontamination probe over an N× training corpus -----------
    // The eval (broadcast) side stays FIXED — exactly the production
    // shape: benchmarks don't grow with the crawl. Expect ~linear.
    val docs = load(spark, sfDir, "documents").select("doc_id", "text")
    def docCopies(n: Int): DataFrame =
      (0 until n).map(k => docs.select(
        (col("doc_id") + lit(k * off)).as("doc_id"), col("text")))
        .reduce(_ union _)
    def decontaminate(train: DataFrame): DataFrame = {
      val sh = GraftOps.shingles(train, "text", 5, "sh")
      val evSet = GraftOps.shingles(docs.filter(col("doc_id") % 29 === 0), "text", 5, "sh")
        .select(explode(col("sh")).as("s")).distinct()
      sh.select(col("doc_id"), explode(col("sh")).as("s"))
        .join(broadcast(evSet), "s")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    }
    val d1 = materialize(docCopies(1), "docs1")
    val dN = materialize(docCopies(mult), "docsN")
    val (dr1, dt1) = timeCount(() => decontaminate(d1))
    val (drn, dtn) = timeCount(() => decontaminate(dN))

    // --- boilerplate removal over N× disjoint sources ---------------
    // Sources get a per-copy suffix: the line-df dictionary grows in
    // GROUP COUNT (linear), never in per-group size — the same reason
    // a 100 TB crawl partitions df computation by domain.
    val docsS = load(spark, sfDir, "documents").select("doc_id", "text", "source")
    def bpCopies(n: Int): DataFrame =
      (0 until n).map(k => docsS.select(
        (col("doc_id") + lit(k * off)).as("doc_id"), col("text"),
        concat(col("source"), lit(s"_$k")).as("source")))
        .reduce(_ union _)
    def boiler(df: DataFrame): DataFrame = {
      val t = concat(col("text"),
        lit("\ncopyright (c) "), col("source"), lit(" media"),
        when(col("doc_id") % 3 === 0, lit("\nsubscribe to our newsletter"))
          .otherwise(concat(lit("\nfooter id "), col("doc_id").cast("string"))))
      val lines = df.withColumn("t", t)
        .select(col("doc_id"), col("source"), posexplode(split(col("t"), "\n")))
        .withColumnRenamed("col", "line")
      val dfreq = lines.groupBy("source", "line")
        .agg(countDistinct(col("doc_id")).as("df"))
      lines.join(dfreq, Seq("source", "line")).filter(col("df") < 5)
        .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
    }
    val b1 = materialize(bpCopies(1), "bp1")
    val bN = materialize(bpCopies(mult), "bpN")
    val (br1, bt1) = timeCount(() => boiler(b1))
    val (brn, btn) = timeCount(() => boiler(bN))

    // --- sequence packing with FIXED shards (langs) ------------------
    // Deliberately the harsher variant: the 5 lang partitions each grow
    // N× (window sort is n log n per shard). Output rows = packed bins,
    // ~tokens/256, linear in input.
    def pack(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      df.select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("bigint").as("n_tok"))
        .withColumn("offset", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("bin_id", expr("offset DIV 256"))
        .groupBy("lang", "bin_id").agg(count(lit(1)).as("n_docs"))
    }
    val docsL = load(spark, sfDir, "documents").select("doc_id", "text", "lang")
    def langCopies(n: Int): DataFrame =
      (0 until n).map(k => docsL.select(
        (col("doc_id") + lit(k * off)).as("doc_id"), col("text"), col("lang")))
        .reduce(_ union _)
    val p1 = materialize(langCopies(1), "pk1")
    val pN = materialize(langCopies(mult), "pkN")
    val (kr1, kt1) = timeCount(() => pack(p1))
    val (krn, ktn) = timeCount(() => pack(pN))

    // --- EWMA fold over N× disjoint users ----------------------------
    // The sequential-per-key shape: user count scales, per-key series
    // length stays fixed, so the linear fold rides the same stages.
    def ewma(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(expr("array_sort(collect_list(struct(ep_us, event_id, ep_us AS value)))").as("s"))
        .selectExpr("user_id", """
          aggregate(s, CAST(0.0 AS DOUBLE),
            (acc, x) -> 0.3D * x.value + 0.7D * acc) AS final_ewma""")
    val (wr1, wt1) = timeCount(() => ewma(ev1))
    val (wrn, wtn) = timeCount(() => ewma(evN))

    // --- global paragraph dedup over N× docs with SHARED text --------
    // Deliberately the harsher variant: copies keep the same text, so
    // every chunk's occurrence list (the window partition) grows N×
    // while group count stays fixed — total window work is N log N,
    // not N². Output stays one row per doc (exactly N×).
    def paraDedup(df: DataFrame): DataFrame = {
      val ch = df
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, CAST((size(w)-1) DIV 10 AS INT)), i -> array_join(slice(w, i*10+1, 10), ' '))")))
        .withColumnRenamed("col", "chunk")
      val rk = ch.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("chunk")
          .orderBy("doc_id", "pos")))
      rk.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("rn") === 1, 1)).as("n_kept"))
    }
    val (gr1, gt1) = timeCount(() => paraDedup(d1))
    val (grn, gtn) = timeCount(() => paraDedup(dN))

    // --- trailing-window anomaly over N× disjoint event_type shards --
    // Group count scales, per-shard series length fixed: the moving
    // power sums ride one shuffle and a per-shard linear walk.
    val evA = load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        expr("CAST(value AS DECIMAL(18,2))").as("x"),
        col("ts").cast("timestamp").as("t"))
    def anomCopies(n: Int): DataFrame =
      (0 until n).map(k => evA.select(
        (col("event_id") + lit(k * off)).as("event_id"),
        concat(col("event_type"), lit(s"_$k")).as("event_type"),
        col("x"), col("t")))
        .reduce(_ union _)
    def anomaly(df: DataFrame): DataFrame = {
      val win = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
        .orderBy(col("t"), col("event_id")).rowsBetween(-20, -1)
      df.withColumn("n", count(lit(1)).over(win))
        .withColumn("sx", sum(col("x")).over(win))
        .filter(col("n") >= 10)
    }
    val a1 = materialize(anomCopies(1), "an1")
    val aN = materialize(anomCopies(mult), "anN")
    val (ar1, at1) = timeCount(() => anomaly(a1))
    val (arn, atn) = timeCount(() => anomaly(aN))

    // --- q21-shape sole-late-supplier profile over N× disjoint orders
    // Both facts join once on orderkey; the per-order profile and the
    // join-back ride the same partitioning. Supplier ids are offset per
    // copy so the output (per-supplier counts) scales with the input.
    val loJ = load(spark, sfDir, "lineitem")
      .join(load(spark, sfDir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")).as("late"))
    def q21Copies(n: Int): DataFrame =
      (0 until n).map(k => loJ.select(
        (col("l_orderkey") + lit(k * off)).as("l_orderkey"),
        (col("l_suppkey") + lit(k * off)).as("l_suppkey"),
        col("late"))).reduce(_ union _)
    def soleLate(df: DataFrame): DataFrame = {
      val po = df.groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .agg(max(col("late")).as("sl"))
        .groupBy("ok")
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("sl"), 1L).otherwise(0L)).as("n_late"))
      df.filter(col("late"))
        .join(po, col("l_orderkey") === col("ok"))
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
    }
    val q1df = materialize(q21Copies(1), "q21_1")
    val qNdf = materialize(q21Copies(mult), "q21_N")
    val (qr1, qt1) = timeCount(() => soleLate(q1df))
    val (qrn, qtn) = timeCount(() => soleLate(qNdf))

    // --- triangle counting over N disjoint similarity graphs ---------
    // Node-id offsets keep the copies isomorphic and disconnected:
    // triangle count and per-vertex output scale exactly N×, and the
    // node-iterator equi-joins see N× rows per stage.
    val triEdges = materialize(
      GraftOps.cosinePairsBlocked(emb, "vec_id", "embedding", minCos = 0.3)
        .select(col("a_id"), col("b_id")), "tri_edges")
    def triCopies(n: Int): DataFrame =
      (0 until n).map(k => triEdges.select(
        (col("a_id") + lit(k * off)).as("a_id"),
        (col("b_id") + lit(k * off)).as("b_id"))).reduce(_ union _)
    def triangles(e: DataFrame): DataFrame = {
      val e1 = e.select(col("a_id").as("a"), col("b_id").as("b"))
      val e2 = e.select(col("a_id").as("b2"), col("b_id").as("c"))
      val e3 = e.select(col("a_id").as("a3"), col("b_id").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select("a", "b", "c")
      tri.select(col("a").as("v")).unionAll(tri.select(col("b").as("v")))
        .unionAll(tri.select(col("c").as("v")))
        .groupBy("v").agg(count(lit(1)).as("n_tri"))
    }
    val tr1df = materialize(triCopies(1), "tri1")
    val trNdf = materialize(triCopies(mult), "triN")
    val (tr1, tt1) = timeCount(() => triangles(tr1df))
    val (trn, ttn) = timeCount(() => triangles(trNdf))

    // --- char-trigram profile over N× docs with SHARED langs ---------
    // Deliberately the harsher variant: language count stays fixed (5)
    // while the corpus grows N× — the partial agg must collapse the
    // (lang, trigram) histogram map-side or the shuffle grows with the
    // corpus. Output stays top-10 × 5 langs at any N.
    def ngramProfile(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("c").desc, col("tg").asc)
      df.filter(length(col("text")) >= 3)
        .select(col("lang"), lower(col("text")).as("tx"))
        .select(col("lang"), explode(expr("sequence(1, length(tx) - 2)")).as("i"), col("tx"))
        .select(col("lang"), expr("substring(tx, i, 3)").as("tg"))
        .groupBy("lang", "tg").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
    }
    val ng1 = materialize(langCopies(1), "ng1")
    val ngN = materialize(langCopies(mult), "ngN")
    val (nr1, nt1) = timeCount(() => ngramProfile(ng1))
    val (nrn, ntn) = timeCount(() => ngramProfile(ngN))

    // --- embedding centroids over an N× corpus with SHARED labels ----
    // Group count stays labels × dims at any N; the posexplode is
    // map-side and the partial agg ships exact integer sums, so the
    // shuffle payload is constant while the scan grows N×.
    def embCopies(n: Int): DataFrame =
      (0 until n).map(k => emb.select(
        (col("vec_id") + lit(k * off)).as("vec_id"),
        col("embedding"), col("label"))).reduce(_ union _)
    def centroids(df: DataFrame): DataFrame =
      df.select(col("label"), posexplode(col("embedding")).as(Seq("p", "comp")))
        .select(col("label"), (col("p") + 1).cast("bigint").as("dim"),
          expr("CAST(round(CAST(comp AS DOUBLE) * 1000000.0D) AS BIGINT)").as("qq"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sum(col("qq").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s1"))
    val ce1 = materialize(embCopies(1), "ce1")
    val ceN = materialize(embCopies(mult), "ceN")
    val (er1, et1) = timeCount(() => centroids(ce1))
    val (ern, etn) = timeCount(() => centroids(ceN))

    // --- sweep-line concurrency over N× disjoint event types --------
    // Group count scales; the boundary unpivot doubles rows map-side
    // and the running ±1 sum rides one exchange — output is one row
    // per type, so rows scale exactly N× while per-shard work is a
    // linear walk.
    def sweepCopies(n: Int): DataFrame =
      (0 until n).map(k => load(spark, sfDir, "events")
        .select(concat(col("event_type"), lit(s"_$k")).as("event_type"),
          (col("event_id") + lit(k * off)).as("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("t0"),
          expr("unix_micros(cast(ts as timestamp)) + CAST(round(value * 100) AS BIGINT) * 10000").as("t1")))
        .reduce(_ union _)
    def sweep(df: DataFrame): DataFrame = {
      val bounds = df.select(col("event_type"), col("event_id"), col("t0").as("t"), lit(1L).as("delta"))
        .unionAll(df.select(col("event_type"), col("event_id"), col("t1").as("t"), lit(-1L).as("delta")))
      val ord = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
        .orderBy(col("t").asc, col("delta").asc, col("event_id").asc)
      val run = ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      bounds.withColumn("conc", sum(col("delta")).over(run))
        .groupBy("event_type").agg(max(col("conc")).as("max_conc"))
    }
    val sw1 = materialize(sweepCopies(1), "sw1")
    val swN = materialize(sweepCopies(mult), "swN")
    val (xr1, xt1) = timeCount(() => sweep(sw1))
    val (xrn, xtn) = timeCount(() => sweep(swN))

    // --- custom TopKPerGroup operator over N× disjoint customers -----
    // Group count scales, per-group size fixed: heap admission is O(1)
    // per row, shuffle payload is ≤ k rows per group per map partition,
    // so both phases scale with rows — the operator's 100 TB claim
    // (no sort, bounded memory) measured rather than asserted.
    val ordBase = load(spark, sfDir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    def ordCopies(n: Int): DataFrame =
      (0 until n).map(k => ordBase.select(
        (col("o_custkey") + lit(k * off)).as("o_custkey"),
        (col("o_orderkey") + lit(k * off)).as("o_orderkey"),
        col("o_totalprice"))).reduce(_ union _)
    def topk(df: DataFrame): DataFrame =
      GraftOps.topKPerGroup(df, Seq("o_custkey"),
        Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
    val tk1 = materialize(ordCopies(1), "tk1")
    val tkN = materialize(ordCopies(mult), "tkN")
    val (yr1, yt1) = timeCount(() => topk(tk1))
    val (yrn, ytn) = timeCount(() => topk(tkN))

    // --- banded MinHash over N× alphabet-rotated copies -------------
    // Rotation is a bijection on shingle space: each copy keeps the
    // 1× corpus's collision structure internally while its md5
    // signatures are disjoint from every other copy's, so candidate
    // pairs grow exactly N× (a shared-text copy construction would
    // square them). Signature agg, band fanout and the (band, sig)
    // join all scale with rows.
    val abc = "abcdefghijklmnopqrstuvwxyz"
    def mmCopies(n: Int): DataFrame =
      (0 until n).map { k =>
        val rot = abc.drop(k % 26) + abc.take(k % 26)
        docs.select((col("doc_id") + lit(k * off)).as("doc_id"),
          translate(col("text"), abc, rot).as("text"))
      }.reduce(_ union _)
    val mm1 = materialize(mmCopies(1), "mm1")
    val mmN = materialize(mmCopies(mult), "mmN")
    def mmPairs(df: DataFrame): DataFrame =
      GraftOps.minhashBandPairs(df, "doc_id", "text")
    val (mr1, mt1) = timeCount(() => mmPairs(mm1))
    val (mrn, mtn) = timeCount(() => mmPairs(mmN))

    // --- guarded fuzzy prefix dedup over the same rotated copies ----
    // Round 15 (VERDICT r14 #1): the flood-guarded dedup_fuzzy. Run at
    // the SHIPPED entry's maxBlock = 3 so the hot route dominates:
    // every natural block > 3 docs routes through the banded-MinHash
    // candidate tier. Rotation keeps blocks copy-local (the 2-word
    // prefix rotates with the text), so true-pair volume grows exactly
    // N× — the unguarded operator measured 194× on 10× rows at sf1;
    // the guard's contract is ≈ N here.
    def fuzzy(df: DataFrame): DataFrame =
      GraftOps.fuzzyPrefixPairs(df, "doc_id", "text", maxBlock = 3)
    val (fzr1, fzt1) = timeCount(() => fuzzy(mm1))
    val (fzrn, fztn) = timeCount(() => fuzzy(mmN))

    // --- span removal over the same rotated copies ------------------
    // Duplicated spans stay copy-local under rotation, so removal
    // volume and output rows grow exactly N×; the shingle-grain
    // count + semi-join + position anti-join all scale with rows.
    def spans(df: DataFrame): DataFrame =
      GraftOps.removeDuplicatedSpans(df, "doc_id", "text")
    val (vr1, vt1) = timeCount(() => spans(mm1))
    val (vrn, vtn) = timeCount(() => spans(mmN))

    // --- incremental index probe over the same rotated copies -------
    // 80% of each copy is the indexed corpus (built once, untimed —
    // the amortized sidecar), 20% is the probed delta: the timed path
    // signs only the delta and hash-joins the band-partitioned index,
    // so runtime scales with DELTA size + collisions, not corpus.
    def mhSplit(df: DataFrame, name: String): (String, DataFrame) = {
      val idx = s"$scratch/mhidx_$name"
      GraftOps.minhashIndexBuild(df.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", idx)
      (idx, materialize(df.filter(col("doc_id") % 5 === 0), s"delta_$name"))
    }
    val (idx1, delta1) = mhSplit(mm1, "1")
    val (idxN, deltaN) = mhSplit(mmN, "N")
    val (ir1, it1) = timeCount(() =>
      GraftOps.minhashIndexProbe(spark, idx1, delta1, "doc_id", "text"))
    val (irn, itn) = timeCount(() =>
      GraftOps.minhashIndexProbe(spark, idxN, deltaN, "doc_id", "text"))

    // --- blocked k-NN graph over N× vectors in N× label blocks ------
    // The Σ b² contract measured: block SIZE stays fixed (each copy's
    // labels are offset to fresh block ids), block COUNT grows N×, so
    // candidate pairs — and the claimed cost — grow exactly N×, never
    // n². A shared-label construction would instead grow pairs N²;
    // that regime is the operator's documented cap-upstream hazard.
    def knnCopies(n: Int): DataFrame =
      (0 until n).map(k => emb.select(
        (col("vec_id") + lit(k * off)).as("vec_id"), col("embedding"),
        (col("label") + lit(k * 1000)).as("label"))).reduce(_ union _)
    val kn1 = materialize(knnCopies(1), "kn1")
    val knN = materialize(knnCopies(mult), "knN")
    def knn(df: DataFrame): DataFrame =
      GraftOps.cosineKnnBlocked(df, "vec_id", "embedding", "label", 3)
    val (zr1, zt1) = timeCount(() => knn(kn1))
    val (zrn, ztn) = timeCount(() => knn(knN))

    // --- CORPUS-SCALED blocked k-NN over the same N× vectors --------
    // embed_knn_scaled's contract measured (VERDICT r13 #2): the block
    // count DERIVES from the corpus (nb = greatest(16, n DIV 256), md5
    // bucket), so expected block size stays ≈256 at any N and the
    // candidate volume Σb² ≈ 256·n grows LINEARLY — the row above
    // holds only when the USER's partitioner scales; this one needs no
    // such assumption. Uses the rotated copies (rot1/rotN): realistic
    // vectors, ids disjoint, block membership re-derived per corpus.
    def knnScaled(df: DataFrame): DataFrame = {
      val nb = df.agg(count(lit(1)).as("n"))
        .selectExpr("greatest(CAST(16 AS BIGINT), n DIV 256) AS nb")
      val blocked = df.crossJoin(broadcast(nb))
        .selectExpr("vec_id", "embedding",
          "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10)" +
            " AS BIGINT) % nb AS blk")
      GraftOps.cosineKnnBlocked(blocked, "vec_id", "embedding", "blk", 3)
    }
    val (sk1r, sk1t) = timeCount(() => knnScaled(rot1))
    val (skNr, skNt) = timeCount(() => knnScaled(rotN))

    // --- corpus-grain BPE over N× copies with a SHARED vocabulary ---
    // The vocabulary-amortization claim measured (VERDICT r8 next #7):
    // doc_id-offset copies share the text verbatim, so the distinct-
    // word set — and hence the |vocab| × |merges| string-scan stage —
    // is CONSTANT while occurrences grow N×. A per-occurrence
    // tokenizer would scale the merge loop with the corpus; the
    // amortized plan should grow only with the occurrence join +
    // per-doc sums (≈ linear, with the constant vocab stage diluting
    // the ratio below N on vocab-heavy corpora).
    def bpe(df: DataFrame): DataFrame = {
      val occ = df.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
      val vocab = occ.groupBy("w").agg(count(lit(1)).as("wc"))
      val merges = vocab
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          col("wc"))
        .groupBy("pair").agg(sum(col("wc")).cast("bigint").as("n"))
        .orderBy(desc("n"), col("pair")).limit(20)
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(desc("n"), col("pair"))))
      val tokenized = GraftOps.bpeApply(vocab.select("w"), "w", merges, "pair", "r")
        .withColumn("n_sym", size(split(col("toks"), " ")).cast("bigint"))
        .select("w", "n_sym")
      occ.join(tokenized, "w").groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum(col("n_sym")).cast("bigint").as("n_tokens"))
    }
    val (fr1, ft1) = timeCount(() => bpe(d1))
    val (frn, ftn) = timeCount(() => bpe(dN))

    // --- one Lloyd iteration over an N× corpus with SHARED labels ---
    // cluster_kmeans_step's scale contract: the E-step is map-only
    // (1-row broadcast centroid pack), the M-step one combinable
    // clusters×dims shuffle — output CONSTANT (k×dims rows) while the
    // corpus grows N×, so runtime should track the scan, ≈ linear,
    // and the exchange payload not grow at all. Runs through the new
    // kmeansReport(iters=1) so the measured path is the shipped one.
    def kmCopies(n: Int): DataFrame =
      (0 until n).map(k => emb.select(
        (col("vec_id") + lit(k * off)).as("vec_id"),
        col("embedding"), col("label"))).reduce(_ union _)
    val km1 = materialize(kmCopies(1), "km1")
    val kmN = materialize(kmCopies(mult), "kmN")
    def kmStep(df: DataFrame): DataFrame =
      GraftOps.kmeansReport(df, "embedding",
        GraftOps.centroids(df, "label", "embedding"), iters = 1)
    val (hr1, ht1) = timeCount(() => kmStep(km1))
    val (hrn, htn) = timeCount(() => kmStep(kmN))

    // --- md5-shard export of an N× corpus (write path) --------------
    // sink_shards' scale contract: one narrow-keyed repartition on the
    // shard id + 8 parallel parquet streams; write volume grows N×, so
    // runtime should too (≈ linear) — the manifest read-back stays
    // shard-grain (8 rows) at any size.
    def shardExport(df: DataFrame, name: String): DataFrame = {
      val out = s"$scratch/shard_$name"
      df.withColumn("shard",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
            .cast("bigint") % 8).cast("int"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      spark.read.parquet(out).groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
    }
    val (jr1, jt1) = timeCount(() => shardExport(d1, "1"))
    val (jrn, jtn) = timeCount(() => shardExport(dN, "N"))

    // --- negative sampling over an N× corpus (round 12 / ADVICE r11:
    //     the bucket count now DERIVES from the corpus — nb =
    //     greatest(16, n DIV 256) — so candidate pairs stay O(n × 256)
    //     and runtime ≈ N; the old fixed-16 blocking was O((n/16)²)
    //     and would measure ≈ N² here) --------------------------------
    val negBase = load(spark, sfDir, "documents")
      .filter(col("text").isNotNull).select("doc_id")
    def negIds(n: Int): DataFrame = materialize(
      (0 until n).map(k =>
        negBase.select((col("doc_id") + lit(k * off)).as("doc_id")))
        .reduce(_ union _), s"neg$n")
    def negSample(df: DataFrame): DataFrame = {
      val nb = df.agg(count(lit(1)).as("n"))
        .selectExpr("greatest(CAST(16 AS BIGINT), n DIV 256) AS nb")
      val docs = df.crossJoin(broadcast(nb))
        .selectExpr("doc_id",
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)" +
            " AS BIGINT) % nb AS b")
      val cands = docs.selectExpr("b", "doc_id AS neg_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("pair_h"), col("neg_id"))
      docs.join(cands, "b").filter(col("doc_id") =!= col("neg_id"))
        .withColumn("pair_h", md5(concat(col("doc_id").cast("string"),
          lit("|"), col("neg_id").cast("string"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
    }
    val (ui1r, ui1t) = timeCount(() => negSample(negIds(1)))
    val (uiNr, uiNt) = timeCount(() => negSample(negIds(mult)))

    // --- replica-collapsed clustering over N× EXACT replicas --------
    // Round 16 (VERDICT r15 #1): collapseReplicas' contract measured.
    // Copies share text VERBATIM (ids offset), so replica groups grow
    // N× while the REPRESENTATIVE set stays constant — the whole
    // pair-graph build (the quadratic stage) runs on 1× reps at any N;
    // only the digest groupBy and the membership re-expansion scale
    // with rows. The direct formulation would grow every block N× and
    // its within-block candidate pairs N² — that regime is exactly
    // what the collapse removes on replica-heavy crawls.
    def repCopies(n: Int): DataFrame =
      (0 until n).map(k => docs.select(
        (col("doc_id") + lit(k * off)).as("doc_id"), col("text")))
        .reduce(_ union _)
    val rp1 = materialize(repCopies(1), "rp1")
    val rpN = materialize(repCopies(mult), "rpN")
    def clusterCollapsed(df: DataFrame): DataFrame =
      GraftOps.collapsedClusters(df, "doc_id", "text")(
        GraftOps.ngramJaccardPairs(_, "doc_id", "text", minJaccard = 0.8))
    val (rcr1, rct1) = timeCount(() => clusterCollapsed(rp1))
    val (rcrN, rctN) = timeCount(() => clusterCollapsed(rpN))

    Seq(
      ("dedup_cluster (replica collapse, N× exact replicas, constant reps)",
        rcr1, rct1, rcrN, rctN),
      ("sample_negative (corpus-derived bucket count, pairs O(n×256))",
        ui1r, ui1t, uiNr, uiNt),
      ("sessionize_batch", sr1, st1, srn, stn),
      ("dedup_cluster (connectedComponents)", cr1, ct1, crn, ctn),
      ("dedup_embed_cos (cosinePairsBlocked)", pr1, pt1, prn, ptn),
      ("text_decontaminate (fixed eval set)", dr1, dt1, drn, dtn),
      ("text_boilerplate (disjoint sources)", br1, bt1, brn, btn),
      ("pack_sequences (fixed lang shards)", kr1, kt1, krn, ktn),
      ("ts_ewma (disjoint users, fixed series)", wr1, wt1, wrn, wtn),
      ("text_paragraph_dedup (shared text, growing groups)", gr1, gt1, grn, gtn),
      ("ts_anomaly (disjoint type shards)", ar1, at1, arn, atn),
      ("tpch_q21 (sole-late profile, disjoint orders)", qr1, qt1, qrn, qtn),
      ("graph_triangles (disjoint graphs)", tr1, tt1, trn, ttn),
      ("text_ngram_profile (shared langs, growing corpus)", nr1, nt1, nrn, ntn),
      ("embed_centroids (shared labels, growing corpus)", er1, et1, ern, etn),
      ("ts_concurrency (disjoint type shards)", xr1, xt1, xrn, xtn),
      ("topk_physical (heap operator, disjoint customers)", yr1, yt1, yrn, ytn),
      ("dedup_minhash (rotated copies, disjoint signatures)", mr1, mt1, mrn, mtn),
      ("dedup_fuzzy (flood-guarded, rotated copies, copy-local blocks)", fzr1, fzt1, fzrn, fztn),
      ("text_dedup_spans (rotated copies, copy-local spans)", vr1, vt1, vrn, vtn),
      ("dedup_incremental (indexed corpus, 20% delta probe)", ir1, it1, irn, itn),
      ("embed_knn_block_unscaled (fixed block size, N× blocks)", zr1, zt1, zrn, ztn),
      ("embed_knn_scaled (corpus-derived nb, Σb² ≈ 256·n)", sk1r, sk1t, skNr, skNt),
      ("text_tokenize_bpe (shared vocab, N× occurrences)", fr1, ft1, frn, ftn),
      ("cluster_kmeans_step (shared labels, growing corpus; output k×dims)", hr1, ht1, hrn, htn),
      ("sink_shards (fixed 8 shards, growing corpus write volume)", jr1, jt1, jrn, jtn))
  }
}
