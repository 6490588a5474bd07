package graft

/** Plan assertions for the scale-pattern queries: bucketing must
  * actually eliminate the exchanges it exists to eliminate.
  */
class ScaleSpec extends GraftSpec {

  test("join_bucketed: bucketed join + agg run with zero exchanges") {
    val df = q("join_bucketed")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the only allowed exchange is the final range partitioning for
    // the output ORDER BY — never a hash exchange for join or agg
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketing failed to co-locate:\n${plan.take(2000)}")
  }

  test("dedup_embed_cos: candidate generation is bucketed, never corpus × corpus") {
    val df = q("dedup_embed_cos")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs scan in the plan:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs scan in the plan:\n${plan.take(2000)}")
  }

  test("sim_ivf reads the persisted index with partition pruning and matches direct ivfTopK") {
    import org.apache.spark.sql.functions._
    val df = q("sim_ivf")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // the corpus side must come from the bucket-partitioned index
    // files with a pruning filter, not a full re-bucketing job
    assert(plan.contains("PartitionFilters") && plan.contains("bucket#"),
      s"index scan not partition-pruned:\n${plan.take(2000)}")
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, sf, "embeddings")
    val cent = graft.api.GraftOps.centroids(emb, "label", "embedding")
    val direct = graft.api.GraftOps.ivfTopK(emb, "vec_id", "embedding", cent,
      col("vec_id") < 10, k = 5, nprobe = 3).orderBy("q_id", "rn")
    assert(rows.toSeq === direct.collect().toSeq)
  }

  test("join_salted runs as a salted shuffle join, not broadcast") {
    val df = q("join_salted")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected a shuffle join:\n${plan.take(2000)}")
    assert(plan.contains("__salt"), "join keys do not include the salt shard")
  }

  test("sink_partitioned read-back prunes to the filtered partition") {
    val df = q("sink_partitioned")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"partition pruning missing:\n${plan.take(2000)}")
  }

  test("sink_compacted rewrites 64 small files into 4") {
    q("sink_compacted").collect()
    val root = graft.queries.ScaleQueries.compactPath(sf)
    def parquets(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquets(s"$root/small") === 64)
    assert(parquets(s"$root/compact") === 4)
  }

  test("sink_shards writes one directory per shard covering every doc exactly once") {
    val manifest = q("sink_shards").collect()
    val root = graft.queries.ScaleQueries.shardSinkPath(sf)
    val dirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.toSeq === (0 until 8).map(i => s"shard=$i"),
      s"expected 8 shard directories, got ${dirs.mkString(", ")}")
    // partition completeness: shard counts sum to the corpus, no doc
    // lost or duplicated by the export
    val total = manifest.map(_.getLong(1)).sum
    assert(total === Tables.load(spark, sf, "documents").count())
  }

  test("sink_jsonl round-trips every row, char and unicode text through line JSON") {
    val manifest = q("sink_jsonl").collect()
    val root = graft.queries.ScaleQueries.jsonlSinkPath(sf)
    val dirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.toSeq === (0 until 4).map(i => s"shard=$i"))
    assert(manifest.map(_.getLong(1)).sum ===
      Tables.load(spark, sf, "documents").count())
    // the files really are line JSON (one object per line, no wrapper)
    val part = new java.io.File(root + "/shard=0").listFiles()
      .filter(_.getName.endsWith(".json")).head
    val lines = scala.io.Source.fromFile(part, "UTF-8").getLines().take(3).toSeq
    assert(lines.nonEmpty && lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }

  test("agg_salted equals the direct group-by bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val direct = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum(Tables.dec(col("l_quantity"))).cast(DecimalType(38, 2)).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(q("agg_salted").collect().toSeq === direct.collect().toSeq)
  }

  test("6x synthetic input grows runtimes near-linearly, never quadratically") {
    // ScaleStress builds disjoint copies so the WORKLOAD is linear by
    // construction (see its scaladoc); a quadratic operator regression
    // (all-pairs join, per-round state pile-up) would show a ~36x time
    // ratio at 6x input. The bound is generous (18x) because shared
    // fixed overheads and JIT warmth bias the ratio DOWN — a pass means
    // "not quadratic", the sf0.1 measurements in SCALE.md pin the
    // actual growth factors.
    // Wall-clock ratios can trip on a loaded host (GC/scheduling spike
    // in the Nx run — ADVICE r3), so one retry of the whole
    // measurement before declaring a regression; a genuinely quadratic
    // operator fails both runs.
    def measure(): Unit = {
      val rs = graft.tools.ScaleStress.run(spark, "/root/testdata/sf0.01", mult = 6)
      rs.foreach { case (op, r1, t1, rn, tn) =>
        // pack_sequences outputs BINS (≈ tokens/256): concatenating 6×
        // the tokens yields marginally FEWER than 6× the bins (each
        // copy's partial tail bin merges into the stream), so its
        // disjointness bound is one bin per lang shard looser.
        // "growing corpus" cases keep the OUTPUT constant by design
        // (top-k per fixed lang set / fixed label×dim groups): the
        // invariant there is output-size independence of input scale,
        // not disjoint growth.
        if (op.contains("growing corpus")) {
          assert(rn == r1,
            s"$op: aggregate output must be input-size independent (rows $r1 -> $rn at 6x)")
        } else if (op.startsWith("dedup_minhash")) {
          // each rotated copy re-realizes the banding lottery (which
          // shingle attains each min-hash), so per-copy pair counts
          // vary around the 1x count; the bound checks the EXPECTED
          // linear growth with slack for that variance at ~25-pair
          // baselines, while the time bound below still uses the
          // actual output ratio.
          assert(rn >= 3 * r1 && rn <= 12 * r1,
            s"$op: pair growth ${r1} -> ${rn} outside the linear band at 6x")
        } else {
          val minRows = if (op.startsWith("pack_sequences")) 6 * r1 - 6 * 5 else 6 * r1
          assert(rn >= minRows,
            s"$op: copies are not disjoint (rows $r1 -> $rn at 6x)")
        }
        val timeRatio = tn / math.max(t1, 0.2) // floor: sub-200ms base is all overhead
        // cosinePairsBlocked's TRUE output grows ~quadratically on this
        // corpus (constant background pair density — see ScaleStress
        // scaladoc), so its bound is output-relative; for the others
        // output grows exactly 6x and the bounds coincide.
        val outRatio = rn.toDouble / math.max(r1, 1L)
        assert(timeRatio < math.max(18.0, 2.0 * outRatio),
          f"$op: runtime grew ${timeRatio}%.1fx at 6x input (output grew ${outRatio}%.1fx) — super-linear beyond output growth")
      }
    }
    try measure()
    catch { case _: org.scalatest.exceptions.TestFailedException => measure() }
  }

  test("no unbounded driver-side collect anywhere in operator code") {
    // Every .collect() in operator code must carry an explicit bound
    // justification on its line: "model-state-sized" (kmeansReport's
    // k-row / k×dims-row centroid state — the MLlib KMeans
    // driver-state shape) or "metadata-sized" (probe-bucket-id
    // pruning and commit-log unit routing — bounded by bucket/unit
    // counts, the dynamic-partition-pruning pattern) or
    // "purge-request-sized" (an RTBF erasure list is bounded by the
    // user's purge REQUEST, never by the table). An unmarked
    // collect is a scale bug: a driver-side loop over data-sized
    // results — and the marker forces the bound to be ARGUED at the
    // call site where a reviewer can check it.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      // tools/ are driver-side measurement harnesses (Scale/Skew/Ann
      // stress collect their own small result sets to score recall) —
      // not shipped operator code
      .filterNot(_.toString.contains("/tools/"))
      .flatMap { p =>
        // explicit UTF-8: the sbt test JVM may default to ASCII, and
        // source comments contain non-ASCII glyphs
        scala.util.Using.resource(scala.io.Source.fromFile(p.toFile, "UTF-8")) { src =>
          src.getLines().zipWithIndex.collect {
            case (l, i) if l.contains(".collect()") &&
              !l.contains("model-state-sized") &&
              !l.contains("metadata-sized") &&
              !l.contains("purge-request-sized") => s"$p:${i + 1}: ${l.trim}"
          }.toList
        }
      }.toList
    assert(hits.isEmpty,
      s"unexpected driver-side collect in operator code:\n${hits.mkString("\n")}")
  }

  test("AQE splits a planted skewed join partition at runtime") {
    // The 100 TB skew story has two tiers: manual salting (join_salted,
    // always available) and AQE's runtime skew-join split. This plants
    // one hot key carrying ~83% of a 600k-row build side and asserts
    // the adaptive plan actually split it — the evidence that the
    // automatic tier engages, not just that the config is set.
    val s = spark
    import org.apache.spark.sql.functions._
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // without the force flag AQE vetoes the split when it could
      // introduce an extra shuffle for the downstream single-partition
      // agg — at real scale that trade is config, not correctness
      s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // md5 payload: incompressible bytes that survive column pruning
      // (an aggregate must CONSUME v, or the skewed partition shuffles
      // only the 8-byte key and stays under the byte threshold — both
      // were measured to silently de-trigger the split)
      val big = s.range(0, 600000)
        .selectExpr("CASE WHEN id < 500000 THEN 0L ELSE id % 1000 END AS k",
          "md5(CAST(id AS STRING)) AS v")
      val dim = s.range(0, 1000).selectExpr("id AS k", "id * 2 AS w")
      val j = big.join(dim, "k")
        .agg(count(lit(1)).as("n"), max(col("v")).as("mv"), max(col("w")).as("mw"))
      val n = j.collect()(0).getLong(0)
      assert(n == 600000L, s"join row count $n") // dim keys are unique: 1 match per row
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not mark the skewed partition:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The engine-level semi-join reduction that matters at 100 TB:
    // when a dimension is filtered hard but too big to broadcast,
    // Spark injects a bloom filter built from the dim keys into the
    // fact scan (row-level runtime filtering). Thresholds are sized
    // for clusters, so lower them to demonstrate the mechanism on
    // sf0.001 — the assertion is that the rewrite ENGAGES, plan-level.
    val s = spark
    import org.apache.spark.sql.functions._
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = Tables.load(s, sf, "lineitem")
      val dim = Tables.load(s, sf, "orders").filter(col("o_totalprice") > 90000)
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("bloom"),
        s"runtime bloom filter did not engage:\n${plan.take(3000)}")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("GraftExtensions injects every function GraftFunctions.register installs") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
    // registerFunctions is private[sql]: reach it the way a session
    // build does, on a fresh copy of the built-in registry
    val reg = FunctionRegistry.builtin.clone()
    e.getClass.getMethod("registerFunctions", classOf[FunctionRegistry]).invoke(e, reg)
    val names = Seq("null_safe_div", "array_dot", "simhash64", "char_entropy",
      "bloom_agg", "bloom_might_contain")
    assert(graft.functions.GraftFunctions.functions.map(_._1) == names)
    names.foreach { n =>
      assert(reg.functionExists(FunctionIdentifier(n)), s"$n was not injected")
    }
  }

  test("GraftFunctions.register leaves a session that has every function untouched") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    val names = graft.functions.GraftFunctions.functions.map(f => FunctionIdentifier(f._1))
    def infos = names.map(n => reg.lookupFunction(n).get)
    graft.functions.GraftFunctions.register(spark)
    val before = infos
    graft.functions.GraftFunctions.register(spark)
    assert(before.zip(infos).forall { case (a, b) => a eq b },
      "a repeated register must not replace the registered functions")
    // a session missing any one of them gets it back
    reg.dropFunction(names.last)
    graft.functions.GraftFunctions.register(spark)
    assert(names.forall(reg.functionExists))
  }
}
