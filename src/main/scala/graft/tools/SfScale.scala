package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize the sf1-equivalent dataset (round 13 — VERDICT r12 #1):
  * `mult` disjoint copies of every sf0.1 table under the ScaleStress
  * key-shift recipe, persisted as flat one-file-per-table parquet so
  * graft.Tables, graft.Bench, graft.Verify AND the DuckDB oracle all
  * read it exactly like a driver testdata dir.
  *
  * Copy construction (workload-faithful, never degenerate):
  *  - facts/dims with synthetic keys (customer, supplier, part,
  *    orders, lineitem) shift every entity key by copy·10⁸ — the join
  *    graph replicates disjointly; nation/region keys stay verbatim
  *    (shared dimensions, the realistic shape: dims grow slower).
  *  - events shift event_id/user_id — 10× disjoint users, identical
  *    per-user history (sessionization partitions scale, none grows).
  *  - documents shift doc_id and PREFIX copy>0 texts with a copy token
  *    — near-dup structure replicates within copies instead of every
  *    doc gaining 9 exact clones (which would square the dedup
  *    outputs); n_chars recomputed (= length(text), the generator's
  *    invariant).
  *  - embeddings shift vec_id and ROTATE the vector by the copy index
  *    (norm-preserving; cross-copy cosines fall to the corpus
  *    background, the ScaleStress rotation argument).
  *
  * Usage: dev/run.sh graft.tools.SfScale [srcDir] [outDir] [mult]
  * Idempotent: a complete outDir (marker file) is left untouched.
  */
object SfScale {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val marker = java.nio.file.Paths.get(out, "_GRAFT_SF_COMPLETE")
    if (java.nio.file.Files.exists(marker)) {
      println(s"already built: $out"); return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val off = 100000000L

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => f(df, i)).reduce(_ unionAll _)

    def shift(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * off)))

    def dump(name: String, df: DataFrame): Unit = {
      val tmp = s"$out/_build_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet written for $name"))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(out, s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.Derived.deleteRecursively(tmp)
      println(s"built $name")
    }

    def load(t: String): DataFrame = graft.Tables.load(spark, src, t)

    // shared dims: verbatim
    dump("region", load("region"))
    dump("nation", load("nation"))
    dump("customer", copies(load("customer"))((d, i) => shift(d, i, "c_custkey")))
    dump("supplier", copies(load("supplier"))((d, i) => shift(d, i, "s_suppkey")))
    dump("part", copies(load("part"))((d, i) => shift(d, i, "p_partkey")))
    dump("orders", copies(load("orders"))((d, i) =>
      shift(d, i, "o_orderkey", "o_custkey")))
    dump("lineitem", copies(load("lineitem"))((d, i) =>
      shift(d, i, "l_orderkey", "l_partkey", "l_suppkey")))
    dump("events", copies(load("events"))((d, i) =>
      shift(d, i, "event_id", "user_id")))
    dump("documents", copies(load("documents")) { (d, i) =>
      val shifted = shift(d, i, "doc_id")
      if (i == 0) shifted
      else shifted
        .withColumn("text",
          when(col("text").isNotNull, concat(lit(s"c$i "), col("text"))))
        .withColumn("n_chars", length(col("text")).cast("bigint"))
    })
    val dims = 64
    // ADVICE r13: a mult above dims would produce negative-length
    // slices (silent vector corruption); rotate by i mod dims so any
    // copy count yields a valid rotation (copy i == copy i+dims is an
    // acceptable repeat — the copies are already key-shifted apart).
    dump("embeddings", copies(load("embeddings")) { (d, i) =>
      val shifted = shift(d, i, "vec_id")
      val rot = i % dims
      if (rot == 0) shifted
      else shifted.withColumn("embedding",
        expr(s"concat(slice(embedding, ${rot + 1}, ${dims - rot}), " +
          s"slice(embedding, 1, $rot))"))
    })
    java.nio.file.Files.writeString(marker, s"src=$src mult=$mult\n")
    println(s"done: $out (mult=$mult)")
    spark.stop()
  }
}
