package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables.{dec, load}

/** Scale-pattern operators: the two shuffle-elimination techniques a
  * 100 TB deployment leans on, expressed as first-class queries so
  * their plans are pinned by tests.
  *
  *  - `join_bucketed`: both sides written bucketed on the join key
  *    with the same bucket count → the join AND the downstream
  *    aggregation on that key run with ZERO exchanges. This is the
  *    co-located-join strategy for repeated fact-fact joins: pay the
  *    partitioned write once, join shuffle-free forever after.
  *  - `agg_salted`: two-phase aggregation over a deterministic salt.
  *    A single hot group key at 100 TB turns one reducer into a
  *    straggler; salting fans the partial aggregation over N
  *    sub-keys, then the final (tiny) aggregation merges them. The
  *    exact-decimal partials make the two-phase result bit-identical
  *    to the direct group-by (asserted by the oracle).
  */
object ScaleQueries {

  val queries: Map[String, Q] = Map(
    "join_bucketed" -> ((s, d) => {
      // The bucketed write is the ONE-TIME cost this pattern exists to
      // amortize ("pay the partitioned write once, join shuffle-free
      // forever after"), so it runs once per JVM+sfDir — repeated
      // calls (and the bench's min-of-2) time the co-located join, the
      // operator's steady state. Same attribution rule as sim_ivf's
      // persisted index build.
      val (ln, on) = bucketedTables(s, d)
      val bl = s.table(ln)
      val bo = s.table(on)
      bl.join(bo, bl("l_orderkey") === bo("o_orderkey"), "inner")
        .groupBy("l_orderkey")
        .agg(
          sum(dec(col("l_quantity"))).cast(DecimalType(38, 2)).as("qty"),
          max(col("o_totalprice")).as("price"))
        .orderBy("l_orderkey")
    }),

    // Skew-salted shuffle join: lineitem's hot order keys are split
    // across 8 salt shards, orders replicated per shard (broadcast
    // disabled via hint so the SALTED SHUFFLE path is what's
    // exercised). Oracle = the plain join — salting must be invisible
    // in the result.
    "join_salted" -> ((s, d) => {
      val li = load(s, d, "lineitem").select("l_orderkey", "l_quantity")
      val o = load(s, d, "orders").select("o_orderkey", "o_totalprice")
        .hint("shuffle_hash")
      graft.api.GraftOps.saltedJoin(li, o, "l_orderkey", "o_orderkey", numSalts = 8)
        .groupBy("l_orderkey")
        .agg(sum(dec(col("l_quantity"))).cast(DecimalType(38, 2)).as("qty"),
          max(col("o_totalprice")).as("price"))
        .orderBy("l_orderkey")
    }),

    // Hive-style partitioned parquet sink + pruned read-back: the
    // standard lake layout (partition column becomes the directory
    // key); the read applies a partition filter so only one
    // directory's files are touched. Exempt (sink); PlanShapeSpec
    // asserts the PartitionFilters pruning.
    "sink_partitioned" -> ((s, d) => {
      val dir = graft.Derived.dir("part_sink", d, "orders") { out =>
        load(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      }
      s.read.parquet(dir)
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // Small-file compaction: a deliberately over-partitioned write (64
    // files for 15k rows — the classic streaming-ingest pathology) is
    // compacted by a repartition rewrite to 4 right-sized files. At
    // 100 TB this is the nightly maintenance job that keeps scan task
    // counts sane; the test asserts the file counts, the oracle checks
    // the data survived byte-exact.
    "sink_compacted" -> ((s, d) => {
      val dir = graft.Derived.dir("compact", d, "orders") { root =>
        val o = load(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        o.repartition(64).write.mode("overwrite").parquet(s"$root/small")
        s.read.parquet(s"$root/small").repartition(4)
          .write.mode("overwrite").parquet(s"$root/compact")
      }
      s.read.parquet(s"$dir/compact").orderBy("o_orderkey")
    }),

    // Deterministic shard EXPORT (round 8) — the webdataset-style
    // final step of a curation pipeline: docs assigned to 8 shards by
    // a pure md5 hash of the id (the interleave_order grid — layout-
    // and partitioning-independent) and physically written as
    // partitionBy("shard") parquet, one directory per shard, exactly
    // the layout a training loader consumes. The query returns the
    // READ-BACK manifest (per-shard doc count, id range, char volume),
    // proving both that the write round-trips and that the assignment
    // matches the oracle's arithmetic. At 100 TB: one narrow-keyed
    // exchange (repartition on shard) and 8 parallel streams out.
    "sink_shards" -> ((s, d) => {
      val dir = graft.Derived.dir("shard_sink", d, "documents") { out =>
        load(s, d, "documents")
          .withColumn("shard",
            (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
              .cast("bigint") % 8).cast("int"))
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(out)
      }
      s.read.parquet(dir)
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"),
          sum(col("n_chars")).cast("bigint").as("n_chars_total"))
        .orderBy("shard")
    }),

    // JSONL shard export (round 8) — the same webdataset-style layout
    // as sink_shards but through the interchange format training
    // stacks actually exchange: line-delimited JSON (Spark's json sink
    // IS jsonl — one object per line), partitioned into 4 md5 shards,
    // then READ BACK with an explicit schema (no inference scan) to
    // build the manifest. Proves the full unicode corpus (incl. CJK
    // text) survives the JSON round trip: per-shard counts, id range,
    // char volume and non-null-text tally all match the parquet-side
    // oracle arithmetic. At 100 TB: one narrow-keyed exchange and 4
    // parallel line-writer streams; the read-back is schema-pinned so
    // a loader never pays an inference pass.
    "sink_jsonl" -> ((s, d) => {
      val dir = graft.Derived.dir("jsonl_sink", d, "documents") { out =>
        load(s, d, "documents")
          .withColumn("shard",
            (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
              .cast("bigint") % 4).cast("int"))
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard").json(out)
      }
      s.read
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT, shard INT")
        .json(dir)
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"),
          sum(col("n_chars")).cast("bigint").as("n_chars_total"),
          count(col("text")).cast("bigint").as("n_text"))
        .orderBy("shard")
    }),

    "agg_salted" -> ((s, d) => {
      val salts = 8
      load(s, d, "lineitem")
        .withColumn("salt", (col("l_orderkey") % salts).cast("int"))
        .groupBy("l_returnflag", "salt")
        .agg(
          sum(dec(col("l_quantity"))).as("partial_qty"),
          count(lit(1)).as("partial_n"))
        .groupBy("l_returnflag")
        .agg(
          sum(col("partial_qty")).cast(DecimalType(38, 2)).as("sum_qty"),
          sum(col("partial_n")).as("n"))
        .orderBy("l_returnflag")
    }),
  )

  /** Export locations for the layout tests. */
  private[graft] def shardSinkPath(sfDir: String): String = graft.Derived.path("shard_sink", sfDir)
  private[graft] def jsonlSinkPath(sfDir: String): String = graft.Derived.path("jsonl_sink", sfDir)
  private[graft] def compactPath(sfDir: String): String = graft.Derived.path("compact", sfDir)

  private val bucketSetupLock = new Object

  /** Write the bucketed join tables once per session+sfDir; names carry
    * an sfDir hash so different scale factors in one JVM never collide.
    * The "already built" check is the session catalog itself (not a
    * JVM-wide name cache): a second SparkSession in the same JVM has a
    * fresh in-memory catalog that doesn't know a previous session's
    * tables, so it must rebuild them (ADVICE r3). A plain lock (not
    * ConcurrentHashMap.computeIfAbsent) so the multi-second Spark
    * writes never run while holding a CHM bin lock.
    */
  private def bucketedTables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val sfx = Integer.toHexString(d.hashCode)
    val (ln, on) = (s"graft_li_bucketed_$sfx", s"graft_o_bucketed_$sfx")
    bucketSetupLock.synchronized {
      if (!s.catalog.tableExists(ln) || !s.catalog.tableExists(on)) {
        // Drop name AND location: the warehouse dir may hold files a
        // previous JVM left behind under the same table name.
        dropBucketTable(s, ln)
        dropBucketTable(s, on)
        load(s, d, "lineitem").select("l_orderkey", "l_quantity")
          .write.mode("overwrite").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").saveAsTable(ln)
        load(s, d, "orders").select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").saveAsTable(on)
      }
    }
    (ln, on)
  }

  private def dropBucketTable(s: org.apache.spark.sql.SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
    val path = new org.apache.hadoop.fs.Path(wh.getPath, name)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
  }

  val oracle: Map[String, String] = Map(
    "join_bucketed" ->
      """SELECT l_orderkey,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty,
        | max(o_totalprice) AS price
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "join_salted" ->
      """SELECT l_orderkey,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty,
        | max(o_totalprice) AS price
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "sink_partitioned" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        | FROM orders WHERE o_orderstatus = 'F'
        | ORDER BY o_orderkey""".stripMargin,
    "sink_compacted" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        | FROM orders ORDER BY o_orderkey""".stripMargin,
    "sink_shards" ->
      """SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        | FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    // round-8 jsonl twin: same md5-bucket arithmetic straight off the
    // parquet — equality proves the JSON write+read round-trips every
    // row, char count and non-null text.
    "sink_jsonl" ->
      """SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 4 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        |  CAST(count(text) AS BIGINT) AS n_text
        | FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "agg_salted" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
        | count(*) AS n
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )
}
