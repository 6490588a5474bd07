package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}
import graft.Tables.load
import graft.sources.Parquet

/** Family A — scans, sources, sinks (SURVEY.md §2.A).
  *
  * Scale notes: column pruning (A2) and predicate pushdown (A3) are the
  * two levers that matter most at 100 TB — they shrink parquet I/O at
  * the row-group level before a single byte hits an executor. Both are
  * Catalyst built-ins as long as the plan stays declarative; the test
  * suite asserts `PushedFilters`/`ReadSchema` in the explain output so
  * a regression fails loudly (SURVEY §4).
  */
object ScanQueries {

  val queries: Map[String, Q] = Map(
    // A1: full-scan row count. At scale this is a metadata-only parquet
    // read (row-group stats), no data pages touched.
    "scan_parquet" -> ((s, d) =>
      load(s, d, "lineitem").agg(count(lit(1)).as("n_rows"))),

    // A2: 2-of-11-column projection; ReadSchema must show only these two.
    "scan_pruned" -> ((s, d) =>
      load(s, d, "lineitem")
        .select("l_orderkey", "l_quantity")
        .orderBy("l_orderkey", "l_quantity")),

    // A3: selective predicate pushed into the parquet scan as a
    // row-group min/max filter (l_shipdate domain ends 2001-11-04).
    "scan_filtered" -> ((s, d) =>
      load(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")),

    // A4: the nanosecond-timestamp events table (SURVEY §7.4.1 trap).
    "scan_events_ns" -> ((s, d) =>
      load(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .orderBy("event_id")),

    // A5: CSV sink + source round-trip with an explicit schema (CSV has
    // no embedded types, so the read schema is the contract).
    "scan_csv_roundtrip" -> ((s, d) => {
      val df = load(s, d, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      val dir = graft.Derived.scratch("graft_csv")
      df.write.mode("overwrite").option("header", "true").csv(dir)
      s.read.schema(df.schema).option("header", "true").csv(dir)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // A5b (round 6): malformed-row CSV ingestion — the PERMISSIVE +
    // columnNameOfCorruptRecord contract a 100 TB crawl ingest relies
    // on (never fail the job; quarantine bad lines for a dead-letter
    // sink). Corruption is planted deterministically (every orderkey
    // % 500 == 0 line carries a non-numeric price), so the oracle
    // reconstructs the expected classification straight from the
    // orders table without reading the CSV. PERMISSIVE semantics
    // under test: parseable leading fields are KEPT, the unparseable
    // field nulls out, and the raw line lands in the corrupt column.
    "scan_csv_malformed" -> ((s, d) => {
      val src = load(s, d, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("o_totalprice"))
      val lines = src.select(concat(
        col("o_orderkey").cast("string"), lit(","), col("o_orderstatus"), lit(","),
        when(col("o_orderkey") % 500 === 0, lit("oops"))
          .otherwise(col("o_totalprice").cast("string"))).as("value"))
      val dir = graft.Derived.scratch("graft_csv_bad")
      lines.write.mode("overwrite").text(dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DecimalType(18, 2)),
        StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("_bad").isNotNull.as("is_bad"))
        .orderBy("o_orderkey")
    }),

    // A6: JSON-lines sink + source round-trip (schema inferred on read,
    // then columns re-selected to pin order).
    "scan_json_roundtrip" -> ((s, d) => {
      val df = load(s, d, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val dir = graft.Derived.scratch("graft_json")
      df.write.mode("overwrite").json(dir)
      s.read.json(dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // ORC sink + source round-trip — the second columnar format a
    // lakehouse deployment meets (schema + types survive natively, no
    // explicit read schema needed). Exempt (DuckDB reads no ORC);
    // round-trip equality asserted in FixtureSpec.
    "scan_orc_roundtrip" -> ((s, d) => {
      val df = load(s, d, "part")
        .filter(col("p_partkey") % 10 === 0)
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      val dir = graft.Derived.scratch("graft_orc")
      df.write.mode("overwrite").orc(dir)
      s.read.orc(dir).orderBy("p_partkey")
    }),

    // XML sink + source round-trip (round 5) — Spark 4 ships the XML
    // data source in core (the spark-xml donation). Explicit read
    // schema: XML infers numerics loosely, and the driver compare is
    // schema-exact.
    "scan_xml_roundtrip" -> ((s, d) => {
      val df = load(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val dir = graft.Derived.scratch("graft_xml")
      df.write.mode("overwrite").option("rowTag", "nation").xml(dir)
      s.read.schema(df.schema).option("rowTag", "nation").xml(dir)
        .orderBy("n_nationkey")
    }),

    // Text source round-trip: the line-oriented `text` format (one
    // string column `value`) — the raw-crawl shape a training pipeline
    // ingests before any schema exists.
    "scan_text_roundtrip" -> ((s, d) => {
      val df = load(s, d, "documents")
        .select(concat_ws("|", col("doc_id").cast("string"), col("lang")).as("value"))
      val dir = graft.Derived.scratch("graft_text")
      df.write.mode("overwrite").text(dir)
      s.read.text(dir).orderBy("value")
    }),

    // Schema-evolution read: two parquet writes with different schemas
    // (the second adds a column) merged into one frame with
    // mergeSchema — missing columns null-fill. The lakehouse pattern
    // for additive schema changes without a table rewrite.
    "scan_merge_schema" -> ((s, d) => {
      val dir = graft.Derived.scratch("graft_evolve")
      val v1 = load(s, d, "nation").select("n_nationkey", "n_name")
      val v2 = load(s, d, "nation").select(
        (col("n_nationkey") + 100).as("n_nationkey"),
        col("n_name"), col("n_regionkey"))
      v1.write.mode("overwrite").parquet(dir)
      v2.write.mode("append").parquet(dir)
      Parquet.read(s, Seq(dir), mergeSchema = true).orderBy("n_nationkey")
    }),

    // A7: deterministic single-file parquet sink (the Verify path
    // itself): sorted coalesce(1) write preserves global order because
    // coalesce merges range partitions in partition-index order.
    "sink_parquet" -> ((s, d) => {
      val dir = graft.Derived.scratch("graft_sink")
      load(s, d, "orders").orderBy("o_orderkey")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      Parquet.read(s, dir).orderBy("o_orderkey")
    }),
  )

  val oracle: Map[String, String] = Map(
    "scan_parquet" -> "SELECT count(*) AS n_rows FROM lineitem",
    "scan_pruned" ->
      "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_quantity",
    "scan_filtered" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_returnflag FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
        | ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_events_ns" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        | FROM events ORDER BY event_id""".stripMargin,
    // A5/A6/A7 + ORC are sink+source ROUND-trips: the output contract
    // is "identical to the base-table projection", so the oracle is
    // exactly that projection — the DuckDB side never needs to read
    // the intermediate CSV/JSON/ORC file (round-3 promotion,
    // VERDICT r2 "What's missing" #2).
    "scan_csv_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
        | FROM lineitem WHERE l_orderkey % 100 = 0
        | ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // A5b: corruption is a pure function of o_orderkey, so the
    // expected PERMISSIVE output (parsed fields kept, bad price
    // nulled, row flagged) reconstructs from the base table.
    "scan_csv_malformed" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 500 = 0 THEN NULL
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS o_totalprice,
        |  (o_orderkey % 500 = 0) AS is_bad
        | FROM orders WHERE o_orderkey % 100 = 0
        | ORDER BY o_orderkey""".stripMargin,
    "scan_json_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        | WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,
    "scan_orc_roundtrip" ->
      """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part
        | WHERE p_partkey % 10 = 0 ORDER BY p_partkey""".stripMargin,
    "sink_parquet" ->
      "SELECT * FROM orders ORDER BY o_orderkey",
    "scan_xml_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        | ORDER BY n_nationkey""".stripMargin,
    "scan_text_roundtrip" ->
      """SELECT CAST(doc_id AS VARCHAR) || '|' || lang AS value
        | FROM documents ORDER BY value""".stripMargin,
    "scan_merge_schema" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey FROM nation
        | UNION ALL
        | SELECT n_nationkey + 100, n_name, n_regionkey FROM nation
        | ORDER BY n_nationkey""".stripMargin,
  )
}
