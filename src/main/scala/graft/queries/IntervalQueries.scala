package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.load
import graft.sources.Parquet

/** Family Y — interval/corpus analytics + partition-overwrite
  * semantics (ref: n/a, SURVEY §0 — the reference repo is empty).
  *
  * Scale shapes (the 100 TB contract):
  *  - Y1 ts_concurrency: the sweep-line classic — intervals unpivot
  *    to ±1 boundary events (map-side 2× fanout), the running sum
  *    rides ONE event_type exchange, and the max-concurrency argmax
  *    shares it. Tie rule pinned: at equal timestamps ends process
  *    before starts (touching intervals don't overlap).
  *  - Y2 ts_gap_stats: inter-arrival analysis per user — lag diff +
  *    rank-select discrete p50 + aggregation, all on one user_id
  *    exchange.
  *  - Y3 text_cooccurrence: skip-gram pair counts (distance 1 and 2)
  *    — pair explosion is map-side (index explode, no self-join);
  *    the only full shuffle carries (dist, w1, w2) partial counts.
  *  - Y4 dml_partition_overwrite: dynamic partition overwrite
  *    (INSERT OVERWRITE one partition leaves the others) — the
  *    lakehouse backfill primitive; the rewrite touches ONLY the
  *    target partition's files.
  */
object IntervalQueries {

  val queries: Map[String, Q] = Map(
    // Y1: max concurrent intervals per event_type — each event spans
    // [ts, ts + value·10ms]; sweep-line with exact integer counters.
    "ts_concurrency" -> ((s, d) => {
      val ev = load(s, d, "events")
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("t0"),
          expr("unix_micros(cast(ts as timestamp)) + CAST(round(value * 100) AS BIGINT) * 10000").as("t1"))
      val bounds = ev.select(col("event_type"), col("event_id"), col("t0").as("t"), lit(1L).as("delta"))
        .unionAll(ev.select(col("event_type"), col("event_id"), col("t1").as("t"), lit(-1L).as("delta")))
      val ord = Window.partitionBy("event_type")
        .orderBy(col("t").asc, col("delta").asc, col("event_id").asc)
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val swept = bounds.withColumn("conc", sum(col("delta")).over(run))
      val pick = Window.partitionBy("event_type")
        .orderBy(col("conc").desc, col("t").asc, col("event_id").asc)
      swept.withColumn("rk", row_number().over(pick))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("conc").as("max_conc"), col("t").as("at_us"))
        .orderBy("event_type")
    }),

    // Y2: inter-arrival gap stats per user — count, exact mean,
    // max, and DISCRETE p50 (rank select, the ts_mad contract).
    "ts_gap_stats" -> ((s, d) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ep").asc, col("event_id").asc)
      val gaps = load(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ep"))
        .withColumn("gap", col("ep") - lag(col("ep"), 1).over(ord))
        .filter(col("gap").isNotNull)
      val rankw = Window.partitionBy("user_id").orderBy(col("gap").asc, col("event_id").asc)
      val all = Window.partitionBy("user_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val p50 = gaps.withColumn("rn", row_number().over(rankw).cast("bigint"))
        .withColumn("nn", count(lit(1)).over(all))
        .filter(col("rn") === expr("(nn + 1) DIV 2"))
        .select(col("user_id"), col("gap").as("p50_gap_us"))
      // mean rendered as a FLOOR-scaled integer (×1000): sum/n with a
      // 2^a·5^b group count lands on exact decimal ties, where Spark's
      // HALF_UP and DuckDB's large-value half-even cast disagree —
      // floor division is the tie-free render.
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(expr("CAST(gap AS DECIMAL(38,0))")).as("sg"),
          max(col("gap")).as("max_gap_us"))
        .join(p50, "user_id")
        .select(col("user_id"), col("n_gaps"),
          expr("CAST((sg * 1000) DIV CAST(n_gaps AS DECIMAL(38,0)) AS BIGINT)").as("avg_gap_us_x1000"),
          col("max_gap_us"), col("p50_gap_us"))
        .orderBy("user_id")
    }),

    // Y3: skip-gram co-occurrence — top-5 (w1, w2) pairs at word
    // distance 1 and 2 across the corpus; map-side index explode,
    // one (dist, pair) shuffle of partial counts.
    "text_cooccurrence" -> ((s, d) => {
      val words = load(s, d, "documents")
        .select(split(lower(col("text")), " ").as("w"))
      def pairs(dist: Int) = words
        .filter(size(col("w")) > dist)
        .select(explode(expr(s"sequence(1, size(w) - $dist)")).as("i"), col("w"))
        .select(lit(dist.toLong).as("dist"),
          expr("element_at(w, CAST(i AS INT))").as("w1"),
          expr(s"element_at(w, CAST(i + $dist AS INT))").as("w2"))
      val counted = pairs(1).unionAll(pairs(2))
        .groupBy("dist", "w1", "w2").agg(count(lit(1)).as("c"))
      val rank = Window.partitionBy("dist")
        .orderBy(col("c").desc, col("w1").asc, col("w2").asc)
      counted.withColumn("rn", row_number().over(rank).cast("bigint"))
        .filter(col("rn") <= 5)
        .select(col("dist"), col("rn"), col("w1"), col("w2"), col("c"))
        .orderBy("dist", "rn")
    }),

    // Y4: dynamic partition overwrite — backfill ONE partition
    // (1-URGENT gets +10.00 on every price) and leave the rest
    // untouched; read the final table state back.
    "dml_partition_overwrite" -> ((s, d) => {
      val dir = graft.Derived.dir("pov", d, "orders") { out =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey"),
            col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price"),
            col("o_orderpriority"))
        base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
        val saved = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          base.filter(col("o_orderpriority") === "1-URGENT")
            .withColumn("price",
              (col("price") + 10).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
        } finally saved match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      Parquet.read(s, dir)
        .select(col("o_orderkey"), col("price"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    // Y5 (round 8): overlapping-interval COALESCING per user — the
    // gaps-and-islands classic (billing/uptime/coverage): each event
    // spans [ts, ts + value·10ms); an island opens where the start
    // exceeds the running max end of all earlier intervals (abutting
    // intervals merge). Output per user: interval/island counts,
    // total covered time, longest island. ALL-INTEGER arithmetic
    // (µs epochs) — nothing to round, hash-exact cross-engine. One
    // user_id exchange carries both window passes AND the island
    // rollup (keys are supersets of the partition key); the final
    // per-user aggregate is combinable.
    "interval_merge" -> ((s, d) => {
      val iv = load(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("t0"),
          expr("unix_micros(cast(ts as timestamp)) + CAST(round(value * 100) AS BIGINT) * 10000").as("t1"))
      val ord = Window.partitionBy("user_id").orderBy(col("t0").asc, col("t1").asc, col("event_id").asc)
      val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val islanded = iv
        .withColumn("pmax", max(col("t1")).over(prev))
        .withColumn("brk",
          when(col("pmax").isNull || col("t0") > col("pmax"), 1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(run))
      islanded
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("n_iv"), min(col("t0")).as("i0"), max(col("t1")).as("i1"))
        .groupBy("user_id")
        .agg(sum(col("n_iv")).cast("bigint").as("n_intervals"),
          count(lit(1)).cast("bigint").as("n_islands"),
          sum(col("i1") - col("i0")).cast("bigint").as("covered_us"),
          max(col("i1") - col("i0")).cast("bigint").as("max_island_us"))
        .orderBy("user_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "interval_merge" ->
      """WITH iv AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t0,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + CAST(round(value * 100) AS BIGINT) * 10000 AS t1
        |  FROM events),
        | w AS (SELECT user_id, event_id, t0, t1,
        |    max(t1) OVER (PARTITION BY user_id ORDER BY t0, t1, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        | b AS (SELECT *, CASE WHEN pmax IS NULL OR t0 > pmax THEN 1 ELSE 0 END AS brk FROM w),
        | g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t0, t1, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM b),
        | i AS (SELECT user_id, island, count(*) AS n_iv, min(t0) AS i0, max(t1) AS i1
        |       FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(i1 - i0) AS BIGINT) AS covered_us,
        |  CAST(max(i1 - i0) AS BIGINT) AS max_island_us
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ts_concurrency" ->
      """WITH ev AS (SELECT event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t0,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + CAST(round(value * 100) AS BIGINT) * 10000 AS t1
        |  FROM events),
        | b AS (
        |  SELECT event_type, event_id, t0 AS t, CAST(1 AS BIGINT) AS delta FROM ev
        |  UNION ALL
        |  SELECT event_type, event_id, t1, -1 FROM ev),
        | sw AS (SELECT *, sum(delta) OVER (PARTITION BY event_type
        |    ORDER BY t, delta, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM b),
        | r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY conc DESC, t ASC, event_id ASC) AS rk FROM sw)
        |SELECT event_type, CAST(conc AS BIGINT) AS max_conc, t AS at_us
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "ts_gap_stats" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ep FROM events),
        | g AS (SELECT user_id, event_id,
        |    ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS gap
        |  FROM e),
        | gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY gap, event_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS nn
        |  FROM gg),
        | p AS (SELECT user_id, gap AS p50_gap_us FROM r WHERE rn = (nn + 1) // 2),
        | a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    sum(CAST(gap AS DECIMAL(38,0))) AS sg, max(gap) AS max_gap_us
        |  FROM gg GROUP BY 1)
        |SELECT a.user_id, n_gaps,
        |  CAST(CAST(sg AS HUGEINT) * 1000 // n_gaps AS BIGINT) AS avg_gap_us_x1000,
        |  max_gap_us, p50_gap_us
        |FROM a JOIN p USING (user_id) ORDER BY user_id""".stripMargin,
    "text_cooccurrence" ->
      """WITH w AS (SELECT string_split(lower(text), ' ') AS w FROM documents),
        | p1 AS (SELECT CAST(1 AS BIGINT) AS dist, w[CAST(i AS INT)] AS w1,
        |    w[CAST(i + 1 AS INT)] AS w2
        |  FROM w, unnest(generate_series(1, len(w) - 1)) AS u(i)
        |  WHERE len(w) > 1),
        | p2 AS (SELECT CAST(2 AS BIGINT) AS dist, w[CAST(i AS INT)] AS w1,
        |    w[CAST(i + 2 AS INT)] AS w2
        |  FROM w, unnest(generate_series(1, len(w) - 2)) AS u(i)
        |  WHERE len(w) > 2),
        | c AS (SELECT dist, w1, w2, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) GROUP BY 1, 2, 3),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY dist
        |    ORDER BY c DESC, w1 ASC, w2 ASC) AS BIGINT) AS rn FROM c)
        |SELECT dist, rn, w1, w2, c FROM r WHERE rn <= 5
        |ORDER BY dist, rn""".stripMargin,
    "dml_partition_overwrite" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DECIMAL(18,2)) AS price,
        |  o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin
  )
}
