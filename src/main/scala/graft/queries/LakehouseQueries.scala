package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables.{dec, load}
import graft.sources.Parquet

/** Family S — lakehouse / warehouse-maintenance extensions (ref: n/a,
  * SURVEY §0 — the reference repo is empty): calendar-dimension
  * generation, rolling trend estimation, CDC changelog application,
  * and Z-order clustering.
  *
  * Scale shapes (the 100 TB contract):
  *  - S1 ts_calendar explodes a date spine from a 1-row min/max
  *    aggregate — spine size is calendar days, independent of fact
  *    size; the per-day order counts ride one date-keyed shuffle.
  *  - S2 ts_trend computes rolling OLS power sums over a ROWS frame —
  *    one event_type shuffle, linear walk per shard, exact decimal
  *    sums (the ts_anomaly contract, with x = the row index so the
  *    frame sums stay closed-form).
  *  - S3 dml_cdc_apply resolves a changelog with one window pass on
  *    (key ORDER BY seq DESC) — the per-key state is the newest
  *    change, never the full history; identical shape at any log
  *    length.
  *  - S4 sort_zorder computes the interleaved z-value with a HOF bit
  *    fold (map-only, stays in codegen — no row explosion) and
  *    reports per-bucket min/max spans of BOTH dims — the
  *    data-skipping quality a lakehouse OPTIMIZE ZORDER run is judged
  *    by. One bucket-count-sized agg after the map.
  */
object LakehouseQueries {

  val queries: Map[String, Q] = Map(
    // S1: calendar dimension — full date spine between the fact's min
    // and max order date with ISO weekday, month/quarter anchors, and
    // per-day order counts (zero-filled on empty days).
    "ts_calendar" -> ((s, d) => {
      val spine = load(s, d, "orders")
        .agg(min(col("o_orderdate").cast("date")).as("d0"),
          max(col("o_orderdate").cast("date")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val perDay = load(s, d, "orders")
        .groupBy(col("o_orderdate").cast("date").as("od"))
        .agg(count(lit(1)).as("c"))
      spine.join(perDay, col("day") === col("od"), "left")
        .select(col("day"),
          expr("extract(dayofweek_iso FROM day)").cast("bigint").as("isodow"),
          month(col("day")).cast("bigint").as("mon"),
          quarter(col("day")).cast("bigint").as("qtr"),
          year(col("day")).cast("bigint").as("yr"),
          (col("day") === last_day(col("day"))).as("is_month_end"),
          date_trunc("week", col("day")).cast("date").as("wk_start"),
          coalesce(col("c"), lit(0L)).as("n_orders"))
        .orderBy("day")
    }),

    // S2: rolling 20-event OLS trend per event_type — slope of value
    // against the row index over a trailing ROWS frame; power sums
    // are exact decimals (x = rn is a bigint), the slope one double
    // division — the ts_anomaly determinism contract.
    "ts_trend" -> ((s, d) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(col("t").asc, col("event_id").asc)
      val frame = ord.rowsBetween(-20, 0)
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val base = load(s, d, "events")
        .select(col("event_id"), col("event_type"),
          dec(col("value")).as("y"), col("ts").cast("timestamp").as("t"))
        .withColumn("x", row_number().over(ord).cast("bigint"))
      val w = base
        .withColumn("n", count(lit(1)).over(frame))
        .withColumn("sx", sum(dec(col("x"))).over(frame))
        .withColumn("sxx", sum(dec(col("x")) * dec(col("x"))).over(frame))
        .withColumn("sy", sum(col("y")).over(frame))
        .withColumn("sxy", sum(dec(col("x")) * col("y")).over(frame))
      w.select(col("event_id"), col("event_type"), col("n"),
          when(col("n") >= 10,
            ((D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy")))
              / (D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))))
              .cast(DecimalType(18, 6))).as("slope"))
        .orderBy("event_id")
    }),

    // S3: CDC changelog apply — a synthetic ordered changelog (seq 1
    // inserts everything; seq 2 deletes key%4==0 and re-prices
    // key%4==1) resolved to final state: newest change per key wins,
    // tombstones drop out. ONE window pass on (key, seq DESC).
    "dml_cdc_apply" -> ((s, d) => {
      val base = load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), dec(col("o_totalprice")).as("price"))
      val log = base.select(col("o_orderkey"), lit("I").as("op"), lit(1L).as("seq"),
          col("o_orderstatus"), col("price"))
        .unionAll(base.filter(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey"), lit("D").as("op"), lit(2L).as("seq"),
            col("o_orderstatus"), col("price")))
        .unionAll(base.filter(col("o_orderkey") % 4 === 1)
          .select(col("o_orderkey"), lit("U").as("op"), lit(2L).as("seq"),
            col("o_orderstatus"), (col("price") * lit(2)).cast(DecimalType(18, 2)).as("price")))
      val w = Window.partitionBy("o_orderkey").orderBy(col("seq").desc)
      log.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("o_orderkey"), col("op").as("last_op"),
          col("o_orderstatus"), col("price"))
        .orderBy("o_orderkey")
    }),

    // S5: snapshot diff — compare two table versions (v2 deletes
    // key%7==0, re-prices key%5==0, inserts a shifted copy of
    // key%11==0) and emit added/removed/changed rows only. ONE
    // orderkey-keyed full outer join; output is diff-sized, never
    // table-sized.
    "dml_snapshot_diff" -> ((s, d) => {
      val v1 = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p1"))
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p2"))
      val v2 = base.filter(col("k") % 7 =!= 0)
        .withColumn("p2", when(col("k") % 5 === 0,
          (col("p2") * 2).cast(DecimalType(18, 2))).otherwise(col("p2")))
        .unionAll(base.filter(col("k") % 11 === 0)
          .select((col("k") + 1000000000L).as("k"), col("p2")))
      v1.join(v2, Seq("k"), "full_outer")
        .withColumn("change",
          when(col("p1").isNull, "A")
            .when(col("p2").isNull, "R")
            .when(col("p1") =!= col("p2"), "C"))
        .filter(col("change").isNotNull)
        .select(col("k"), col("change"), col("p1").as("old_price"), col("p2").as("new_price"))
        .orderBy("k")
    }),

    // S4: Z-order clustering quality — interleave the 16-bit customer
    // and day-of-1996 coordinates into a z-value (HOF fold: map-only,
    // no row explosion, stays in codegen), bucket by the top bits,
    // and report each bucket's span of BOTH dims: tight spans ==
    // effective min/max data skipping on either predicate column.
    "sort_zorder" -> ((s, d) =>
      load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          col("o_custkey").cast("bigint").as("xc"),
          datediff(col("o_orderdate").cast("date"), lit("1996-01-01").cast("date"))
            .cast("bigint").as("yd"))
        .withColumn("zval", expr(
          """aggregate(sequence(0, 15), 0L, (acc, i) ->
            |  acc + shiftleft(shiftright(xc, CAST(i AS INT)) % 2, CAST(2*i AS INT))
            |      + shiftleft(shiftright(yd, CAST(i AS INT)) % 2, CAST(2*i+1 AS INT)))""".stripMargin))
        .groupBy(expr("zval DIV 16384").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("xc")).as("cust_min"), max(col("xc")).as("cust_max"),
          min(col("yd")).as("day_min"), max(col("yd")).as("day_max"))
        .orderBy("bucket"))
  ,

    // S6 (round 9): snapshot-isolation TIME TRAVEL over a real
    // persisted commit log (sources/CommitLog — the Delta/Iceberg
    // protocol core: full-snapshot manifests published by atomic
    // rename, copy-on-write data units, partition-aligned file-drop
    // deletes). The table is built once per (sfDir, orders
    // fingerprint): v0 = the base table in 4 key-bucket units; v1 =
    // a COW upsert that rewrites exactly ONE unit (bucket 2 re-priced
    // ×2) and adds bucketed insert units (k%11 rows, keys shifted
    // +1e9 — 1e9 ≡ 0 mod 4, so insert buckets align with base
    // buckets); v2 = a pure MANIFEST delete of every bucket-1 unit
    // (zero rows rewritten). The query then reads ALL THREE versions
    // through the log and aggregates each — proving old snapshots
    // stay byte-stable after later commits. Oracled end-to-end: the
    // DuckDB twin recomputes each version's content arithmetically
    // from `orders`. At 100 TB: each snapshot read is a plain
    // multi-path parquet scan (pushdown/pruning intact); commits are
    // O(new data + manifest), never O(table).
    "dml_time_travel" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("tt", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
            (col("o_orderkey") % 4).cast("int").as("bucket"))
        base.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        // same existence rule as the insert units below (ADVICE r9): at
        // a degenerate SF an empty k%4 bucket writes NO directory, and
        // a manifest line for it would poison every snapshot read
        val v0Units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, v0Units)
        base.filter(col("bucket") === 2)
          .select(col("k"), (col("p") * 2).cast(DecimalType(18, 2)).as("p"))
          .write.parquet(s"$dir/data/v1b2")
        base.filter(col("k") % 11 === 0)
          .select((col("k") + 1000000000L).as("k"), col("p"), col("bucket"))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v1ins")
        // an empty insert bucket writes no directory — reference only
        // the units that exist (manifests list real files, not hopes)
        val insUnits = CommitLog.partitionUnits(dir, "data/v1ins", "bucket")
        CommitLog.commit(dir, 1L,
          v0Units.filterNot(_.endsWith("bucket=2")) :+ "data/v1b2" :++ insUnits)
        CommitLog.commit(dir, 2L,
          (v0Units.filterNot(_.endsWith("bucket=2")) :+ "data/v1b2" :++ insUnits)
            .filterNot(_.endsWith("bucket=1")))
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .select(lit(v).cast("bigint").as("version"), col("n_rows"),
            col("total"), col("min_k"), col("max_k"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S7 (round 9): OPTIMIZE — small-file compaction as a commit-log
    // version. The table is born fragmented (16 key-bucket units, the
    // many-small-files state a streaming ingest leaves behind); v1
    // compacts the v0 snapshot into ONE unit and publishes it as a
    // new version — content identical, layout changed, v0 still
    // readable (time travel across an OPTIMIZE, exactly Delta/Iceberg
    // semantics). Output is the per-version (unit count, row count,
    // exact total) proving "layout, not content" — fully oracled: the
    // unit count at v0 is count(DISTINCT k%16) by construction (only
    // non-empty buckets become units), which the DuckDB twin computes
    // directly. The VACUUM protocol (reclaiming v0's units after
    // retention) is exercised on a scratch table in Round9OpsSpec —
    // running it here would make the cached artifact read-once.
    // At 100 TB: compaction cost is one read+write of LIVE data,
    // commit cost O(manifest); readers never block (the new version
    // is invisible until the atomic manifest rename).
    "dml_optimize" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("opt", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
            (col("o_orderkey") % 16).cast("int").as("b"))
        base.repartition(col("b"))
          .write.partitionBy("b").parquet(s"$dir/data/small")
        val units0 = CommitLog.partitionUnits(dir, "data/small", "b")
        CommitLog.commit(dir, 0L, units0)
        CommitLog.snapshot(s, dir, 0L).coalesce(1)
          .write.parquet(s"$dir/data/compact")
        CommitLog.commit(dir, 1L, Seq("data/compact"))
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            lit(CommitLog.units(root, v).size.toLong).as("n_units"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S8 (round 9): SCHEMA EVOLUTION — the additive-column path. v0
    // units carry (k, p); v1 appends new rows written WITH an extra
    // `flag` column (keys shifted +2e9; 2e9 ≡ 2 mod 4, irrelevant
    // here — the shift just keeps key spaces disjoint). Reading v1
    // through snapshotEvolved (parquet mergeSchema) surfaces `flag`
    // on the old units as null — schema-on-read, no rewrite of
    // history, and v0 still reads with its original 2-column schema.
    // Output: per version, row count, column count (driver metadata),
    // exact total, and the non-null flag tally. Fully oracled from
    // `orders` arithmetic. At 100 TB: evolution costs one footer read
    // per unit at planning time, zero data rewrite — the whole point
    // of additive schema-on-read.
    "dml_schema_evolution" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("se", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.write.parquet(s"$dir/data/u0")
        CommitLog.commit(dir, 0L, Seq("data/u0"))
        base.filter(col("k") % 9 === 0)
          .select((col("k") + 2000000000L).as("k"), col("p"),
            lit("new").as("flag"))
          .write.parquet(s"$dir/data/u1")
        // the evolution commit goes through the WRITE-side schema gate:
        // existing columns type-checked against the snapshot, the new
        // `flag` column admitted by the explicit additive opt-in
        CommitLog.commitChecked(s, dir, 1L, Seq("data/u0", "data/u1"),
          allowAdditive = true)
      }
      CommitLog.versions(root).map { v =>
        val snap = CommitLog.snapshotEvolved(s, root, v)
        val flagged =
          if (snap.columns.contains("flag")) count(col("flag"))
          else lit(0L)
        snap.agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"),
            flagged.cast("bigint").as("n_flagged"))
          .select(lit(v).cast("bigint").as("version"),
            lit(snap.columns.length.toLong).as("n_cols"),
            col("n_rows"), col("total"), col("n_flagged"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S9 (round 9): STATS-BASED DATA SKIPPING — the manifest-level
    // min/max file-stats index of the lakehouse formats. The table is
    // laid out in 8 contiguous KEY-RANGE units (width = max_k DIV 8
    // + 1 — range clustering is what makes min/max stats selective;
    // a hash layout's per-unit ranges all span the key space and
    // nothing skips); commit publishes a per-unit (min,max,count)
    // sidecar. Three probes — one inside a single unit, one
    // straddling two, one over everything — each an ordinary
    // snapshot filter, whose scan prunes units at PLANNING time from
    // the stats alone (CommitLog.scannedUnits counts them). Output:
    // per probe, units actually scanned + the probe's row count and
    // exact total. Fully oracled: DuckDB recomputes the unit ranges
    // (k DIV width) and applies the same intersects-[lo,hi] rule.
    // At 100 TB the stats sidecar is O(units) text and the skipping
    // decision touches no data files — reading 1/8th of the table
    // costs 1/8th.
    "dml_data_skipping" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("skip", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        val wd = base.agg(expr("max(k) DIV 8 + 1")).head().getLong(0)
        // ks = the zero-padded key string: lexicographic order equals
        // numeric order, so range clustering makes STRING footer
        // min/max selective too (the ISO-date / padded-id case)
        val withB = base
          .withColumn("ks", lpad(col("k").cast("string"), 12, "0"))
          .withColumn("bucket", expr(s"k DIV ${wd}L"))
        withB.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        val units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, units)
        // round 10: stats are LIFTED FROM THE JUST-WRITTEN FOOTERS
        // (footerColStats — metadata-only I/O, the writer already paid
        // for them), not recomputed by a second scan the caller could
        // get wrong; published via the same atomic hard-link protocol
        // as the manifest
        CommitLog.writeColStats(dir, 0L,
          CommitLog.footerColStats(s, dir, units, Seq("k", "ks")))
      }
      val maxK = load(s, d, "orders")
        .agg(max(col("o_orderkey"))).head().getLong(0)
      val wd = maxK / 8L + 1L
      def pad(v: Long) = f"$v%012d"
      val (lo3, hi3) = (6L * wd + wd / 2L, 7L * wd + wd / 2L)
      Seq(
        (0L, col("k").between(2L * wd, 3L * wd - 1L)),   // fully inside unit 2
        (1L, col("k").between(5L * wd + wd / 2L, 6L * wd + wd / 2L)), // units 5+6
        (2L, col("k").between(0L, maxK)),               // everything
        // probe 3: the STRING column path end-to-end — pruned on the
        // footers' binary min/max, filtered lexicographically
        (3L, col("ks").between(pad(lo3), pad(hi3)))
      ).map { case (id, probe) =>
        probeRow(id, CommitLog.snapshot(s, root, 0L).filter(probe))
      }.reduce(_ unionAll _).orderBy("probe")
    }),

    // S10 (round 9): INCREMENTAL READ — the table consumed as a
    // stream. An append-only log (v0/v1/v2 each adding one key-slice
    // unit) is read version by version through CommitLog.incremental,
    // which hands back ONLY the units that version added (and fails
    // loudly on non-append versions — retractions need CDC). Each
    // "micro-batch" therefore costs O(delta); the output carries both
    // the per-version delta stats and the full-snapshot row count,
    // proving delta sums reconstruct the table exactly — the
    // Delta/Iceberg streaming-source contract without a Kafka jar
    // (SURVEY §7.4.5: none ships in this image; the table-as-stream
    // feed is the honest file-native equivalent). Fully oracled from
    // k%3 arithmetic.
    "dml_incremental_read" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = incrTable(s, d)
      CommitLog.versions(root).map { v =>
        val added = CommitLog.incremental(s, root, v)
        val snapRows = CommitLog.snapshot(s, root, v).count()
        added.agg(count(lit(1)).as("n_added_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("added_total"))
          .select(lit(v).cast("bigint").as("version"),
            lit(CommitLog.addedUnits(root, v).size.toLong).as("n_added_units"),
            col("n_added_rows"), col("added_total"),
            lit(snapRows).as("n_snapshot_rows"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S11 (round 9): SHALLOW CLONE — a zero-copy table fork. The
    // clone is a NEW table whose v0 manifest references the SOURCE's
    // data units by relative path: no byte of data moves, the clone
    // materializes instantly at any table size (manifest-write cost
    // only — Delta's SHALLOW CLONE). The clone then evolves
    // INDEPENDENTLY: its v1 adds a unit of its own (the k%3==0 slice
    // with keys shifted +5e9) that the source never sees — the
    // dev/test-against-prod-data workflow. Output: the clone's
    // per-version row count and exact total; Round9OpsSpec pins
    // source isolation (the source's version list and content are
    // untouched by the clone's writes). Fully oracled.
    "dml_clone" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("clone", d, "orders") { dir =>
        val src = incrTable(s, d)
        // reference the source's CURRENT snapshot units relative to
        // the clone root — the whole clone is this manifest write
        val rel = CommitLog.units(src, CommitLog.latestVersion(src))
          .map(u => java.nio.file.Paths.get(dir)
            .relativize(java.nio.file.Paths.get(u)).toString)
        CommitLog.commit(dir, 0L, rel)
        load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
          .filter(col("k") % 3 === 0)
          .select((col("k") + 5000000000L).as("k"), col("p"))
          .write.parquet(s"$dir/data/own")
        CommitLog.commit(dir, 1L, rel :+ "data/own")
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S12 (round 10): CDC READ — the row-level changes feed over the
    // commit log (CommitLog.changes: symmetric multiset diff of only
    // the touched units). The table walks the full lifecycle an
    // incremental consumer must survive: v0 base insert (4 key-bucket
    // units), v1 COW update (bucket 2 re-priced ×2 — surfaces as
    // delete-old + insert-new pairs), v2 OPTIMIZE (all units
    // compacted to one — content identical, so the change feed MUST
    // be empty: rewrite-without-change detection, the property that
    // keeps maintenance commits from replaying the table at
    // downstream consumers), v3 COW delete (k%4==1 rows dropped —
    // pure deletes, the untouched rows of the rewritten unit cancel
    // out of the diff). Output: the zero-filled (version ×
    // change_type) lattice with row counts and exact totals — v2's
    // explicit (0, 0.00) rows ARE the assertion. Fully oracled from
    // orders arithmetic. At 100 TB: each version's feed costs
    // O(touched units) — v2's diff reads only the rewritten data,
    // never the table's history, and the diff itself is one
    // hash-exchange per side.
    "dml_cdc_read" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = cdcTable(s, d)
      val per = CommitLog.versions(root).map { v =>
        CommitLog.changes(s, root, v)
          .groupBy(col("_change_type").as("ct"))
          .agg(count(lit(1)).as("cn"),
            sum(col("p")).cast(DecimalType(38, 2)).as("ctot"))
          .select(lit(v).cast("bigint").as("cv"), col("ct"), col("cn"), col("ctot"))
      }.reduce(_ unionAll _)
      // zero-filled lattice: an EMPTY feed (v2, the OPTIMIZE) must be
      // visible as explicit zero rows, not silently absent
      import s.implicits._
      val spine = CommitLog.versions(root)
        .flatMap(v => Seq((v, "insert"), (v, "delete")))
        .toDF("version", "change_type")
      spine.join(per,
          col("version") === col("cv") && col("change_type") === col("ct"), "left")
        .select(col("version"), col("change_type"),
          coalesce(col("cn"), lit(0L)).as("n_rows"),
          coalesce(col("ctot"), lit(0).cast(DecimalType(38, 2))).as("total"))
        .orderBy("version", "change_type")
    }),

    // S26 (round 11): the CDC lattice of dml_cdc_read walked across a
    // MERGE-ON-READ lifecycle (VERDICT r10 #5's oracled extension) —
    // the declare-time visibility rule made arithmetic: v0 inserts the
    // even-key slice; v1 is ONE upsertMoR whose feed must read as the
    // pre/post-image pair (delete k%6==0 at OLD prices + insert the
    // same keys at ×3 alongside the odd-multiple-of-3 arrivals) even
    // though no data unit was rewritten; v2 = applyDeletes is pure
    // maintenance and must read EMPTY — the retractions already
    // surfaced at v1, and re-emitting them would double-delete a
    // folding replica (both zero rows pinned by the oracle). The v0
    // cstats on k also make v1's pre-image read stats-ROUTED: only
    // range-intersecting units open (at this layout, all of them —
    // the routing is exercised, the pruning is LogStress's row).
    "dml_cdc_read_mor" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("cdcmor", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(col("k") % 2 === 0).coalesce(1)
          .write.parquet(s"$dir/u0")
        CommitLog.commit(dir, 0L, Seq("u0"))
        CommitLog.writeColStats(dir, 0L,
          CommitLog.footerColStats(s, dir, Seq("u0"), Seq("k")))
        CommitLog.upsertMoR(s, dir,
          base.filter(col("k") % 6 === 0)
            .select(col("k"), (col("p") * 3).cast(DecimalType(18, 2)).as("p"))
            .unionAll(base.filter(col("k") % 2 === 1 && col("k") % 3 === 0)),
          "k")
        CommitLog.applyDeletes(s, dir, "k")
      }
      val per = CommitLog.versions(root).map { v =>
        CommitLog.changes(s, root, v)
          .groupBy(col("_change_type").as("ct"))
          .agg(count(lit(1)).as("cn"),
            sum(col("p")).cast(DecimalType(38, 2)).as("ctot"))
          .select(lit(v).cast("bigint").as("cv"), col("ct"), col("cn"), col("ctot"))
      }.reduce(_ unionAll _)
      import s.implicits._
      val spine = CommitLog.versions(root)
        .flatMap(v => Seq((v, "insert"), (v, "delete")))
        .toDF("version", "change_type")
      spine.join(per,
          col("version") === col("cv") && col("change_type") === col("ct"), "left")
        .select(col("version"), col("change_type"),
          coalesce(col("cn"), lit(0L)).as("n_rows"),
          coalesce(col("ctot"), lit(0).cast(DecimalType(38, 2))).as("total"))
        .orderBy("version", "change_type")
    }),

    // S13 (round 10): MERGE as unit-granular copy-on-write
    // (CommitLog.mergeCow). The table is the key-range-clustered
    // 8-unit layout of dml_data_skipping (range clustering is what
    // makes merge routing selective); the merge re-prices two key
    // slices confined to units 2 and 5 (×3) and upserts a k%13 slice
    // shifted past every unit's range (pure inserts). Routing via the
    // k entries of the cstats sidecar (lifted from the v0 footers)
    // rewrites EXACTLY units 2+5 — ONE rewrite unit per
    // touched unit, so each new range stays a subset of its source's
    // and the layout stays disjoint (non-adjacent touches must not
    // collapse into a span covering carried units, or the next merge's
    // overlap guard locks the table — ADVICE r10) — and lands the
    // inserts in a separate unit; 6 of 8 original units are never
    // opened and stay byte-identical (pinned by Round10OpsSpec, with
    // the commit-race loser-retry path). Output: per-version (unit
    // count, row count, exact total); v1's unit count (9 = 8 kept
    // 1:1 through per-unit rewrite + 1 insert) is itself the routing
    // assertion. Fully oracled from orders arithmetic. At 100 TB: a
    // merge touching 2 of 10⁵ units moves 2 units of data + O(units)
    // manifest text; the commit is optimistic, lock-free.
    "dml_merge_cow" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("merge", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        val wd = base.agg(expr("max(k) DIV 8 + 1")).head().getLong(0)
        val withB = base.withColumn("bucket", expr(s"k DIV ${wd}L"))
        withB.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        val units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, units)
        CommitLog.writeColStats(dir, 0L,
          CommitLog.footerColStats(s, dir, units, Seq("k")))
        val updates = base
          .withColumn("bucket", expr(s"k DIV ${wd}L"))
          .filter((col("bucket") === 2 && col("k") % 2 === 0)
            || (col("bucket") === 5 && col("k") % 3 === 0))
          .select(col("k"), (col("p") * 3).cast(DecimalType(18, 2)).as("p"))
          .unionAll(base.filter(col("k") % 13 === 0)
            .select((col("k") + 8L * wd).as("k"), col("p")))
        CommitLog.mergeCow(s, dir, updates, "k")
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            lit(CommitLog.units(root, v).size.toLong).as("n_units"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S20 (round 10): CDC REPLAY — the closure proof that the changes
    // feed is SUFFICIENT to maintain a downstream replica. A replica
    // is folded purely from the feed (state_v = state_{v-1} minus
    // delete rows, plus insert rows — multiset semantics via
    // exceptAll, so an update's pre/post pair lands as remove-old +
    // add-new) across the full S12 lifecycle, INCLUDING the OPTIMIZE
    // version whose empty feed must leave the replica untouched. The
    // output row carries the replica's and the final snapshot's
    // (count, exact total) side by side — the oracle pins them equal,
    // which is the entire CDC contract in one row. At 100 TB this is
    // the pattern a downstream materialized view runs per version:
    // apply O(changes) rows, never re-read the table. The fold is
    // MATERIALIZED PER VERSION (VERDICT r10 #6): each step WRITES the
    // replica state and the next reads it back, so the plan stays
    // O(1) deep at any history length — the lazy alternative builds a
    // depth-O(versions) exceptAll/unionAll tree whose every step
    // Catalyst re-analyzes in full (measured 1.6x from 10 to 100
    // versions; flat materialized) — and an EMPTY feed (the OPTIMIZE
    // version) carries the previous state file untouched, the
    // maintenance fast-path a real consumer takes.
    "dml_cdc_replay" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = cdcTable(s, d)
      val vs = CommitLog.versions(root)
      // the replica state is deterministic derived data — cached per
      // (sfDir, orders fingerprint) like the table fixtures, so
      // repeated Verify/Bench invocations reuse it instead of leaking
      // a fresh versions×copies state tree per call; the fold itself
      // is CommitLog.replayInto (shared with stream_cdc_apply and
      // LogStress), replay-safe and O(1) plan depth per version
      val repDir = graft.Derived.dir("replay", d, "orders") { dir =>
        vs.foreach(v => CommitLog.replayInto(s, root, v, dir))
      }
      val lastState =
        s"$repDir/v${CommitLog.replayStates(repDir).last}"
      val rep = Parquet.read(s, lastState)
        .agg(count(lit(1)).as("replica_rows"),
          sum(col("p")).cast(DecimalType(38, 2)).as("replica_total"))
      val fin = CommitLog.snapshot(s, root, vs.last)
        .agg(count(lit(1)).as("snapshot_rows"),
          sum(col("p")).cast(DecimalType(38, 2)).as("snapshot_total"))
      rep.crossJoin(fin)
        .select(col("replica_rows"), col("replica_total"),
          col("snapshot_rows"), col("snapshot_total"))
    }),

    // S25 (round 11): INCREMENTAL AGGREGATE VIEW — the cheaper (and
    // more common) downstream of a CDC feed than the raw replica:
    // a grouped (count, sum) view maintained from the versions' feeds
    // as SIGNED deltas (insert = +1/+p, delete = −1/−p), so its cost
    // is O(changes) + O(groups) — the replica fold's O(state)
    // exceptAll never appears, and the materialized state is
    // O(groups) rows (10 here) at ANY table size. Walks the S12
    // lifecycle: the COW update's pre/post pair cancels to the price
    // delta, the OPTIMIZE version's empty feed adds nothing, the
    // delete version subtracts its groups. The signed sums are
    // additive, so the state is ONE aggregate over the union of all
    // the feeds, written once (foldAggViewState); a state plus later
    // feeds is the same union re-folded (MvFold.refold). The oracle
    // pins the folded view equal to a group-by over the final
    // snapshot — the self-maintainable-view contract (sum/count are
    // the distributive aggregates that make it exact). At 100 TB this
    // is the materialized-dashboard loop: each refresh costs the new
    // feeds plus the O(groups) state, never a table re-read.
    "dml_cdc_agg_view" -> ((s, d) => {
      val last = aggViewLastState(s, d)
      Parquet.read(s, last).filter(col("n") =!= 0L)
        .select(col("g").cast("bigint").as("g"),
          col("n").cast("bigint").as("n"),
          col("total").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S48 (round 13 — VERDICT r12 #7): MATERIALIZED-VIEW AUTOMATIC
    // REWRITE. dml_cdc_agg_view (above) proves the state is maintained
    // incrementally; this entry proves a user needn't know it exists:
    // the query is a plain scan+group-by over the LATEST fact snapshot
    // — written exactly as a user who never heard of the view would
    // write it — and the plans.MvRewrite optimizer rule recognizes the
    // subsumption (exact snapshot paths, same group key, count/sum
    // only) and reroutes the plan to the O(groups) state table. The
    // fact units never appear in the executed plan (Round13OpsSpec
    // pin); values must equal the direct aggregate (shared oracle).
    "view_rewrite_agg" -> ((s, d) => {
      val (root, vLast) = registerOrdersView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .groupBy((col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S49 (round 14 — VERDICT r13 #4): PARTIAL-ROLLUP REWRITE. The
    // classic MV win is not the view's own shape but a COARSER one:
    // this query groups the fact by (k % 10) % 3 — a function of the
    // view key, never registered itself — and MvRewrite proves the
    // subsumption (every key-subtree occurrence substitutes to the
    // state's g with nothing else of the scan left) and re-aggregates
    // the 10-row state (count(*) → sum(n), sum(p) → sum(total),
    // nn deciding the all-NULL → NULL case). The fact units never
    // appear in the executed plan (Round14OpsSpec pin, alongside a
    // NEGATIVE pin that a group key NOT a function of the view key —
    // k % 3 — keeps the fact scan); values must equal the direct
    // rollup (the oracle). At 100 TB this is the dashboard-hierarchy
    // pattern: one maintained fine-grain state serves every coarser
    // rollup above it at O(groups) cost.
    "view_rewrite_rollup" -> ((s, d) => {
      val (root, vLast) = registerOrdersView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .groupBy(((col("k") % 10) % 3).as("g3"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g3"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g3")
    }),

    // S63 (round 16 — VERDICT r15 #4): MULTI-VIEW UNION ROLLUP. The
    // archive ∪ current-quarter shape: the query aggregates the UNION
    // of the S12 lifecycle's final snapshot and a separate ARCHIVE
    // table (the k%4==1 slice the lifecycle deleted, original prices)
    // — each with its own registered (k%10, p) view — and MvRewrite
    // recognizes the union, refolds BOTH states (one union + one
    // 20-row groupBy) and serves the aggregate without scanning
    // either table (Round16OpsSpec pins both state paths present and
    // both fact roots absent, plus the negative: one branch
    // unregistered declines). unionAll semantics make the refold
    // exact — aggregating concatenated multisets IS summing the
    // per-branch folds per group. At 100 TB this is the most common
    // real MV miss after staleness: the hot quarter and the archive
    // each maintain a state, and the all-history dashboard union
    // reads 2 × O(groups) rows instead of both tables.
    "view_rewrite_union" -> ((s, d) => {
      val (root, vLast) = registerOrdersView(s, d)
      val (archRoot, archV) = registerArchView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .select(col("k"), col("p"))
        .unionAll(graft.sources.CommitLog.snapshot(s, archRoot, archV)
          .select(col("k"), col("p")))
        .groupBy((col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S64 (round 17 — VERDICT r16 #4): PREDICATE-SUBSUMED UNION
    // REWRITE. The S63 union query plus a whole-group filter
    // ((k%10) IN (2,4,6)) — written over the UNION, exactly as a
    // dashboard user scopes the all-history view. The optimizer
    // pushes the filter into both branches; MvRewrite verifies each
    // branch carries the SAME key-functional predicate (canonicalized
    // into branch 0's key space, cross-branch semantic equality) and
    // serves the aggregate from the two refolded states FILTERED over
    // g — 20 state rows scanned, 6 served, neither table touched
    // (Round17OpsSpec pins the plan both ways, plus the negative: a
    // row-level predicate on p declines). Filtering whole groups
    // before or after the refold is the same set — the subsumption
    // that makes this exact.
    "view_rewrite_union_filtered" -> ((s, d) => {
      val (root, vLast) = registerOrdersView(s, d)
      val (archRoot, archV) = registerArchView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .select(col("k"), col("p"))
        .unionAll(graft.sources.CommitLog.snapshot(s, archRoot, archV)
          .select(col("k"), col("p")))
        .filter((col("k") % 10).isin(2L, 4L, 6L))
        .groupBy((col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S53 (round 14): MULTI-KEY ROLLUP REWRITE — the dashboard
    // hierarchy shape: TWO grouping keys, each a function of the view
    // key (a CASE band over k%10 plus the key itself), rewritten to a
    // re-aggregation of the 10-row state grouped by the substituted
    // pair. Every query key being key-functional means the state's
    // groups re-partition wholes — exactness is structural.
    "view_rewrite_multikey" -> ((s, d) => {
      val (root, vLast) = registerOrdersView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .groupBy(
          expr("CASE WHEN k % 10 < 5 THEN 'low' ELSE 'high' END").as("band"),
          (col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("band"), col("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("band", "g")
    }),

    // S52 (round 14): AVG THROUGH THE REWRITE — avg is the third
    // distributive-pair aggregate (total/nn, nulls excluded from the
    // divisor per SQL), here in the HARDEST composition: a rollup
    // group key ((k%10)%3) so the rewrite re-aggregates the state and
    // divides sum(total) by sum(nn), casting total down to Average's
    // own sum type first so both sides round the same rational at the
    // same scales. Decimal values only (a double avg is shuffle-order
    // dependent on the direct side — declined). Oracle renders the
    // same mean by the exact-integer half-up recipe (ts_decompose).
    "view_rewrite_avg" -> ((s, d) => {
      val (root, vLast) = registerOrdersView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .groupBy(((col("k") % 10) % 3).as("g3"))
        .agg(count(lit(1)).as("n"), avg(col("p")).as("avg_p"))
        .orderBy("g3")
    }),

    // S50 (round 14 — VERDICT r13 #4 companion): PREDICATE-SUBSUMED
    // REWRITE. The query FILTERS on a function of the view key
    // ((k%10) IN (2,4,6)) before grouping — a whole-group selection —
    // and MvRewrite reroutes it to the state table with the predicate
    // rewritten over g: a 10-row scan filtered to 3 rows, the fact
    // untouched (Round14OpsSpec pin; a filter touching the VALUE
    // column — a row-level predicate — is pinned to decline). The
    // composition with the rollup path is exercised too: the group
    // key here is the view key itself, the filter is the new part.
    // S57 (round 15 — VERDICT r14 #4): MIN/MAX THROUGH THE REWRITE —
    // the aggregates that are NOT self-maintainable under deletes
    // (retracting the max needs a rescan), decided and shipped as:
    // maintainable on APPEND-ONLY feeds only. The state fold refuses
    // any feed carrying a retraction (foldAggViewState's require);
    // a state without mn/mx declines min/max queries (fail-safe —
    // Round15OpsSpec pins the decline over the delete-bearing S12
    // view). Here the 2-version append-only table's state carries
    // mn/mx, and a plain group-by with count/min/max/sum reroutes to
    // the O(groups) state — the fact units never appear in the
    // executed plan. min/max over the union of the insert-only feeds
    // are the extremes; they ignore nulls natively, so no nn guard is
    // needed.
    "view_rewrite_minmax" -> ((s, d) => {
      val (root, vLast) = registerAppendOrdersView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .groupBy((col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"), min(col("p")).as("min_p"),
          max(col("p")).as("max_p"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"), col("min_p"), col("max_p"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S59 (round 15, second wave): STALE JOIN VIEW — the fourth cell
    // of the {single,join} × {fresh,stale} rewrite matrix. The query
    // joins fact@v3 with dim@v0 — a version pair NO fresh view covers
    // — and the registered state is the (fact v2, dim v0) fold cut
    // with ONE declared remaining maintenance step (fact v3 against
    // dim@0). MvRewrite verifies the declared tail walks exactly from
    // the cut to the scanned pair, then compensates with the same
    // signed delta ⋈ other-snapshot algebra the fold uses. Plan pins
    // (Round15OpsSpec): the s2 state present, dim's v1 promoted unit
    // ABSENT (the compensation consults dim@0 only). At 100 TB this
    // is the mart answering an as-of join query between refreshes:
    // state + one version's feed, never a fact⋈dim recompute.
    "view_rewrite_join_stale" -> ((s, d) => {
      val (fact, dim, _) = registerStaleOrdersJoinView(s, d)
      import graft.sources.CommitLog
      CommitLog.snapshot(s, fact, 3L).select(col("k"), col("p"))
        .join(CommitLog.snapshot(s, dim, 0L).select(col("k"), col("g")), "k")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g").cast("bigint").as("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S58 (round 15, second wave): STALE STATE + TAIL COMPENSATION —
    // the query scans v1 of the append table while the registered
    // k%7 state was folded through v0 ONLY (the maintenance job
    // hasn't caught up). MvRewrite resolves which version the scan
    // reads, sees it is newer than the state, and rewrites to
    // state(v0) ⊎ signed-delta(changes v1) re-folded — the plan reads
    // the O(groups) state plus ONLY the v1 delta unit, never the v0
    // bulk (Round15OpsSpec pins data/v0 absent, data/v1 present). At
    // 100 TB this is the freshness-decoupling shape: a query after an
    // un-refreshed ingest costs the new units' feed, not the fact,
    // and no one has to schedule the refresh on the query path.
    "view_rewrite_stale" -> ((s, d) => {
      val (root, _) = registerStaleOrdersView(s, d)
      graft.sources.CommitLog.snapshot(s, root, 1L)
        .groupBy((col("k") % 7).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    "view_rewrite_filtered" -> ((s, d) => {
      val (root, vLast) = registerOrdersView(s, d)
      graft.sources.CommitLog.snapshot(s, root, vLast)
        .filter((col("k") % 10).isin(2L, 4L, 6L))
        .groupBy((col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S27 (round 11): MULTI-TABLE ATOMIC COMMIT — the catalog-commit
    // protocol (sources/TxnLog.scala) driven through its canonical
    // use: a fact table and its derived 1-row aggregate that must
    // move TOGETHER. txn 0 publishes both tables' v0 under one txn
    // entry. Then a writer CRASHES mid-transaction: fact's next
    // manifest lands but neither the agg manifest nor the txn entry —
    // a coordinated reader still resolves the OLD consistent pair
    // (the orphan is invisible; that is the protocol's whole point,
    // where independent per-table resolution would show new facts
    // against the stale aggregate). The retry commits the full pair;
    // fact skips over the orphaned version. Output: per txn entry,
    // the fact-side recount NEXT TO the stored aggregate — the oracle
    // pins them equal at EVERY transaction, which is exactly the
    // invariant the coordinator exists to protect. At 100 TB the txn
    // adds O(tables) manifest writes + one entry over the normal data
    // cost; cross-table time travel (snapshotAt) is catalog
    // arithmetic.
    "dml_txn_multi" -> ((s, d) => {
      import graft.sources.{CommitLog, TxnLog}
      val root = graft.Derived.dir("txn", d, "orders") { dir =>
        val fact = s"$dir/fact"
        val agg = s"$dir/agg"
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        def aggUnit(pred: org.apache.spark.sql.Column, sub: String): Unit =
          base.filter(pred)
            .agg(count(lit(1)).cast("bigint").as("n"),
              sum(col("p")).cast(DecimalType(38, 2)).as("total"))
            .coalesce(1).write.parquet(s"$agg/$sub")
        base.filter(col("k") % 3 === 0).coalesce(1).write.parquet(s"$fact/s0")
        aggUnit(col("k") % 3 === 0, "a0")
        TxnLog.commitAtomic(dir, Seq(fact -> Seq("s0"), agg -> Seq("a0")))
        // the CRASH: a second writer publishes fact's manifest and
        // dies before the agg manifest and the txn entry — an orphan
        base.filter(col("k") % 3 === 1).coalesce(1).write.parquet(s"$fact/s1")
        CommitLog.tryCommit(fact, 1L, Seq("s0", "s1"))
        // the retry completes the pair; fact lands PAST the orphan
        aggUnit(col("k") % 3 =!= 2, "a1")
        TxnLog.commitAtomic(dir,
          Seq(fact -> Seq("s0", "s1"), agg -> Seq("a1")))
      }
      val fact = s"$root/fact"
      val agg = s"$root/agg"
      TxnLog.txns(root).map { id =>
        val snaps = TxnLog.snapshotAt(s, root, id, Seq(fact, agg))
        val f = snaps(fact)
          .agg(count(lit(1)).as("fact_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("fact_total"))
        val a = snaps(agg)
          .select(col("n").as("agg_rows"), col("total").as("agg_total"))
        f.crossJoin(a)
          .select(lit(id).cast("bigint").as("txn"), col("fact_rows"),
            col("fact_total"), col("agg_rows"), col("agg_total"))
      }.reduce(_ unionAll _).orderBy("txn")
    }),

    // S17 (round 10): DESCRIBE HISTORY — the audit view of a table's
    // commit log (CommitLog.history): per version its unit count and
    // the added/removed manifest delta vs the predecessor, plus the
    // is_append classification that tells an incremental consumer
    // which versions it may fast-path and which need the CDC feed.
    // Runs over the S12 lifecycle table (insert → COW update →
    // OPTIMIZE → COW delete), so every row class appears. Pure
    // manifest arithmetic — zero data I/O, O(versions × units) text —
    // which is why the DuckDB twin can recompute it from the bucket
    // construction alone (commit_time is dropped from the oracled
    // projection: wall-clock is the one nondeterministic column).
    "dml_history" -> ((s, d) => {
      val root = cdcTable(s, d)
      graft.sources.CommitLog.history(s, root)
        .select(col("version"), col("n_units"), col("n_added"),
          col("n_removed"), col("n_dv_units"), col("is_append"))
        .orderBy("version")
    }),

    // S18 (round 10): INCREMENTAL OPTIMIZE — compaction that touches
    // only the small-file backlog (CommitLog.compact, the Delta
    // minFileSize cost model). The table is one healthy unit carrying
    // ~99.95% of the rows plus ten streaming-ingest crumbs; v1 packs
    // EXACTLY the crumbs into one unit and carries the big unit by
    // name — never opening it (byte-stability pinned in
    // Round10OpsSpec), so repeated compaction costs the backlog, not
    // the table (measured: SCALE.md round-10 row, 0.9× at 10× carried
    // data). Stats sidecars fold across the rewrite as pure sidecar
    // arithmetic (range-union / count-sum), keeping merge routing and
    // skipping alive through maintenance. Output: per-version (unit
    // count, row count, exact total) — 11 → 2 units, content
    // unchanged. Fully oracled.
    "dml_compact_incr" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("cpt", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(!(col("k") % 200).between(1, 10))
          .write.parquet(s"$dir/big")
        (1 to 10).foreach { i =>
          base.filter(col("k") % 200 === i)
            .coalesce(1).write.parquet(s"$dir/small$i")
        }
        CommitLog.commit(dir, 0L, "big" +: (1 to 10).map(i => s"small$i"))
        // threshold = the healthy unit's own size: everything smaller
        // packs, the big unit carries — SF-independent by construction
        val bigBytes = {
          import scala.jdk.CollectionConverters._
          val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "big"))
          try st.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
          finally st.close()
        }
        require(CommitLog.compact(s, dir, bigBytes).contains(1L),
          "the crumb backlog must pack into v1")
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            lit(CommitLog.units(root, v).size.toLong).as("n_units"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S19 (round 10): BLOOM-SIDECAR POINT SKIPPING — the index class
    // range stats can't provide. The table is range-clustered on k,
    // so every unit's min/max for `uid` (= md5 of the key — a
    // scattered, high-cardinality identifier, the document-digest /
    // content-hash shape) spans the whole domain and min/max pruning
    // is useless; the per-unit bloom sidecar
    // (CommitLog.writeBloomStats) answers "definitely absent" per
    // unit instead, so a point probe reads ~1 of 8 units
    // (false-positive cost: an extra unit scan, never a wrong
    // answer). Output: three planted point lookups (first / middle /
    // last key's uid) with their row counts and totals — the
    // pruned-unit count is asserted in spec rather than oracled, as
    // bloom FP behavior is hash-internal and not DuckDB-computable;
    // the ANSWERS are layout-independent and fully oracled. At
    // 100 TB: the sidecar is O(units × bloom bytes) (~1.2 KB/unit at
    // 1k rows, fpp 1%) and a digest lookup touches one unit instead
    // of the table — the "find this exact document" operation of a
    // dedup pipeline.
    "dml_bloom_skipping" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("bloom", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
            md5(col("o_orderkey").cast("string")).as("uid"))
        val wd = base.agg(expr("max(k) DIV 8 + 1")).head().getLong(0)
        val n = base.count()
        base.withColumn("bucket", expr(s"k DIV ${wd}L"))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        val units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, units)
        // honest sizing: the real per-unit row count, 1% fpp
        CommitLog.writeBloomStats(s, dir, 0L, "uid", n / units.size + 1, 0.01)
      }
      val base = load(s, d, "orders").select(col("o_orderkey").as("k"))
      val maxK = base.agg(max(col("k"))).head().getLong(0)
      val keys = base.agg(min(col("k")),
          min(when(col("k") >= maxK / 2, col("k"))), max(col("k")))
        .head().toSeq.map(_.asInstanceOf[Long])
      keys.zipWithIndex.map { case (k0, i) =>
        val uid = java.security.MessageDigest.getInstance("MD5")
          .digest(k0.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        CommitLog.snapshot(s, root, 0L).filter(col("uid") === uid)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(i.toLong).as("probe"), col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("probe")
    }),

    // S14 (round 10): OPTIMIZE ZORDER — re-clustering as a commit-log
    // version, judged by what it does to DATA SKIPPING on two probe
    // dimensions at once. v0 lays the 1996 orders out date-clustered
    // (8 yd-range units — the natural ingest order): a day probe
    // prunes to 1 unit, but a customer probe hits EVERY unit (xc is
    // uniform within any date range). v1 rewrites the same rows
    // z-ordered (sort_zorder's bit-interleave HOF, units = 8 zval
    // ranges): both dims now have bounded per-unit spans, so the
    // customer probe prunes too — the multi-dimensional locality
    // trade that is the whole point of OPTIMIZE ZORDER (each dim gets
    // ~√ locality instead of one dim getting everything). Both
    // versions stay readable (time travel across the re-cluster);
    // pruning runs on FOOTER-derived per-unit xc/yd stats through
    // the snapshot scan. Output: (version, probe, units scanned, rows)
    // — n_rows is layout-invariant by construction, the unit counts
    // are the clustering metric. Fully oracled: DuckDB recomputes the
    // z-values (sort_zorder's proven twin), both unit layouts, and
    // the intersects rule. At 100 TB: the rewrite is one read+write
    // of live data (the OPTIMIZE cost model), and every later probe
    // on EITHER dim reads a bounded fraction of units forever after.
    "dml_optimize_zorder" -> ((s, d) => {
      import graft.sources.CommitLog
      val zExpr =
        """aggregate(sequence(0, 15), 0L, (acc, i) ->
          |  acc + shiftleft(shiftright(xc, CAST(i AS INT)) % 2, CAST(2*i AS INT))
          |      + shiftleft(shiftright(yd, CAST(i AS INT)) % 2, CAST(2*i+1 AS INT)))""".stripMargin
      val root = graft.Derived.dir("zord", d, "orders") { dir =>
        val o = load(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey").as("k"),
            col("o_custkey").cast("bigint").as("xc"),
            datediff(col("o_orderdate").cast("date"),
              lit("1996-01-01").cast("date")).cast("bigint").as("yd"))
        val z = o.withColumn("zval", expr(zExpr))
        val Array(ydw, zw) = z
          .agg(expr("max(yd) DIV 8 + 1"), expr("max(zval) DIV 8 + 1"))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        def layout(bucketOf: org.apache.spark.sql.Column, sub: String,
            version: Long): Unit = {
          z.withColumn("bucket", bucketOf).repartition(col("bucket"))
            .select("k", "xc", "yd", "bucket")
            .write.partitionBy("bucket").parquet(s"$dir/data/$sub")
          val units = CommitLog.partitionUnits(dir, s"data/$sub", "bucket")
          CommitLog.commit(dir, version, units)
          CommitLog.writeColStats(dir, version,
            CommitLog.footerColStats(s, dir, units, Seq("xc", "yd")))
        }
        layout(expr(s"yd DIV ${ydw}L"), "linear", 0L)
        layout(expr(s"zval DIV ${zw}L"), "zorder", 1L)
      }
      val o96 = load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_custkey").cast("bigint").as("xc"),
          datediff(col("o_orderdate").cast("date"),
            lit("1996-01-01").cast("date")).cast("bigint").as("yd"))
      val Array(mxc, myd) = o96.agg(max(col("xc")), max(col("yd")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val (custHi, dayHi) = (mxc / 8L, (myd / 8L + 1L) - 1L)
      val probes = Seq(
        ("cust", Seq(("xc", 0L, custHi))),
        ("day", Seq(("yd", 0L, dayHi))),
        // the rectangle probe: conjunctive pruning on BOTH dims — the
        // query shape a z-ordered layout exists for
        ("both", Seq(("xc", 0L, custHi), ("yd", 0L, dayHi))))
      CommitLog.versions(root).flatMap { v =>
        probes.map { case (tag, preds) =>
          val snap = preds.foldLeft(CommitLog.snapshot(s, root, v)) {
            case (df, (c, lo, hi)) => df.filter(col(c).between(lo, hi)) }
          snap.agg(count(lit(1)).as("n_rows"))
            .select(lit(v).cast("bigint").as("version"), lit(tag).as("probe"),
              lit(CommitLog.scannedUnits(snap).toLong).as("n_units_scanned"),
              col("n_rows"))
        }
      }.reduce(_ unionAll _).orderBy("version", "probe")
    }),

    // S15 (round 10): MERGE-ON-READ DELETE — the Iceberg
    // equality-delete / Delta deletion-vector shape. v1 deletes
    // k%7==0 by writing ONE tombstone unit of the deleted keys and a
    // dv sidecar line — ZERO data units rewritten, which the output
    // proves by carrying both the MoR-visible row count (deletes
    // applied at read time via a broadcast anti-join) AND the raw
    // pre-image count (unchanged at v1: the data files still hold
    // every row). v2 is the compaction that APPLIES the tombstones
    // and publishes a clean version — visible == raw again, sidecar
    // gone, and v1 stays time-travel-readable both ways. Fully
    // oracled from k%7 arithmetic. At 100 TB: the delete writes
    // O(deleted keys) + a sidecar line (a GDPR erasure on a 100 TB
    // table is seconds, not a table rewrite); readers pay one
    // broadcast anti-join until compaction removes it.
    "dml_delete_mor" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("mor", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
            (col("o_orderkey") % 4).cast("int").as("bucket"))
        base.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        val units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, units)
        // the delete: tombstone keys only — no data unit is opened
        base.filter(col("k") % 7 === 0).select(col("k"))
          .coalesce(1).write.parquet(s"$dir/data/dv1")
        CommitLog.commit(dir, 1L, units)
        CommitLog.writeDeletes(dir, 1L, Seq("data/dv1"))
        // compaction applies the tombstones; no sidecar on v2
        CommitLog.snapshotMoR(s, dir, 1L, "k").coalesce(1)
          .write.parquet(s"$dir/data/compact")
        CommitLog.commit(dir, 2L, Seq("data/compact"))
      }
      CommitLog.versions(root).map { v =>
        val raw = CommitLog.snapshot(s, root, v).count()
        CommitLog.snapshotMoR(s, root, v, "k")
          .agg(count(lit(1)).as("n_visible"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total_visible"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_visible"), col("total_visible"),
            lit(CommitLog.deletes(root, v).size.toLong).as("n_tombstone_units"),
            lit(raw).as("n_raw_rows"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S21 (round 10): MERGE-ON-READ UPSERT — the write-cheap half of
    // the DML matrix (dml_merge_cow is the read-cheap half). v1
    // replaces k%5==0 rows and inserts k%11==0 twins by publishing
    // exactly TWO new objects: one post-image unit (appended to the
    // manifest) and one tombstone unit of the update keys (the dv
    // sidecar) — no existing unit opened, no key routed. Readers use
    // the SEQUENCE-AWARE snapshotMoR: tombstones erase replaced
    // pre-images from carried units while the post-image unit, added
    // by the same version, is exempt (Iceberg's sequence-number rule
    // collapsed to one commit step; a global apply would delete the
    // post-images right back out). The output pins the raw pre-image
    // count growing by |updates| while the visible count grows only
    // by the inserts. At 100 TB: write cost is O(|updates|) at ANY
    // table size — the continuous-ingest shape; applyDeletes later
    // trades the read-side anti-join away (dml_apply_deletes).
    "dml_upsert_mor" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("morup", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
            (col("o_orderkey") % 4).cast("int").as("bucket"))
        base.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        val units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, units)
        // the table's logical schema is (k, p): partition-dir units
        // surface no partition column, so the post-image unit must not
        // either
        val updates = base.filter(col("k") % 5 === 0)
          .select(col("k"), (col("p") * 2).cast(DecimalType(18, 2)).as("p"))
          .unionAll(base.filter(col("k") % 11 === 0)
            .select((col("k") + 1000000000L).as("k"), col("p")))
        CommitLog.upsertMoR(s, dir, updates, "k")
      }
      CommitLog.versions(root).map { v =>
        val raw = CommitLog.snapshot(s, root, v).count()
        CommitLog.snapshotMoR(s, root, v, "k")
          .agg(count(lit(1)).as("n_visible"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total_visible"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_visible"), col("total_visible"),
            lit(CommitLog.deletes(root, v).size.toLong).as("n_tombstone_units"),
            lit(raw).as("n_raw_rows"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S22 (round 10): APPLY DELETES — the stats-ROUTED maintenance
    // step that turns a merge-on-read version back into a clean one
    // (the compaction writeDeletes' doc promises). The table is
    // range-clustered (8 disjoint key-range units + cstats on k);
    // v1 MoR-deletes k%3==0 keys from buckets 2 and 5 only; v2 =
    // CommitLog.applyDeletes routes the tombstone keys through the
    // k ranges and rewrites EXACTLY the two intersecting units —
    // one clean unit per touched unit, each key range a subset of its
    // source's, so the stats layout stays disjoint and mergeable — the
    // other six carry by name, never opened, byte-stable (spec-pinned).
    // No dv sidecar on v2, and its CDC feed is EMPTY: the retractions
    // surfaced at v1, the version that DECLARED the tombstones (the
    // MoR-aware changes() rule); re-emitting them at apply time would
    // double-delete a folding replica.
    // At 100 TB: apply cost tracks the units the deletes TOUCH, never
    // the table — the GDPR-erasure maintenance shape.
    "dml_apply_deletes" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("applyd", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        val wd = base.agg(expr("max(k) DIV 8 + 1")).head().getLong(0)
        val withB = base.withColumn("bucket", expr(s"k DIV ${wd}L"))
        withB.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        val units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, units)
        val st = CommitLog.footerColStats(s, dir, units, Seq("k"))
        CommitLog.writeColStats(dir, 0L, st)
        // the MoR delete: tombstone keys only, confined to two ranges
        withB.filter((col("bucket") === 2 || col("bucket") === 5)
            && col("k") % 3 === 0)
          .select("k").coalesce(1).write.parquet(s"$dir/data/dv1")
        CommitLog.commit(dir, 1L, units)
        // the cstats sidecar rides every version (the mergeCow carry
        // discipline) — applyDeletes routes off its k entries
        CommitLog.writeColStats(dir, 1L, st)
        CommitLog.writeDeletes(dir, 1L, Seq("data/dv1"))
        CommitLog.applyDeletes(s, dir, "k")
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshotMoR(s, root, v, "k")
          .agg(count(lit(1)).as("n_visible"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total_visible"))
          .select(lit(v).cast("bigint").as("version"),
            lit(CommitLog.units(root, v).size.toLong).as("n_units"),
            col("n_visible"), col("total_visible"),
            lit(CommitLog.deletes(root, v).size.toLong).as("n_tombstone_units"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S16 (round 10): RESTORE — rollback as a NEW version whose
    // manifest is a byte-for-byte copy of the target's: v1 fat-
    // fingers a manifest-only delete of half the table, v2 restores
    // v0 by republishing its unit list. Nothing moves — restore cost
    // is one manifest write at ANY table size, history stays intact
    // (v1 remains readable: audit the incident, don't erase it), and
    // the restored version is bit-identical to the original because
    // both reference the SAME immutable units. Fully oracled.
    "dml_restore" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("restore", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
            (col("o_orderkey") % 2).cast("int").as("bucket"))
        base.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/v0")
        val units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
        CommitLog.commit(dir, 0L, units)
        CommitLog.commit(dir, 1L, units.filterNot(_.endsWith("bucket=1")))
        // RESTORE TO VERSION 0: republish v0's manifest as v2
        CommitLog.commit(dir, 2L, units)
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S30 (round 11): METADATA-ONLY COLUMN RENAME — the column-mapping
    // protocol (CommitLog.writeColMap/renameColumn/snapshotMapped):
    // parquet footers keep their PHYSICAL names forever; a rename
    // publishes a physical->logical sidecar and re-commits the same
    // units — zero data bytes move (byte-stability spec-pinned), the
    // only rename a 100 TB table can afford. The lifecycle: v0 lands
    // (k, p) in two bucket units; v1 renames p -> price (pure
    // metadata); v2 APPENDS a slice written through toPhysical, so the
    // new files' footers agree with the frozen physical schema and
    // mapped reads stay mergeSchema-free. The mapped read is an
    // alias-only projection on top of the ordinary snapshot scan —
    // pushdown/pruning identical to the unmapped read — and time
    // travel is name-faithful: v0 still reads column `p`
    // (RenameWapSpec). Output: the v2 mapped snapshot rolled up per
    // k%4 under the LOGICAL name, which only exists through the map.
    // S40 (round 12): DROP COLUMN through the column mapping — the
    // second metadata-only evolution (VERDICT r11 #6). v0 carries
    // (k, p, clerk); v1 tombstones clerk in the mapping sidecar with
    // ZERO data rewrites — mapped reads stop REQUESTING the column,
    // so the old files' clerk pages are never even decoded (a scan
    // win, not just a schema edit; plan-pinned in Round12OpsSpec);
    // v2 appends a unit that was never written with the column, and
    // both generations read together. Time travel below the drop
    // still sees clerk — version-faithful schema, the lakehouse
    // contract. Output: per-version rows/total plus a clerk non-null
    // count that the drop forces to NULL from v1 on.
    "dml_drop_col" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("dropcol", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
            col("o_orderstatus").as("clerk"))
        base.filter(col("k") % 2 === 0).write.parquet(s"$dir/data/s0")
        CommitLog.commit(dir, 0L, Seq("data/s0"))
        CommitLog.dropColumn(s, dir, "clerk") // v1, metadata-only
        base.filter(col("k") % 2 === 1).select("k", "p")
          .write.parquet(s"$dir/data/s1")
        CommitLog.commit(dir, 2L, Seq("data/s0", "data/s1"))
      }
      CommitLog.versions(root).map { v =>
        val snap = CommitLog.snapshotMapped(s, root, v)
        val clerkRows =
          if (snap.schema.fieldNames.contains("clerk")) count(col("clerk"))
          else max(lit(null).cast("bigint"))
        snap.agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"),
            clerkRows.as("clerk_rows"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"), col("clerk_rows"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S41 (round 12): WIDEN COLUMN TYPE through the column mapping —
    // the third metadata-only evolution. v0's units carry cents as a
    // physical INT; v1 widens the logical type to BIGINT without
    // touching a byte — mapped reads request the wider schema and the
    // PARQUET READER up-converts the narrow files inside the scan (no
    // per-row cast expression, pushdown intact; plan-pinned); v2
    // appends natively-BIGINT values an INT could never hold
    // (+3x10^9), and the mixed-generation read serves both. Time
    // travel below the widen still reads INT. Output: per-version
    // rows + exact cents sum.
    "dml_widen_col" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("widencol", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
          .selectExpr("k", "CAST(CAST(round(p * 100) AS BIGINT) AS INT) AS cents")
        base.filter(col("k") % 2 === 0).write.parquet(s"$dir/data/s0")
        CommitLog.commit(dir, 0L, Seq("data/s0"))
        CommitLog.widenColumn(s, dir, "cents", "bigint") // v1, metadata-only
        base.filter(col("k") % 2 === 1)
          .select(col("k"),
            (col("cents").cast("bigint") + lit(3000000000L)).as("cents"))
          .write.parquet(s"$dir/data/s1")
        CommitLog.commit(dir, 2L, Seq("data/s0", "data/s1"))
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshotMapped(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents").cast("bigint")).cast("bigint").as("sum_cents"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("sum_cents"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S42 (round 12): ADD COLUMN WITH DEFAULT through the column
    // mapping — the fourth metadata-only evolution, completing the
    // rename/drop/widen family. v1 records (src, string, 'legacy') in
    // the mapping sidecar with zero data rewrites: mapped reads
    // REQUEST the column (pre-add files resolve it NULL in the scan)
    // and surface the default through one null-coalescing projection;
    // v2 appends a unit carrying src='fresh' physically, and the
    // mixed generations read together. Time travel below the add does
    // not see the column. Output: per-version rows/total plus
    // legacy/fresh counts the add makes observable in VALUES.
    "dml_add_col" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("addcol", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(col("k") % 2 === 0).write.parquet(s"$dir/data/s0")
        CommitLog.commit(dir, 0L, Seq("data/s0"))
        CommitLog.addColumn(s, dir, "src", "string", "'legacy'") // v1
        base.filter(col("k") % 2 === 1).withColumn("src", lit("fresh"))
          .write.parquet(s"$dir/data/s1")
        CommitLog.commit(dir, 2L, Seq("data/s0", "data/s1"))
      }
      CommitLog.versions(root).map { v =>
        val snap = CommitLog.snapshotMapped(s, root, v)
        def srcCount(value: String) =
          if (snap.schema.fieldNames.contains("src"))
            sum(when(col("src") === value, 1L).otherwise(0L)).cast("bigint")
          else max(lit(null).cast("bigint"))
        snap.agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"),
            srcCount("legacy").as("n_legacy"),
            srcCount("fresh").as("n_fresh"))
          .select(lit(v).cast("bigint").as("version"), col("n_rows"),
            col("total"), col("n_legacy"), col("n_fresh"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    "dml_rename_col" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("ren", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(col("k") % 3 === 0).write.parquet(s"$dir/data/s0")
        base.filter(col("k") % 3 === 1).write.parquet(s"$dir/data/s1")
        CommitLog.commit(dir, 0L, Seq("data/s0", "data/s1"))
        CommitLog.renameColumn(s, dir, "p", "price") // v1, metadata-only
        // the append AFTER the rename: logical-named rows physicalized
        // so the new unit's footer matches the frozen physical schema
        CommitLog.toPhysical(dir, 1L,
            base.filter(col("k") % 3 === 2)
              .select(col("k"), col("p").as("price")))
          .write.parquet(s"$dir/data/s2")
        CommitLog.commit(dir, 2L, Seq("data/s0", "data/s1", "data/s2"))
      }
      CommitLog.snapshotMapped(s, root, 2L)
        .groupBy((col("k") % 4).cast("bigint").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast(DecimalType(38, 2)).as("total_price"))
        .orderBy("g")
    }),

    // S31 (round 11): WRITE-AUDIT-PUBLISH — quality-gated ingest
    // through staged branches (CommitLog.stageBranch/snapshotBranch/
    // publishBranch/abandonBranch). Two candidate batches arrive: the
    // BAD one (nulls poisoning every 10th key) is staged, audited by a
    // null-count query over the branch snapshot, and ABANDONED — main
    // never sees it, its exclusive unit is reclaimed, and no version
    // number is burned. The GOOD batch stages base+delta, passes the
    // same audit, and publishes as v1 via one atomic manifest link
    // over units already on disk. The audit runs full query shape
    // against exactly the bytes that will be published (not a copy) —
    // the WAP property. Main-line invisibility of staged branches and
    // the publish/abandon state machine are spec-pinned
    // (RenameWapSpec). Output: per published version, rows + total —
    // v0 = the even-key base, v1 = base + odd-key delta; the rejected
    // batch appears in NO row, which is what the oracle checks.
    "dml_wap" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("wap", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(col("k") % 2 === 0).write.parquet(s"$dir/data/base")
        CommitLog.commit(dir, 0L, Seq("data/base"))
        def audit(branch: String): Boolean =
          CommitLog.snapshotBranch(s, dir, branch)
            .filter(col("k").isNull).limit(1).isEmpty
        // candidate 1: a poisoned batch (every 10th key nulled)
        base.filter(col("k") % 2 === 1)
          .select(when(col("k") % 10 === 5, lit(null)).otherwise(col("k"))
            .cast("bigint").as("k"), col("p"))
          .write.parquet(s"$dir/data/cand_bad")
        CommitLog.stageBranch(dir, "ingest1", Seq("data/base", "data/cand_bad"))
        if (!audit("ingest1")) CommitLog.abandonBranch(dir, "ingest1")
        // candidate 2: the clean batch — same audit, opposite verdict
        base.filter(col("k") % 2 === 1).write.parquet(s"$dir/data/cand_ok")
        CommitLog.stageBranch(dir, "ingest2", Seq("data/base", "data/cand_ok"))
        if (audit("ingest2")) CommitLog.publishBranch(dir, "ingest2")
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S47 (round 13 — VERDICT r12 #8): DECLARATIVE COMMIT CONSTRAINTS.
    // NOT NULL / CHECK / UNIQUE-key declared once as table properties
    // in the log; every commitConstrained validates the NEW units —
    // O(delta), uniqueness via the stats-sidecar range-pruned probe —
    // BEFORE the manifest links. Lifecycle: v0 clean base (accepted);
    // three poisoned batches (null key-col, CHECK-violating negative
    // price, snapshot-duplicate keys) each rejected LOUDLY with no
    // version burned; the same poison staged as a WAP branch fails
    // auditBranchConstraints and is abandoned (constraint failure =
    // audit failure); then the clean delta lands as v1. Output: the
    // version walk — v1 must contain exactly base+delta, nothing of
    // any rejected batch; fully oracled by membership arithmetic.
    "dml_constraints" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("constraints", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
            dec(col("o_totalprice")).as("p"))
        CommitLog.declareConstraints(dir, Seq(
          CommitLog.NotNullConstraint("k"),
          CommitLog.NotNullConstraint("c"),
          CommitLog.CheckConstraint("nonneg_price", "p >= 0"),
          CommitLog.UniqueConstraint("k")))
        base.filter(col("k") % 3 === 0).write.parquet(s"$dir/data/base")
        CommitLog.commitConstrained(s, dir, 0L, Seq("data/base"))
        // cstats sidecar on the key: the uniqueness probes below take
        // the range-pruned cheap path instead of a full snapshot scan
        CommitLog.writeColStats(dir, 0L,
          CommitLog.footerColStats(s, dir, Seq("data/base"), Seq("k")))
        def rejected(f: => Unit): Boolean =
          try { f; false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("no version burned") }
        // poison 1: nulls in the customer column
        base.filter(col("k") % 3 === 1)
          .select(col("k"),
            when(col("k") % 10 === 1, lit(null)).otherwise(col("c"))
              .cast("bigint").as("c"), col("p"))
          .write.parquet(s"$dir/data/cand_null")
        require(rejected(CommitLog.commitConstrained(s, dir, 1L,
          Seq("data/base", "data/cand_null"))), "null batch must reject")
        // poison 2: CHECK violation — negated prices
        base.filter(col("k") % 3 === 1)
          .select(col("k"), col("c"),
            when(col("k") % 12 === 1, col("p") * -1).otherwise(col("p"))
              .cast(DecimalType(18, 2)).as("p"))
          .write.parquet(s"$dir/data/cand_neg")
        require(rejected(CommitLog.commitConstrained(s, dir, 1L,
          Seq("data/base", "data/cand_neg"))), "negative batch must reject")
        // poison 3: keys the snapshot already holds (the stats-pruned
        // + broadcast-semi-join uniqueness probe)
        base.filter(col("k") % 6 === 0)
          .write.parquet(s"$dir/data/cand_dup")
        require(rejected(CommitLog.commitConstrained(s, dir, 1L,
          Seq("data/base", "data/cand_dup"))), "dup batch must reject")
        // WAP composition: the null poison staged as a branch fails
        // the constraint audit and is abandoned — main never saw it
        CommitLog.stageBranch(dir, "risky",
          Seq("data/base", "data/cand_null"))
        require(!CommitLog.auditBranchConstraints(s, dir, "risky"),
          "constraint audit must fail the poisoned branch")
        CommitLog.abandonBranch(dir, "risky")
        require(CommitLog.versions(dir) == Seq(0L),
          s"rejections burned a version: ${CommitLog.versions(dir)}")
        // the clean delta commits
        base.filter(col("k") % 3 === 1).write.parquet(s"$dir/data/delta")
        CommitLog.commitConstrained(s, dir, 1L,
          Seq("data/base", "data/delta"))
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S51 (round 14 — VERDICT r13 #8): FOREIGN-KEY constraint — the
    // referential class completing the round-13 set. A fact table
    // declares fk(c) → dim.ck; the probe broadcast-semi-joins the
    // batch's distinct FK values against the referenced table's key,
    // STATS-ROUTED (an entirely out-of-range batch proves its orphans
    // from the dim's cstats manifest alone — the orphan poison here
    // takes that path) and MoR-AWARE (after the dim tombstones a key
    // slice, a batch referencing it rejects: liveness, not pre-image).
    // Composes with WAP like the other classes: the staged orphan
    // branch fails the audit and main never sees it. Enforcement is
    // commit-time, not retroactive — rows committed before the dim
    // delete stay (the standard lakehouse contract; retroactive
    // cascade is a DELETE the user issues). Rejections burn no
    // version. Output: per-version fact rollup, oracled by orders
    // arithmetic.
    "dml_fk_constraint" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("fk", d, "orders") { dir =>
        val dim = s"$dir/dim"
        val fact = s"$dir/fact"
        load(s, d, "customer").select(col("c_custkey").as("ck"))
          .coalesce(1).write.parquet(s"$dim/u0")
        CommitLog.commit(dim, 0L, Seq("u0"))
        CommitLog.writeColStats(dim, 0L,
          CommitLog.footerColStats(s, dim, Seq("u0"), Seq("ck")))
        CommitLog.declareConstraints(fact, Seq(
          CommitLog.NotNullConstraint("k"),
          CommitLog.ForeignKeyConstraint("c", dim, "ck")))
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
            dec(col("o_totalprice")).as("p"))
        def rejected(f: => Unit): Boolean =
          try { f; false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("no version burned") }
        // clean batch: every c exists in the dim
        base.filter(col("k") % 3 === 0).write.parquet(s"$fact/data/b0")
        CommitLog.commitConstrained(s, fact, 0L, Seq("data/b0"))
        // poison 1: orphan keys outside the dim's range — the probe
        // proves absence from the cstats manifest without opening a
        // dim unit
        base.filter(col("k") % 3 === 1)
          .select(col("k"), (col("c") + lit(10000000L)).as("c"), col("p"))
          .write.parquet(s"$fact/data/orphan")
        require(rejected(CommitLog.commitConstrained(s, fact, 1L,
          Seq("data/b0", "data/orphan"))), "orphan batch must reject")
        // WAP composition: the orphan staged as a branch fails the
        // audit and is abandoned — main never saw it
        CommitLog.stageBranch(fact, "risky", Seq("data/b0", "data/orphan"))
        require(!CommitLog.auditBranchConstraints(s, fact, "risky"),
          "constraint audit must fail the orphan branch")
        CommitLog.abandonBranch(fact, "risky")
        // dim v1: MoR-delete the ck%100==7 parent slice
        load(s, d, "customer").filter(col("c_custkey") % 100 === 7)
          .select(col("c_custkey").as("ck"))
          .coalesce(1).write.parquet(s"$dim/t0")
        CommitLog.commit(dim, 1L, Seq("u0"))
        CommitLog.writeDeletes(dim, 1L, Seq("t0"))
        // poison 2: a batch referencing the tombstoned parents — must
        // reject against the LIVE dim, not the raw pre-image
        base.filter(col("k") % 3 === 2 && col("c") % 100 === 7)
          .write.parquet(s"$fact/data/deadref")
        require(rejected(CommitLog.commitConstrained(s, fact, 1L,
          Seq("data/b0", "data/deadref"))), "dead-parent batch must reject")
        require(CommitLog.versions(fact) == Seq(0L),
          s"rejections burned a version: ${CommitLog.versions(fact)}")
        // the clean delta (live parents only) commits
        base.filter(col("k") % 3 =!= 0 && col("c") % 100 =!= 7)
          .write.parquet(s"$fact/data/b1")
        CommitLog.commitConstrained(s, fact, 1L, Seq("data/b0", "data/b1"))
      }
      val fact = s"$root/fact"
      CommitLog.versions(fact).map { v =>
        CommitLog.snapshot(s, fact, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S33 (round 11): RIGHT-TO-BE-FORGOTTEN — CommitLog.purgeKeys, the
    // one sanctioned HISTORY REWRITE: the k%100==7 key slice is
    // physically erased from EVERY version (data units AND the MoR
    // tombstone unit — a dv entry is personal data too), while time
    // travel stays alive for every surviving row: the lifecycle is
    // v0 insert, v1 append, v2 merge-on-read delete of k%5==0, and
    // the output walks all three versions MoR-applied AFTER the
    // purge. Clean units are carried byte-verbatim (spec-pinned);
    // dirty ones are rewritten to purged twins exactly once however
    // many versions reference them; per-version cstats entries are
    // re-derived from the twins' footers; manifests/sidecars swap
    // atomically. Cost: ONE scan of the distinct historical units +
    // O(dirty) rewrites + O(versions) metadata swaps — never
    // O(versions × data). Oracle: per-version counts/totals over
    // orders arithmetic with the purge predicate applied everywhere.
    "dml_purge" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("purge", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(col("k") % 3 === 0).write.parquet(s"$dir/data/s0")
        CommitLog.commit(dir, 0L, Seq("data/s0"))
        base.filter(col("k") % 3 === 1).write.parquet(s"$dir/data/s1")
        CommitLog.commit(dir, 1L, Seq("data/s0", "data/s1"))
        // v2: MoR delete of the k%5 slice — a tombstone unit that
        // itself carries purgeable keys
        base.filter(col("k") % 3 <= 1 && col("k") % 5 === 0)
          .select("k").coalesce(1).write.parquet(s"$dir/data/t0")
        CommitLog.commit(dir, 2L, Seq("data/s0", "data/s1"))
        CommitLog.writeDeletes(dir, 2L, Seq("data/t0"))
        (0L to 2L).foreach(v => CommitLog.rebuildStats(s, dir, v, "k"))
        val victims = base.filter(col("k") % 100 === 7).select("k")
          .collect().map(_.getLong(0)).toSeq // purge-request-sized: the erasure list itself
        CommitLog.purgeKeys(s, dir, "k", victims)
      }
      CommitLog.versions(root).map { v =>
        CommitLog.snapshotMoR(s, root, v, "k")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S39 (round 12): PURGE OVER AN INDEXED TABLE — the composition
    // the round-11 layer refused (purgeKeys hard-errored on any
    // cstats/bloom sidecar, so adopting point-lookup skipping
    // forfeited GDPR erasure — VERDICT r11 #1). The table carries
    // BOTH index layers on both versions: v0 = even keys in 4
    // contiguous k-range units (so cstats range-prunes), v1 = those
    // plus the odd-key unit. The purge erases the k%50==2 slice —
    // always even, so every range unit is dirty and the odd unit is
    // carried verbatim — and the erasure list rides the NEW
    // DataFrame overload: broadcast semi/anti-join plans, no driver
    // collect of the victim keys at all. Post-purge, the output pins
    // that the indexes still WORK: a [0, width) range probe scans 1
    // unit at v0 / 2 at v1 (cstats re-derived from the twins'
    // footers), a surviving key's bloom probe finds its row (the
    // rebuilt filter never false-negatives), and a purged key's
    // probe returns zero rows. Oracle: counts/totals from the purge
    // predicate + unit-interval intersection arithmetic recomputed
    // from the same bucketing (the dml_partition_evolution recipe).
    "dml_purge_indexed" -> ((s, d) => {
      import graft.sources.CommitLog
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
      val w = base.agg(max(col("k"))).head().getLong(0) / 4L + 1L
      val root = graft.Derived.dir("purgeidx", d, "orders") { dir =>
        (0 until 4).foreach { b =>
          base.filter(col("k") % 2 === 0 && expr(s"k DIV $w") === b)
            .coalesce(1).write.parquet(s"$dir/b$b")
        }
        val evens = (0 until 4).map(b => s"b$b")
        CommitLog.commit(dir, 0L, evens)
        base.filter(col("k") % 2 === 1)
          .coalesce(1).write.parquet(s"$dir/odd")
        CommitLog.commit(dir, 1L, evens :+ "odd")
        (0L to 1L).foreach { v =>
          val rels = if (v == 0L) evens else evens :+ "odd"
          CommitLog.writeColStats(dir, v,
            CommitLog.footerColStats(s, dir, rels, Seq("k")))
          CommitLog.writeBloomStats(s, dir, v, "k", 8192L, 0.01)
        }
        // the erasure batch as a FRAME — broadcast-joined, never
        // collected to the driver or folded into an isin literal
        CommitLog.purgeKeys(s, dir, "k", base.filter(col("k") % 50 === 2)
          .select(col("k")))
      }
      // probe keys picked FROM the data (TPC-H orderkeys are sparse)
      val sk = base.filter(col("k") % 2 === 0 && col("k") % 50 =!= 2)
        .agg(min(col("k"))).head().getLong(0)
      val pk = base.filter(col("k") % 50 === 2)
        .agg(min(col("k"))).head().getLong(0)
      CommitLog.versions(root).map { v =>
        val snap = CommitLog.snapshot(s, root, v)
        val nScan = CommitLog.scannedUnits(snap.filter(col("k").between(0L, w - 1L)))
        val bloomHit = snap.filter(col("k") === sk).count()
        val bloomPurged = snap.filter(col("k") === pk).count()
        snap
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"),
            lit(nScan.toLong).as("range_units"),
            lit(bloomHit).as("bloom_hit"),
            lit(bloomPurged).as("bloom_purged"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // S32 (round 11): INCREMENTAL JOIN-VIEW MAINTENANCE — the missing
    // half of the IVM story (dml_cdc_agg_view maintains a single-table
    // aggregate; real marts maintain JOINS). View = fact ⋈ dim on k,
    // grouped to (g, count, sum p). Both inputs are commit-log tables
    // with independent histories: fact walks the S12 lifecycle
    // (insert, COW reprice, OPTIMIZE, COW delete), dim inserts k->k%10
    // in k%4 bucket units then COW-promotes bucket 3 to g+20. The fold
    // applies the classic signed delta algebra, one CHANGED table per
    // step: a fact step joins changes(fact) ⋈ dim@current, a dim step
    // joins fact@current ⋈ changes(dim) — the delta side is O(changes),
    // so size-based join selection broadcasts it and the snapshot side
    // is one scan driven by the changed-key set; at 100 TB the
    // snapshot read routes via the stats/bloom layer on k. The steps'
    // grouped signed deltas fold into an O(groups) materialized state
    // exactly like the aggregate view — one union + groupBy refold
    // (MvFold.refold) per written state, so the cost is O(changes ⋈
    // other) + O(groups) per step. The OPTIMIZE version's empty feed
    // is an empty union branch. Oracle: the folded view equals the
    // join+group-by over both tables' FINAL snapshots — the
    // self-maintainable-join-view contract.
    "dml_cdc_join_view" -> ((s, d) =>
      Parquet.read(s, joinViewFinalState(s, d)).filter(col("n") =!= 0L)
        .select(col("g").cast("bigint").as("g"),
          col("n").cast("bigint").as("n"),
          col("total").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")),

    // S56 (round 15 — VERDICT r14 #2): JOIN-VIEW AUTOMATIC REWRITE —
    // the missing half of IVM's missing half. dml_cdc_join_view
    // (above) proves the fact⋈dim grouped state is MAINTAINED
    // incrementally; this entry proves a user needn't know it exists:
    // the query is a plain join+group-by over BOTH tables' latest
    // snapshots — written exactly as a user who never heard of the
    // view would write it — and plans.MvRewrite recognizes the
    // two-table subsumption (exact snapshot paths on BOTH scans, the
    // registered join-key equality, group key over the dim, count/sum
    // over the fact value) and reroutes the plan to the O(groups)
    // state: NEITHER table's units appear in the executed plan
    // (Round15OpsSpec pin, alongside a negative pin that a different
    // join condition keeps both scans). At 100 TB this is the star-
    // schema dashboard pattern: the maintained mart answers the join
    // query at state cost, fact and dim never re-scanned, re-planned
    // per query with zero hints. Values must equal the direct
    // join+aggregate (shared oracle body with dml_cdc_join_view).
    "view_rewrite_join" -> ((s, d) => {
      val (fact, dim, vf, vd) = registerOrdersJoinView(s, d)
      import graft.sources.CommitLog
      CommitLog.snapshot(s, fact, vf).select(col("k"), col("p"))
        .join(CommitLog.snapshot(s, dim, vd).select(col("k"), col("g")), "k")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g").cast("bigint").as("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    // S34 (round 11): PARTITION EVOLUTION — the Iceberg flagship the
    // layout layer was still missing: the partition SPEC changes
    // mid-history and reads stay uniform and pruned across the mixed
    // generations. v0 lands the even-key half in 2 COARSE range units
    // (half-domain grain); v1 appends the odd-key half under a FINER
    // spec — 8 eighth-domain range units — without touching the old
    // units (evolution is metadata: old data keeps its old layout
    // forever; a rewrite of 50 TB of history is exactly what the
    // feature exists to avoid). The probe path is the ordinary
    // snapshot filter, whose scan skips units: pruning works per UNIT
    // from footer min/max, so it is layout-agnostic by construction —
    // a narrow range scans 1 coarse + 1-2 fine units out of 10, and
    // the fine generation keeps getting finer pruning as new specs
    // arrive. Output: per-probe scanned-unit count (recomputed
    // arithmetically by the oracle from the same grouping) + exact
    // row/total answers.
    "dml_partition_evolution" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("pevo", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        val mk = base.agg(max(col("k"))).head().getLong(0)
        val wd2 = mk / 2L + 1L
        val wd8 = mk / 8L + 1L
        // generation 0: the ORIGINAL spec — 2 coarse range units
        val g0 = base.filter(col("k") % 2 === 0)
          .withColumn("bucket", expr(s"k DIV ${wd2}L"))
        g0.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/g0")
        val u0 = CommitLog.partitionUnits(dir, "data/g0", "bucket")
        CommitLog.commit(dir, 0L, u0)
        CommitLog.writeColStats(dir, 0L,
          CommitLog.footerColStats(s, dir, u0, Seq("k")))
        // generation 1: the EVOLVED spec — 8 fine range units appended
        val g1 = base.filter(col("k") % 2 === 1)
          .withColumn("bucket", expr(s"k DIV ${wd8}L"))
        g1.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/data/g1")
        val u1 = CommitLog.partitionUnits(dir, "data/g1", "bucket")
        CommitLog.commit(dir, 1L, u0 ++ u1)
        // stats carry for the old units, delta-derived for the new —
        // one footer pass over u0 ++ u1 keeps the example simple
        CommitLog.writeColStats(dir, 1L,
          CommitLog.footerColStats(s, dir, u0 ++ u1, Seq("k")))
      }
      val mk = load(s, d, "orders")
        .agg(max(col("o_orderkey"))).head().getLong(0)
      val wd8 = mk / 8L + 1L
      val probes = Seq(
        (0L, 2L * wd8, 3L * wd8 - 1L),               // 1 coarse + 1 fine
        (1L, 5L * wd8 + wd8 / 2L, 6L * wd8 + wd8 / 2L), // 1 coarse + 2 fine
        (2L, 0L, mk))                                 // everything
      probes.map { case (id, lo, hi) =>
        probeRow(id, CommitLog.snapshot(s, root, 1L).filter(col("k").between(lo, hi)))
      }.reduce(_ unionAll _).orderBy("probe")
    }),

    // S35 (round 11): RETENTION VACUUM as a named lifecycle — the
    // storage-reclaim op every table format runs on a schedule,
    // previously API-only (CommitLog.vacuum, spec-tested in
    // Round10OpsSpec/RenameWapSpec). v0 lands two units, v1 appends a
    // third, v2 OPTIMIZEs all three into one compacted unit; vacuum
    // retaining only v2 must reclaim exactly the 3 superseded unit
    // directories + the v0/v1 manifests AND sidecars (an orphan
    // sidecar would let stats() answer for a deleted version), while
    // the retained snapshot reads back byte-complete. The reclaim
    // count is layout-determined (3 write.parquet dirs), so the
    // oracle pins it as arithmetic alongside the snapshot totals; the
    // in-build require fails the whole query loudly if vacuum over- or
    // under-reclaims. At 100 TB: cost = O(expired units) deletes +
    // O(versions) metadata removals — never a data scan.
    "dml_vacuum" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("vac", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(col("k") % 3 === 0).write.parquet(s"$dir/data/s0")
        base.filter(col("k") % 3 === 1).write.parquet(s"$dir/data/s1")
        CommitLog.commit(dir, 0L, Seq("data/s0", "data/s1"))
        base.filter(col("k") % 3 === 2).write.parquet(s"$dir/data/s2")
        CommitLog.commit(dir, 1L, Seq("data/s0", "data/s1", "data/s2"))
        CommitLog.snapshot(s, dir, 1L)
          .coalesce(1).write.parquet(s"$dir/data/compact")
        CommitLog.commit(dir, 2L, Seq("data/compact"))
        val rep = CommitLog.vacuum(dir, Seq(2L))
        require(rep.unitsDeleted == 3 && rep.failedPaths.isEmpty,
          s"vacuum reclaimed ${rep.unitsDeleted} units (want 3), " +
            s"failed: ${rep.failedPaths}")
        require(CommitLog.versions(dir) == Seq(2L),
          "expired manifests must be gone after vacuum")
      }
      CommitLog.snapshot(s, root, 2L)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("p")).cast(DecimalType(38, 2)).as("total"))
        .select(lit(2L).as("version"), lit(3L).as("units_reclaimed"),
          col("n_rows"), col("total"))
    }),

    // S36 (round 11): TIMESTAMP AS OF — version-number time travel
    // (dml_time_travel) is an engine concept; users ask for a POINT IN
    // TIME. Commit stamps live in an immutable `ts.txt` sidecar
    // (explicit, not file mtimes — mtimes don't survive copies,
    // clones or restores), strict monotonicity is enforced at publish,
    // and versionAsOf resolves the latest stamp <= the ask (boundary
    // INCLUSIVE: reading AS OF the exact commit instant sees that
    // commit). Probes straddle the three stamps: mid-interval, exact
    // boundary, and far-future; a pre-history ask fails loudly
    // (Round11OpsSpec). Resolution is O(versions) metadata — no data
    // touched until the resolved snapshot scans.
    "dml_time_travel_ts" -> ((s, d) => {
      import graft.sources.CommitLog
      val root = graft.Derived.dir("ttts", d, "orders") { dir =>
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        base.filter(col("k") % 3 === 0).write.parquet(s"$dir/data/s0")
        CommitLog.commit(dir, 0L, Seq("data/s0"))
        CommitLog.writeCommitTs(dir, 0L, 1000000L)
        base.filter(col("k") % 3 === 1).write.parquet(s"$dir/data/s1")
        CommitLog.commit(dir, 1L, Seq("data/s0", "data/s1"))
        CommitLog.writeCommitTs(dir, 1L, 2000000L)
        base.filter(col("k") % 3 === 2).write.parquet(s"$dir/data/s2")
        CommitLog.commit(dir, 2L, Seq("data/s0", "data/s1", "data/s2"))
        CommitLog.writeCommitTs(dir, 2L, 3000000L)
      }
      Seq(1500000L, 2000000L, 9999999L).map { asOf =>
        val v = CommitLog.versionAsOf(root, asOf)
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(asOf).as("as_of_us"),
            lit(v).cast("bigint").as("version"),
            col("n_rows"), col("total"))
      }.reduce(_ unionAll _).orderBy("as_of_us")
    }),
  )

  /** The 4-version lifecycle table S12 (dml_cdc_read) and S17
    * (dml_history) share: v0 base insert in k%4 bucket units, v1 COW
    * reprice of bucket 2, v2 OPTIMIZE to one unit, v3 COW delete of
    * k%4==1. Built once per (sfDir, orders fingerprint).
    */
  private[graft] def cdcTable(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Derived.dir("cdc", d, "orders") { dir =>
      import graft.sources.CommitLog
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"),
          (col("o_orderkey") % 4).cast("int").as("bucket"))
      base.repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$dir/data/v0")
      val v0Units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
      CommitLog.commit(dir, 0L, v0Units)
      base.filter(col("bucket") === 2)
        .select(col("k"), (col("p") * 2).cast(DecimalType(18, 2)).as("p"))
        .write.parquet(s"$dir/data/v1b2")
      CommitLog.commit(dir, 1L,
        v0Units.filterNot(_.endsWith("bucket=2")) :+ "data/v1b2")
      CommitLog.snapshot(s, dir, 1L).coalesce(1)
        .write.parquet(s"$dir/data/compact")
      CommitLog.commit(dir, 2L, Seq("data/compact"))
      CommitLog.snapshot(s, dir, 2L).filter(col("k") % 4 =!= 1)
        .coalesce(1).write.parquet(s"$dir/data/v3")
      CommitLog.commit(dir, 3L, Seq("data/v3"))
    }

  /** Register the maintained orders-by-(k%10) view of the S12 fact
    * lifecycle with [[graft.plans.MvCatalog]] and install the rewrite
    * rule — shared by view_rewrite_agg (exact shape) and
    * view_rewrite_rollup (coarser shape). Returns (table root, latest
    * version).
    */
  private def registerOrdersView(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Long) = {
    import graft.sources.CommitLog
    val root = cdcTable(s, d)
    val last = aggViewLastState(s, d)
    val vLast = CommitLog.versions(root).last
    graft.plans.MvCatalog.register(s, "orders_by_g",
      graft.plans.MvCatalog.MvDef(graft.plans.MvCatalog.snapshotPaths(root, vLast),
        ordersKeySql, ordersValueSql, last))
    (root, vLast)
  }

  /** The ARCHIVE table for the S63 union rewrite: a single-version
    * commit-log table holding the k%4==1 slice the S12 lifecycle
    * deleted at v3, at ORIGINAL prices — together the two snapshots
    * partition a repriced copy of orders, the archive ∪ current
    * split. Built once per (sfDir, orders fingerprint).
    */
  private[graft] def archTable(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Derived.dir("archtab", d, "orders") { dir =>
      import graft.sources.CommitLog
      load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
        .filter(col("k") % 4 === 1)
        .coalesce(1).write.parquet(s"$dir/data/v0")
      CommitLog.commit(dir, 0L, Seq("data/v0"))
    }

  /** Register the archive-by-(k%10) view for the S63 union rewrite.
    * The archive is born complete (one insert version), so its state
    * is the (g, n, nn, total) fold of the v0 feed alone. Returns
    * (table root, version 0).
    */
  private def registerArchView(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Long) = {
    import graft.sources.CommitLog
    val root = archTable(s, d)
    val stDir = graft.Derived.dir("archstate", d, "orders") { dir =>
      foldAggViewState(s, root, dir)
    }
    graft.plans.MvCatalog.register(s, "orders_arch_by_g",
      graft.plans.MvCatalog.MvDef(graft.plans.MvCatalog.snapshotPaths(root, 0L),
        ordersKeySql, ordersValueSql, s"$stDir/v0"))
    (root, 0L)
  }

  /** The incrementally-maintained fact⋈dim grouped state (g, n, nn,
    * total) of the S32 join-view lifecycle — the dml_cdc_join_view
    * signed-delta fold, extracted (round 15) so view_rewrite_join can
    * register the same state for automatic rewrite. Returns the FINAL
    * state's parquet path. The fold applies one CHANGED table per
    * step (see the S32 entry's comment for the cost story); nn carries
    * the signed non-null-value count so the rewrite keeps sum's NULL
    * semantics.
    */
  private[graft] def joinViewFinalState(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    s"${joinViewStateRoot(s, d)}/final"

  /** The join-view state DIRECTORY: `s2`, the (fact v2, dim v0) cut
    * the stale-join rewrite registers as its deliberately-behind state,
    * and `final`, both built with [[graft.plans.MvFold]]'s refold. The
    * steps name (isFactStep, changed version, the other side's version)
    * in the global order interleaving both histories. Step 0 (dim v0
    * before the fact's birth) joins nothing and is left out; s2 folds
    * fact v0 and v1 against dim@0, and final folds s2 with fact v2
    * (OPTIMIZE: an empty feed), dim v1 against fact@2 and fact v3
    * against dim@1 — two writes, one aggregate each.
    */
  private[graft] def joinViewStateRoot(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import graft.plans.MvFold
    val fact = cdcTable(s, d)
    val dim = dimTable(s, d)
    graft.Derived.dir("joinview", d, "orders") { dir =>
      val view = graft.plans.MvCatalog.MvJoinStaleDef(fact, dim,
        factStateVersion = 2L, dimStateVersion = 0L, tail = Nil,
        "k", "k", "g", "p", s"$dir/s2")
      def steps(st: (Boolean, Long, Long)*) = st.map(MvFold.joinDelta(s, view, _))
      MvFold.refold(steps((true, 0L, 0L), (true, 1L, 0L)))
        .write.parquet(view.statePath)
      MvFold.refold(MvFold.stateSelect(s, view.statePath) +:
        steps((true, 2L, 0L), (false, 1L, 2L), (true, 3L, 1L)))
        .write.parquet(s"$dir/final")
    }
  }

  /** Register the STALE join view (round 15, second wave): state at
    * the (fact v2, dim v0) cut — the s2 fold file — with the declared
    * remaining maintenance step (fact v3 against dim@0). Serves
    * queries over the (fact v3, dim v0) version pair, a cut NO fresh
    * view covers. Returns (fact root, dim root, state dir).
    */
  private[graft] def registerStaleOrdersJoinView(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (String, String, String) = {
    val fact = cdcTable(s, d)
    val dim = dimTable(s, d)
    val root = joinViewStateRoot(s, d)
    graft.plans.MvCatalog.register(s, "orders_join_dim_stale",
      graft.plans.MvCatalog.MvJoinStaleDef(fact, dim,
        factStateVersion = 2L, dimStateVersion = 0L,
        tail = Seq((true, 3L, 0L)),
        "k", "k", "g", "p", s"$root/s2"))
    (fact, dim, root)
  }

  /** A 2-version APPEND-ONLY orders table (v0 = even keys, v1 appends
    * the odd keys) — the feed class for which min/max ARE
    * self-maintainable (round 15 — VERDICT r14 #4).
    */
  private[graft] def appendTable(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Derived.dir("appendtab", d, "orders") { dir =>
      import graft.sources.CommitLog
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
      base.filter(col("k") % 2 === 0).coalesce(1)
        .write.parquet(s"$dir/data/v0")
      CommitLog.commit(dir, 0L, Seq("data/v0"))
      base.filter(col("k") % 2 === 1).coalesce(1)
        .write.parquet(s"$dir/data/v1")
      CommitLog.commit(dir, 1L, Seq("data/v0", "data/v1"))
    }

  /** The (g, n, nn, total, mn, mx) state of the append-only table —
    * [[foldAggViewState]] with min/max (see there for the retraction
    * refusal). Delete-bearing lifecycles keep the (n, nn, total) state,
    * and min/max queries over them decline the rewrite (Round15OpsSpec
    * pins both sides).
    */
  private[graft] def appendAggViewState(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import graft.sources.CommitLog
    val root = appendTable(s, d)
    val stDir = graft.Derived.dir("appendview", d, "orders") { dir =>
      foldAppendMinMaxState(s, root, dir)
    }
    s"$stDir/v${CommitLog.replayStates(stDir).last}"
  }

  /** The min/max-bearing fold, separated so the retraction refusal is
    * directly spec-testable against any commit-log table.
    */
  private[graft] def foldAppendMinMaxState(
      s: org.apache.spark.sql.SparkSession, root: String,
      dir: String): String =
    foldAggViewState(s, root, dir, minMax = true)

  /** A deliberately STALE view state: the k%7 grouped (g, n, nn,
    * total) fold of the append table's v0 feed ONLY — v1 exists but
    * was never folded in, the "maintenance job hasn't caught up"
    * shape the stale-tolerant rewrite compensates.
    */
  private[graft] def appendStaleState(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import graft.sources.CommitLog
    val root = appendTable(s, d)
    val stDir = graft.Derived.dir("stalestate", d, "orders") { dir =>
      val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 2))
      CommitLog.changes(s, root, 0L)
        .groupBy((col("k") % 7).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("p").isNotNull, lit(1L)).otherwise(lit(0L))).as("nn"),
          coalesce(sum(col("p").cast(DecimalType(38, 2))), zero)
            .cast(DecimalType(38, 2)).as("total"))
        .write.parquet(s"$dir/v0")
    }
    s"$stDir/v0"
  }

  /** Register the stale k%7 view of the append table (state at v0,
    * table at v1) with [[graft.plans.MvCatalog]]. Returns (table
    * root, state path).
    */
  private[graft] def registerStaleOrdersView(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String) = {
    val root = appendTable(s, d)
    val state = appendStaleState(s, d)
    graft.plans.MvCatalog.register(s, "orders_append_stale_k7",
      graft.plans.MvCatalog.MvStaleDef(root, 0L, "k % 7", "p", state))
    (root, state)
  }

  /** Register the append-only orders view (state WITH mn/mx) with
    * [[graft.plans.MvCatalog]]. Returns (table root, latest version).
    */
  private[graft] def registerAppendOrdersView(
      s: org.apache.spark.sql.SparkSession, d: String): (String, Long) = {
    import graft.sources.CommitLog
    val root = appendTable(s, d)
    val state = appendAggViewState(s, d)
    val vLast = CommitLog.versions(root).last
    graft.plans.MvCatalog.register(s, "orders_append_by_g",
      graft.plans.MvCatalog.MvDef(graft.plans.MvCatalog.snapshotPaths(root, vLast),
        ordersKeySql, ordersValueSql, state))
    (root, vLast)
  }

  /** Register the maintained fact⋈dim join view of the S32 lifecycle
    * with [[graft.plans.MvCatalog]] (round 15 — VERDICT r14 #2) and
    * install the rewrite rule. Returns (fact root, dim root, fact
    * latest version, dim latest version).
    */
  private[graft] def registerOrdersJoinView(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (String, String, Long, Long) = {
    import graft.sources.CommitLog
    val fact = cdcTable(s, d)
    val dim = dimTable(s, d)
    val state = joinViewFinalState(s, d)
    val vf = CommitLog.versions(fact).last
    val vd = CommitLog.versions(dim).last
    import graft.plans.MvCatalog.snapshotPaths
    graft.plans.MvCatalog.register(s, "orders_join_dim",
      graft.plans.MvCatalog.MvJoinDef(snapshotPaths(fact, vf), snapshotPaths(dim, vd),
        "k", "k", "g", "p", state))
    (fact, dim, vf, vd)
  }

  /** The key and value SQL of the orders-by-(k%10) views: every state
    * built by [[foldAggViewState]] groups by the one and sums the other,
    * and every registration of such a state names the same pair.
    */
  private[graft] val ordersKeySql = "k % 10"
  private[graft] val ordersValueSql = "p"

  /** The per-group (n, nn, total) view state of the S12 CDC fact
    * lifecycle — the dml_cdc_agg_view state, shared with
    * view_rewrite_agg (which registers it for automatic rewrite).
    * Deterministic derived data, cached per (sfDir, fingerprint).
    * Returns the LATEST version's state parquet path.
    */
  private def aggViewLastState(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import graft.sources.CommitLog
    val root = cdcTable(s, d)
    val stDir = graft.Derived.dir("aggview", d, "orders") { dir =>
      foldAggViewState(s, root, dir)
    }
    s"$stDir/v${CommitLog.replayStates(stDir).last}"
  }

  /** The (g, n, nn, total) state of commit-log table `root` after its
    * last version, keyed by [[ordersKeySql]] over [[ordersValueSql]]:
    * ONE signed aggregate ([[graft.plans.MvFold.deltaAgg]]) over the
    * union of every version's signed change feed, written once to
    * `dir/v<last>`. The sums are additive, so aggregating the union
    * equals folding the versions' deltas one after another; an empty
    * feed (OPTIMIZE) is an empty union branch, and a NULL key is one
    * group, as in a groupBy over the final snapshot. nn is the signed
    * count of NON-NULL values: without it a group whose values are all
    * NULL would fold total to 0 where a direct aggregate returns NULL;
    * the rewrite (plans/MvRewrite) emits NULL when nn = 0.
    *
    * `minMax` adds (mn, mx), exact under inserts and IMPOSSIBLE under
    * retraction (removing the max needs a rescan): that fold first
    * REFUSES a history whose feeds carry any non-insert row, naming
    * the first such version, rather than maintain a silently wrong
    * extreme. Returns the state's path.
    */
  private[graft] def foldAggViewState(s: org.apache.spark.sql.SparkSession,
      root: String, dir: String, minMax: Boolean = false): String = {
    import graft.plans.MvFold
    import graft.sources.CommitLog
    val vs = CommitLog.versions(root)
    val feeds = vs.map(v => MvFold.signedChanges(s, root, v))
    if (minMax) {
      val firstRetraction = vs.zip(feeds)
        .map { case (v, f) => f.filter(col("__sgn") =!= 1L).select(lit(v).as("v")) }
        .reduce(_ unionAll _).agg(min(col("v"))).head()
      require(firstRetraction.isNullAt(0),
        s"append-only min/max view: version ${firstRetraction.getLong(0)} " +
          s"of $root carries a retraction — min/max are not " +
          "self-maintainable under deletes; rebuild the state or drop " +
          "the mn/mx columns")
    }
    val out = s"$dir/v${vs.last}"
    MvFold.deltaAgg(feeds.map(MvFold.signedProj(_, ordersKeySql, ordersValueSql))
      .reduce(_ unionAll _), minMax).write.parquet(out)
    out
  }

  /** One skipping probe's row: `probe` = `id`, the units `snap`'s scan
    * reads, and its row count and exact total of `p`.
    */
  private def probeRow(id: Long,
      snap: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    snap.agg(count(lit(1)).as("n_rows"),
        sum(col("p")).cast(DecimalType(38, 2)).as("total"))
      .select(lit(id).as("probe"),
        lit(graft.sources.CommitLog.scannedUnits(snap).toLong).as("n_units_scanned"),
        col("n_rows"), col("total"))

  /** The 2-version DIMENSION table S32 (dml_cdc_join_view) joins the
    * S12 fact lifecycle against: v0 inserts k -> k%10 in k%4 bucket
    * units; v1 COW-promotes bucket 3's segment to g+20 (a rewrite of
    * exactly that unit — the changed keys confined to one bucket, the
    * COW shape changes() reads as pre/post pairs). Built once per
    * (sfDir, orders fingerprint).
    */
  private def dimTable(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Derived.dir("dim", d, "orders") { dir =>
      import graft.sources.CommitLog
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          (col("o_orderkey") % 10).cast("bigint").as("g"),
          (col("o_orderkey") % 4).cast("int").as("bucket"))
      base.repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$dir/data/v0")
      val v0Units = CommitLog.partitionUnits(dir, "data/v0", "bucket")
      CommitLog.commit(dir, 0L, v0Units)
      base.filter(col("bucket") === 3)
        .select(col("k"), (col("g") + 20).cast("bigint").as("g"))
        .write.parquet(s"$dir/data/v1b3")
      CommitLog.commit(dir, 1L,
        v0Units.filterNot(_.endsWith("bucket=3")) :+ "data/v1b3")
    }

  /** The append-only 3-version log S10/S11 share: v0/v1/v2 each add
    * one k%3 key-slice unit. Built once per (sfDir, orders
    * fingerprint).
    */
  private def incrTable(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Derived.dir("incr", d, "orders") { dir =>
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
      (0 to 2).foreach { i =>
        base.filter(col("k") % 3 === i).write.parquet(s"$dir/data/a$i")
        graft.sources.CommitLog.commit(dir, i.toLong,
          (0 to i).map(j => s"data/a$j"))
      }
    }

  val oracle: Map[String, String] = Map(
    "dml_rename_col" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
        |SELECT CAST(k % 4 AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total_price
        |FROM base GROUP BY 1 ORDER BY g""".stripMargin,
    "dml_wap" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v AS (
        |  SELECT 0 AS version, k, p FROM base WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT 1 AS version, k, p FROM base)
        |SELECT CAST(version AS BIGINT) AS version,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM v GROUP BY version ORDER BY version""".stripMargin,
    // S47 twin: v0 = the k%3==0 base, v1 = base + the clean k%3==1
    // delta; every poisoned batch was rejected pre-commit so no
    // version reflects any of them.
    "dml_constraints" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v AS (
        |  SELECT 0 AS version, k, p FROM base WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT 1 AS version, k, p FROM base WHERE k % 3 <= 1)
        |SELECT CAST(version AS BIGINT) AS version,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM v GROUP BY version ORDER BY version""".stripMargin,
    "dml_purge" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | live AS (SELECT k, p FROM base WHERE k % 100 <> 7),
        | v AS (
        |  SELECT 0 AS version, k, p FROM live WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT 1 AS version, k, p FROM live WHERE k % 3 <= 1
        |  UNION ALL
        |  SELECT 2 AS version, k, p FROM live
        |  WHERE k % 3 <= 1 AND k % 5 <> 0)
        |SELECT CAST(version AS BIGINT) AS version,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM v GROUP BY version ORDER BY version""".stripMargin,
    // S40 twin: membership arithmetic per version; the clerk count is
    // NULL from the drop version on — schema evolution observable in
    // values, not just shapes.
    "dml_drop_col" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p, o_orderstatus AS clerk
        |  FROM orders),
        | vv AS (SELECT CAST(0 AS BIGINT) AS version
        |    UNION ALL SELECT CAST(1 AS BIGINT)
        |    UNION ALL SELECT CAST(2 AS BIGINT))
        |SELECT version,
        |  CAST(CASE WHEN version <= 1
        |    THEN (SELECT count(*) FROM base WHERE k % 2 = 0)
        |    ELSE (SELECT count(*) FROM base) END AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN version <= 1
        |    THEN (SELECT sum(p) FROM base WHERE k % 2 = 0)
        |    ELSE (SELECT sum(p) FROM base) END AS DECIMAL(38,2)) AS total,
        |  CAST(CASE WHEN version = 0
        |    THEN (SELECT count(clerk) FROM base WHERE k % 2 = 0)
        |    ELSE NULL END AS BIGINT) AS clerk_rows
        |FROM vv ORDER BY version""".stripMargin,
    // S42 twin: membership arithmetic per version; the src counts are
    // NULL below the add, all-legacy at the add (the default
    // backfills), and split legacy/fresh once the physical appends
    // land.
    "dml_add_col" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | vv AS (SELECT CAST(0 AS BIGINT) AS version
        |    UNION ALL SELECT CAST(1 AS BIGINT)
        |    UNION ALL SELECT CAST(2 AS BIGINT))
        |SELECT version,
        |  CAST(CASE WHEN version <= 1
        |    THEN (SELECT count(*) FROM base WHERE k % 2 = 0)
        |    ELSE (SELECT count(*) FROM base) END AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN version <= 1
        |    THEN (SELECT sum(p) FROM base WHERE k % 2 = 0)
        |    ELSE (SELECT sum(p) FROM base) END AS DECIMAL(38,2)) AS total,
        |  CAST(CASE WHEN version = 0 THEN NULL
        |    ELSE (SELECT count(*) FROM base WHERE k % 2 = 0)
        |    END AS BIGINT) AS n_legacy,
        |  CAST(CASE WHEN version = 0 THEN NULL WHEN version = 1 THEN 0
        |    ELSE (SELECT count(*) FROM base WHERE k % 2 = 1)
        |    END AS BIGINT) AS n_fresh
        |FROM vv ORDER BY version""".stripMargin,
    // S41 twin: exact integer cents arithmetic; the widened appends
    // add 3e9 per odd row — values an INT cannot hold.
    "dml_widen_col" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS cents
        |  FROM orders),
        | vv AS (SELECT CAST(0 AS BIGINT) AS version
        |    UNION ALL SELECT CAST(1 AS BIGINT)
        |    UNION ALL SELECT CAST(2 AS BIGINT))
        |SELECT version,
        |  CAST(CASE WHEN version <= 1
        |    THEN (SELECT count(*) FROM base WHERE k % 2 = 0)
        |    ELSE (SELECT count(*) FROM base) END AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN version <= 1
        |    THEN (SELECT sum(cents) FROM base WHERE k % 2 = 0)
        |    ELSE (SELECT sum(cents) FROM base WHERE k % 2 = 0)
        |      + (SELECT sum(cents + 3000000000) FROM base WHERE k % 2 = 1)
        |    END AS BIGINT) AS sum_cents
        |FROM vv ORDER BY version""".stripMargin,
    // S39 twin: purge predicate applied to counts/totals; unit-probe
    // counts recomputed from the same k-range bucketing by interval
    // intersection over SURVIVING keys (the twins' re-derived ranges);
    // bloom probes recomputed as exact point counts on the live set.
    "dml_purge_indexed" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | w AS (SELECT max(k) // 4 + 1 AS wd FROM base),
        | live AS (SELECT k, p FROM base WHERE k % 50 <> 2),
        | ue AS (SELECT k // wd AS b, min(k) AS mn, max(k) AS mx
        |    FROM live, w WHERE k % 2 = 0 GROUP BY 1),
        | uo AS (SELECT min(k) AS mn, max(k) AS mx FROM live
        |    WHERE k % 2 = 1),
        | sk AS (SELECT min(k) AS v FROM base
        |    WHERE k % 2 = 0 AND k % 50 <> 2),
        | pk AS (SELECT min(k) AS v FROM base WHERE k % 50 = 2),
        | vv AS (SELECT CAST(0 AS BIGINT) AS version
        |    UNION ALL SELECT CAST(1 AS BIGINT))
        |SELECT version,
        |  CAST(CASE WHEN version = 0
        |    THEN (SELECT count(*) FROM live WHERE k % 2 = 0)
        |    ELSE (SELECT count(*) FROM live) END AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN version = 0
        |    THEN (SELECT sum(p) FROM live WHERE k % 2 = 0)
        |    ELSE (SELECT sum(p) FROM live) END AS DECIMAL(38,2)) AS total,
        |  CAST((SELECT count(*) FROM ue, w
        |      WHERE mn <= wd - 1 AND mx >= 0)
        |    + CASE WHEN version = 1 THEN (SELECT CASE
        |        WHEN mn <= wd - 1 AND mx >= 0 THEN 1 ELSE 0 END
        |        FROM uo, w) ELSE 0 END AS BIGINT) AS range_units,
        |  CAST((SELECT count(*) FROM live
        |    WHERE k = (SELECT v FROM sk)) AS BIGINT) AS bloom_hit,
        |  CAST((SELECT count(*) FROM live
        |    WHERE k = (SELECT v FROM pk)) AS BIGINT) AS bloom_purged
        |FROM vv ORDER BY version""".stripMargin,
    "dml_cdc_join_view" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1),
        | dim AS (SELECT k, k % 10
        |     + CASE WHEN k % 4 = 3 THEN 20 ELSE 0 END AS g FROM base)
        |SELECT CAST(g AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin JOIN dim USING (k) GROUP BY g ORDER BY g""".stripMargin,
    // S56 twin: the rewritten join query must equal the direct
    // join+group-by over both tables' final snapshots — the same body
    // as the maintained state's own oracle, which is the entire
    // rewrite contract in one equation.
    "view_rewrite_join" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1),
        | dim AS (SELECT k, k % 10
        |     + CASE WHEN k % 4 = 3 THEN 20 ELSE 0 END AS g FROM base)
        |SELECT CAST(g AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin JOIN dim USING (k) GROUP BY g ORDER BY g""".stripMargin,
    // S34 twin: both generations' unit layouts recomputed from the
    // same grouping arithmetic, pruned-unit counts by interval
    // intersection — layout-agnostic pruning verified from first
    // principles.
    "dml_partition_evolution" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | w AS (SELECT max(k) // 2 + 1 AS wd2, max(k) // 8 + 1 AS wd8,
        |    max(k) AS mk FROM base),
        | u0 AS (SELECT k // wd2 AS b, min(k) AS mn, max(k) AS mx
        |    FROM base, w WHERE k % 2 = 0 GROUP BY 1),
        | u1 AS (SELECT k // wd8 AS b, min(k) AS mn, max(k) AS mx
        |    FROM base, w WHERE k % 2 = 1 GROUP BY 1),
        | units AS (SELECT mn, mx FROM u0 UNION ALL SELECT mn, mx FROM u1),
        | probes AS (
        |   SELECT CAST(0 AS BIGINT) AS probe, 2*wd8 AS lo, 3*wd8 - 1 AS hi FROM w
        |   UNION ALL SELECT CAST(1 AS BIGINT), 5*wd8 + wd8 // 2,
        |     6*wd8 + wd8 // 2 FROM w
        |   UNION ALL SELECT CAST(2 AS BIGINT), 0, mk FROM w)
        |SELECT probe,
        |  (SELECT count(*) FROM units WHERE mn <= hi AND mx >= lo)
        |    AS n_units_scanned,
        |  (SELECT count(*) FROM base WHERE k BETWEEN lo AND hi) AS n_rows,
        |  CAST((SELECT sum(p) FROM base WHERE k BETWEEN lo AND hi)
        |    AS DECIMAL(38,2)) AS total
        |FROM probes ORDER BY probe""".stripMargin,
    // S36 twin: AS OF resolution recomputed as arithmetic over the
    // same stamps (1.5s -> v0, exact 2.0s boundary -> v1, future -> v2).
    "dml_time_travel_ts" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | probes AS (
        |   SELECT CAST(1500000 AS BIGINT) AS as_of_us,
        |     CAST(0 AS BIGINT) AS version, 0 AS max_mod
        |   UNION ALL SELECT CAST(2000000 AS BIGINT), CAST(1 AS BIGINT), 1
        |   UNION ALL SELECT CAST(9999999 AS BIGINT), CAST(2 AS BIGINT), 2)
        |SELECT as_of_us, version,
        |  (SELECT count(*) FROM base WHERE k % 3 <= max_mod) AS n_rows,
        |  CAST((SELECT sum(p) FROM base WHERE k % 3 <= max_mod)
        |    AS DECIMAL(38,2)) AS total
        |FROM probes ORDER BY as_of_us""".stripMargin,
    // S35 twin: retained-snapshot arithmetic; the reclaim count is
    // layout-determined (3 superseded write dirs) so it pins as a
    // literal — the in-build require() is what fails the row if the
    // engine's vacuum ever reclaims more or less.
    "dml_vacuum" ->
      """SELECT CAST(2 AS BIGINT) AS version,
        |  CAST(3 AS BIGINT) AS units_reclaimed,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS total
        |FROM orders""".stripMargin,
    "dml_cdc_replay" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1)
        |SELECT count(*) AS replica_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS replica_total,
        |    count(*) AS snapshot_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS snapshot_total
        |FROM fin""".stripMargin,
    "dml_cdc_agg_view" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1)
        |SELECT k % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin GROUP BY 1 ORDER BY g""".stripMargin,
    // S48 twin: the rewrite may change the PLAN, never the values —
    // the direct-aggregate arithmetic is the oracle for both.
    "view_rewrite_agg" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1)
        |SELECT k % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin GROUP BY 1 ORDER BY g""".stripMargin,
    // S63 twin: lifecycle-final ∪ archive slice aggregated directly —
    // the rewrite may refold two states, never change values.
    "view_rewrite_union" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1),
        | arch AS (SELECT k, p FROM base WHERE k % 4 = 1),
        | un AS (SELECT * FROM fin UNION ALL SELECT * FROM arch)
        |SELECT k % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM un GROUP BY 1 ORDER BY g""".stripMargin,
    // S64 twin: the filtered union aggregated directly.
    "view_rewrite_union_filtered" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1),
        | arch AS (SELECT k, p FROM base WHERE k % 4 = 1),
        | un AS (SELECT * FROM fin UNION ALL SELECT * FROM arch)
        |SELECT k % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM un WHERE k % 10 IN (2, 4, 6)
        |GROUP BY 1 ORDER BY g""".stripMargin,
    // S53 twin: the two-key rollup computed directly from the fact
    // arithmetic.
    "view_rewrite_multikey" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1)
        |SELECT CASE WHEN k % 10 < 5 THEN 'low' ELSE 'high' END AS band,
        |    k % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin GROUP BY 1, 2 ORDER BY band, g""".stripMargin,
    // S52 twin: the rollup mean rendered by the exact-integer half-up
    // recipe — (2·Σcents·10⁴ + n) // (2n) is the 1e-6-unit half-up of
    // the rational mean (all-positive operands, so // is floor), and
    // the ×1e-6 render is an exact decimal multiply; Spark's decimal
    // avg rounds the same rational at the same final scale.
    "view_rewrite_avg" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1)
        |SELECT (k % 10) % 3 AS g3, CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST((2 * CAST(sum(CAST(p * 100 AS BIGINT)) AS HUGEINT) * 10000
        |        + count(p)) // (2 * count(p)) AS DECIMAL(22,0))
        |    * 0.000001 AS DECIMAL(22,6)) AS avg_p
        |FROM fin GROUP BY 1 ORDER BY g3""".stripMargin,
    // S50 twin: the same whole-group filter computed directly from
    // the fact arithmetic.
    "view_rewrite_filtered" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1)
        |SELECT k % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin WHERE k % 10 IN (2, 4, 6)
        |GROUP BY 1 ORDER BY g""".stripMargin,
    // S59 twin: fact-final ⋈ dim@v0 (g = k%10, no bucket-3 promotion)
    "view_rewrite_join_stale" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1),
        | dim0 AS (SELECT k, k % 10 AS g FROM base)
        |SELECT CAST(g AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin JOIN dim0 USING (k) GROUP BY g ORDER BY g""".stripMargin,
    // S58 twin: state(v0) + delta(v1) must equal the direct aggregate
    // over the full table (v0 ∪ v1 = all of orders)
    "view_rewrite_stale" ->
      """SELECT o_orderkey % 7 AS g, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |FROM orders GROUP BY 1 ORDER BY g""".stripMargin,
    // S57 twin: the append-only table's final snapshot is the whole
    // orders table (v0 even + v1 odd keys, no reprice, no delete)
    "view_rewrite_minmax" ->
      """SELECT o_orderkey % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS min_p,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS max_p,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |FROM orders GROUP BY 1 ORDER BY g""".stripMargin,
    // S51 twin: per-version fact rollup under the lifecycle's accept
    // set — v0 = the k%3=0 batch; v1 adds the k%3≠0 rows whose parent
    // survived the dim delete (c%100≠7).
    "dml_fk_constraint" ->
      """WITH base AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v0 AS (SELECT * FROM base WHERE k % 3 = 0),
        | v1 AS (SELECT * FROM base
        |   WHERE k % 3 = 0 OR (k % 3 <> 0 AND c % 100 <> 7))
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total FROM v0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM v1
        |ORDER BY version""".stripMargin,
    // S49 twin: the coarser rollup computed directly from the fact
    // arithmetic — the rewrite may re-aggregate state, never change
    // values.
    "view_rewrite_rollup" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (SELECT k, CASE WHEN k % 4 = 2
        |     THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p FROM base),
        | fin AS (SELECT k, p FROM v1 WHERE k % 4 <> 1)
        |SELECT (k % 10) % 3 AS g3, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin GROUP BY 1 ORDER BY g3""".stripMargin,
    "dml_bloom_skipping" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | w AS (SELECT min(k) AS k0,
        |    min(CASE WHEN k >= (SELECT max(k) FROM base) // 2
        |      THEN k END) AS k1,
        |    max(k) AS k2 FROM base)
        |SELECT CAST(0 AS BIGINT) AS probe, count(*) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |  FROM base, w WHERE k = k0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*), CAST(sum(p) AS DECIMAL(38,2))
        |  FROM base, w WHERE k = k1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(p) AS DECIMAL(38,2))
        |  FROM base, w WHERE k = k2
        |ORDER BY probe""".stripMargin,
    "dml_compact_incr" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
        |SELECT CAST(0 AS BIGINT) AS version, CAST(11 AS BIGINT) AS n_units,
        |    count(*) AS n_rows, CAST(sum(p) AS DECIMAL(38,2)) AS total
        |  FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT), count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM base
        |ORDER BY version""".stripMargin,
    "dml_history" ->
      """WITH base AS (SELECT o_orderkey AS k FROM orders),
        | s AS (SELECT count(DISTINCT k % 4) AS d,
        |    max(CASE WHEN k % 4 = 2 THEN 1 ELSE 0 END) AS h2 FROM base)
        |SELECT CAST(0 AS BIGINT) AS version, CAST(d AS BIGINT) AS n_units,
        |    CAST(d AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
        |    CAST(0 AS BIGINT) AS n_dv_units, TRUE AS is_append FROM s
        |UNION ALL
        |SELECT 1, d - h2 + 1, 1, h2, 0, h2 = 0 FROM s
        |UNION ALL
        |SELECT 2, 1, 1, d - h2 + 1, 0, FALSE FROM s
        |UNION ALL
        |SELECT 3, 1, 1, 1, 0, FALSE FROM s
        |ORDER BY version""".stripMargin,
    "dml_upsert_mor" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | upd AS (SELECT k, CAST(p * 2 AS DECIMAL(18,2)) AS p FROM base
        |   WHERE k % 5 = 0),
        | ins AS (SELECT k + 1000000000 AS k, p FROM base WHERE k % 11 = 0),
        | v1 AS (SELECT k, p FROM base WHERE k % 5 <> 0
        |   UNION ALL SELECT k, p FROM upd
        |   UNION ALL SELECT k, p FROM ins)
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_visible,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total_visible,
        |    CAST(0 AS BIGINT) AS n_tombstone_units, count(*) AS n_raw_rows
        |  FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), (SELECT count(*) FROM v1),
        |    CAST((SELECT sum(p) FROM v1) AS DECIMAL(38,2)), CAST(1 AS BIGINT),
        |    (SELECT count(*) FROM base) + (SELECT count(*) FROM upd)
        |      + (SELECT count(*) FROM ins)
        |ORDER BY version""".stripMargin,
    "dml_apply_deletes" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | w AS (SELECT max(k) // 8 + 1 AS wd FROM base),
        | del AS (SELECT k FROM base, w
        |   WHERE (k // wd = 2 OR k // wd = 5) AND k % 3 = 0),
        | live AS (SELECT k, p FROM base, w
        |   WHERE NOT ((k // wd = 2 OR k // wd = 5) AND k % 3 = 0)),
        | nb AS (SELECT count(DISTINCT k // wd) AS nu FROM base, w)
        |SELECT CAST(0 AS BIGINT) AS version, (SELECT nu FROM nb) AS n_units,
        |    count(*) AS n_visible, CAST(sum(p) AS DECIMAL(38,2)) AS total_visible,
        |    CAST(0 AS BIGINT) AS n_tombstone_units FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), (SELECT nu FROM nb),
        |    (SELECT count(*) FROM live),
        |    CAST((SELECT sum(p) FROM live) AS DECIMAL(38,2)), CAST(1 AS BIGINT)
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |    (SELECT nu FROM nb),
        |    (SELECT count(*) FROM live),
        |    CAST((SELECT sum(p) FROM live) AS DECIMAL(38,2)), CAST(0 AS BIGINT)
        |ORDER BY version""".stripMargin,
    "dml_delete_mor" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | live AS (SELECT k, p FROM base WHERE k % 7 <> 0)
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_visible,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total_visible,
        |    CAST(0 AS BIGINT) AS n_tombstone_units,
        |    count(*) AS n_raw_rows FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), (SELECT count(*) FROM live),
        |    CAST((SELECT sum(p) FROM live) AS DECIMAL(38,2)),
        |    CAST(1 AS BIGINT), count(*) FROM base
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)), CAST(0 AS BIGINT), count(*)
        |  FROM live
        |ORDER BY version""".stripMargin,
    "dml_restore" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*), CAST(sum(p) AS DECIMAL(38,2))
        |  FROM base WHERE k % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(p) AS DECIMAL(38,2))
        |  FROM base
        |ORDER BY version""".stripMargin,
    "dml_optimize_zorder" ->
      """WITH o AS (SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS xc,
        |    CAST(datediff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS yd
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        | bits AS (SELECT unnest(generate_series(0, 15)) AS i),
        | z AS (SELECT k, xc, yd,
        |    sum((((xc >> i) % 2) << (i*2)) + (((yd >> i) % 2) << (i*2+1))) AS zval
        |  FROM o, bits GROUP BY k, xc, yd),
        | w AS (SELECT max(yd) // 8 + 1 AS ydw, max(zval) // 8 + 1 AS zw,
        |    max(xc) AS mxc, max(yd) AS myd FROM z),
        | u0 AS (SELECT yd // ydw AS b, min(xc) AS mnx, max(xc) AS mxx,
        |    min(yd) AS mny, max(yd) AS mxy FROM z, w GROUP BY 1),
        | u1 AS (SELECT zval // zw AS b, min(xc) AS mnx, max(xc) AS mxx,
        |    min(yd) AS mny, max(yd) AS mxy FROM z, w GROUP BY 1),
        | pr AS (SELECT 'cust' AS probe, 0 AS xlo, mxc // 8 AS xhi,
        |     NULL AS ylo, NULL AS yhi FROM w
        |   UNION ALL SELECT 'day', NULL, NULL, 0, myd // 8 FROM w
        |   UNION ALL SELECT 'both', 0, mxc // 8, 0, myd // 8 FROM w)
        |SELECT CAST(0 AS BIGINT) AS version, probe,
        |  (SELECT count(*) FROM u0
        |    WHERE (xlo IS NULL OR (mnx <= xhi AND mxx >= xlo))
        |      AND (ylo IS NULL OR (mny <= yhi AND mxy >= ylo)))
        |    AS n_units_scanned,
        |  (SELECT count(*) FROM z
        |    WHERE (xlo IS NULL OR xc BETWEEN xlo AND xhi)
        |      AND (ylo IS NULL OR yd BETWEEN ylo AND yhi)) AS n_rows
        |FROM pr
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), probe,
        |  (SELECT count(*) FROM u1
        |    WHERE (xlo IS NULL OR (mnx <= xhi AND mxx >= xlo))
        |      AND (ylo IS NULL OR (mny <= yhi AND mxy >= ylo))),
        |  (SELECT count(*) FROM z
        |    WHERE (xlo IS NULL OR xc BETWEEN xlo AND xhi)
        |      AND (ylo IS NULL OR yd BETWEEN ylo AND yhi))
        |FROM pr
        |ORDER BY version, probe""".stripMargin,
    "dml_merge_cow" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | w AS (SELECT max(k) // 8 + 1 AS wd FROM base),
        | upd AS (SELECT k, CAST(p * 3 AS DECIMAL(18,2)) AS p FROM base, w
        |   WHERE (k // wd = 2 AND k % 2 = 0) OR (k // wd = 5 AND k % 3 = 0)),
        | ins AS (SELECT k + 8 * wd AS k, p FROM base, w WHERE k % 13 = 0),
        | v1 AS (SELECT k, p FROM base WHERE k NOT IN (SELECT k FROM upd)
        |   UNION ALL SELECT k, p FROM upd
        |   UNION ALL SELECT k, p FROM ins)
        |SELECT CAST(0 AS BIGINT) AS version,
        |    (SELECT count(DISTINCT k // wd) FROM base, w) AS n_units,
        |    count(*) AS n_rows, CAST(sum(p) AS DECIMAL(38,2)) AS total
        |  FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT),
        |    (SELECT count(DISTINCT k // wd) FROM base, w)
        |      + (CASE WHEN EXISTS(SELECT 1 FROM ins) THEN 1 ELSE 0 END),
        |    count(*), CAST(sum(p) AS DECIMAL(38,2)) FROM v1
        |ORDER BY version""".stripMargin,
    "dml_cdc_read" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | b2 AS (SELECT k, p FROM base WHERE k % 4 = 2),
        | d3 AS (SELECT k, p FROM base WHERE k % 4 = 1)
        |SELECT CAST(0 AS BIGINT) AS version, 'delete' AS change_type,
        |    CAST(0 AS BIGINT) AS n_rows, CAST(0 AS DECIMAL(38,2)) AS total
        |UNION ALL SELECT 0, 'insert', count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM base
        |UNION ALL SELECT 1, 'delete', count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM b2
        |UNION ALL SELECT 1, 'insert', count(*),
        |    CAST(sum(CAST(p * 2 AS DECIMAL(18,2))) AS DECIMAL(38,2)) FROM b2
        |UNION ALL SELECT 2, 'delete', 0, CAST(0 AS DECIMAL(38,2))
        |UNION ALL SELECT 2, 'insert', 0, CAST(0 AS DECIMAL(38,2))
        |UNION ALL SELECT 3, 'delete', count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM d3
        |UNION ALL SELECT 3, 'insert', 0, CAST(0 AS DECIMAL(38,2))
        |ORDER BY version, change_type""".stripMargin,
    "dml_txn_multi" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | s0 AS (SELECT k, p FROM base WHERE k % 3 = 0),
        | s01 AS (SELECT k, p FROM base WHERE k % 3 <> 2)
        |SELECT CAST(0 AS BIGINT) AS txn, count(*) AS fact_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS fact_total,
        |    count(*) AS agg_rows, CAST(sum(p) AS DECIMAL(38,2)) AS agg_total
        |  FROM s0
        |UNION ALL SELECT 1, count(*), CAST(sum(p) AS DECIMAL(38,2)),
        |    count(*), CAST(sum(p) AS DECIMAL(38,2)) FROM s01
        |ORDER BY txn""".stripMargin,
    "dml_cdc_read_mor" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | ev AS (SELECT k, p FROM base WHERE k % 2 = 0),
        | pre AS (SELECT k, p FROM base WHERE k % 6 = 0),
        | upd AS (SELECT k, CAST(p * 3 AS DECIMAL(18,2)) AS p
        |   FROM base WHERE k % 6 = 0),
        | ins AS (SELECT k, p FROM base WHERE k % 2 = 1 AND k % 3 = 0)
        |SELECT CAST(0 AS BIGINT) AS version, 'delete' AS change_type,
        |    CAST(0 AS BIGINT) AS n_rows, CAST(0 AS DECIMAL(38,2)) AS total
        |UNION ALL SELECT 0, 'insert', count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM ev
        |UNION ALL SELECT 1, 'delete', count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM pre
        |UNION ALL SELECT 1, 'insert',
        |    (SELECT count(*) FROM upd) + (SELECT count(*) FROM ins),
        |    CAST((SELECT sum(p) FROM upd) + (SELECT sum(p) FROM ins)
        |      AS DECIMAL(38,2))
        |UNION ALL SELECT 2, 'delete', 0, CAST(0 AS DECIMAL(38,2))
        |UNION ALL SELECT 2, 'insert', 0, CAST(0 AS DECIMAL(38,2))
        |ORDER BY version, change_type""".stripMargin,
    "dml_time_travel" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v1 AS (
        |  SELECT k, CASE WHEN k % 4 = 2 THEN CAST(p * 2 AS DECIMAL(18,2))
        |    ELSE p END AS p FROM base
        |  UNION ALL
        |  SELECT k + 1000000000, p FROM base WHERE k % 11 = 0)
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total,
        |    min(k) AS min_k, max(k) AS max_k FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*), CAST(sum(p) AS DECIMAL(38,2)),
        |    min(k), max(k) FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(p) AS DECIMAL(38,2)),
        |    min(k), max(k) FROM v1 WHERE k % 4 <> 1
        |ORDER BY version""".stripMargin,
    "dml_optimize" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
        |SELECT CAST(0 AS BIGINT) AS version,
        |    count(DISTINCT k % 16) AS n_units, count(*) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM base
        |ORDER BY version""".stripMargin,
    "dml_clone" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT),
        |    (SELECT count(*) FROM base) +
        |      (SELECT count(*) FROM base WHERE k % 3 = 0),
        |    CAST((SELECT sum(p) FROM base) +
        |      (SELECT sum(p) FROM base WHERE k % 3 = 0) AS DECIMAL(38,2))
        |ORDER BY version""".stripMargin,
    "dml_incremental_read" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | v AS (SELECT unnest([0, 1, 2]) AS version)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(1 AS BIGINT) AS n_added_units,
        |  (SELECT count(*) FROM base WHERE k % 3 = version) AS n_added_rows,
        |  CAST((SELECT sum(p) FROM base WHERE k % 3 = version)
        |    AS DECIMAL(38,2)) AS added_total,
        |  (SELECT count(*) FROM base WHERE k % 3 <= version) AS n_snapshot_rows
        |FROM v ORDER BY version""".stripMargin,
    "dml_data_skipping" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | w AS (SELECT max(k) // 8 + 1 AS wd, max(k) AS mk FROM base),
        | u AS (SELECT k // wd AS b, min(k) AS mn, max(k) AS mx
        |       FROM base, w GROUP BY 1),
        | probes AS (
        |   SELECT CAST(0 AS BIGINT) AS probe, 2*wd AS lo, 3*wd - 1 AS hi FROM w
        |   UNION ALL SELECT CAST(1 AS BIGINT), 5*wd + wd // 2, 6*wd + wd // 2 FROM w
        |   UNION ALL SELECT CAST(2 AS BIGINT), 0, mk FROM w
        |   -- probe 3 is the engine's STRING-stats path; the key string
        |   -- is zero-padded so its lexicographic pruning and filtering
        |   -- are value-identical to this numeric recomputation
        |   UNION ALL SELECT CAST(3 AS BIGINT), 6*wd + wd // 2, 7*wd + wd // 2 FROM w)
        |SELECT probe,
        |  (SELECT count(*) FROM u WHERE mn <= hi AND mx >= lo) AS n_units_scanned,
        |  (SELECT count(*) FROM base WHERE k BETWEEN lo AND hi) AS n_rows,
        |  CAST((SELECT sum(p) FROM base WHERE k BETWEEN lo AND hi)
        |    AS DECIMAL(38,2)) AS total
        |FROM probes ORDER BY probe""".stripMargin,
    "dml_schema_evolution" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | ins AS (SELECT k + 2000000000 AS k, p FROM base WHERE k % 9 = 0)
        |SELECT CAST(0 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_cols,
        |    count(*) AS n_rows, CAST(sum(p) AS DECIMAL(38,2)) AS total,
        |    CAST(0 AS BIGINT) AS n_flagged FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(3 AS BIGINT),
        |    (SELECT count(*) FROM base) + (SELECT count(*) FROM ins),
        |    CAST((SELECT sum(p) FROM base) + (SELECT sum(p) FROM ins)
        |      AS DECIMAL(38,2)),
        |    (SELECT count(*) FROM ins)
        |ORDER BY version""".stripMargin,
    "dml_snapshot_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p1 FROM orders),
        | b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p2 FROM orders),
        | v2 AS (
        |  SELECT k, CASE WHEN k % 5 = 0 THEN CAST(p2 * 2 AS DECIMAL(18,2))
        |    ELSE p2 END AS p2 FROM b WHERE k % 7 <> 0
        |  UNION ALL
        |  SELECT k + 1000000000, p2 FROM b WHERE k % 11 = 0),
        | j AS (SELECT coalesce(v1.k, v2.k) AS k, p1, p2,
        |    CASE WHEN p1 IS NULL THEN 'A' WHEN p2 IS NULL THEN 'R'
        |      WHEN p1 <> p2 THEN 'C' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
        |SELECT k, change, p1 AS old_price, p2 AS new_price
        |FROM j WHERE change IS NOT NULL ORDER BY k""".stripMargin,
    "ts_calendar" ->
      """WITH span AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0,
        |    max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
        | spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        | pd AS (SELECT CAST(o_orderdate AS DATE) AS od,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(isodow(day) AS BIGINT) AS isodow,
        |  CAST(month(day) AS BIGINT) AS mon,
        |  CAST(quarter(day) AS BIGINT) AS qtr,
        |  CAST(year(day) AS BIGINT) AS yr,
        |  (day = last_day(day)) AS is_month_end,
        |  CAST(date_trunc('week', day) AS DATE) AS wk_start,
        |  coalesce(c, 0) AS n_orders
        |FROM spine LEFT JOIN pd ON day = od
        |ORDER BY day""".stripMargin,
    "ts_trend" ->
      """WITH base AS (SELECT event_id, event_type,
        |    CAST(value AS DECIMAL(18,2)) AS y, CAST(ts AS TIMESTAMP) AS t
        |  FROM events),
        | xs AS (SELECT event_id, event_type, y,
        |    CAST(row_number() OVER win AS BIGINT) AS x
        |  FROM base WINDOW win AS (PARTITION BY event_type ORDER BY t, event_id)),
        | w AS (SELECT event_id, event_type,
        |    CAST(count(*) OVER fr AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(18,2))) OVER fr AS sx,
        |    sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) OVER fr AS sxx,
        |    sum(y) OVER fr AS sy,
        |    sum(CAST(x AS DECIMAL(18,2)) * y) OVER fr AS sxy
        |  FROM xs WINDOW fr AS (PARTITION BY event_type ORDER BY x
        |    ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, n,
        |  CASE WHEN n >= 10 THEN
        |    CAST((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |      AS DECIMAL(18,6)) END AS slope
        |FROM w ORDER BY event_id""".stripMargin,
    "dml_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        | log AS (
        |  SELECT o_orderkey, 'I' AS op, 1 AS seq, o_orderstatus, price FROM base
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, o_orderstatus, price FROM base
        |    WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 2, o_orderstatus,
        |      CAST(price * 2 AS DECIMAL(18,2)) FROM base
        |    WHERE o_orderkey % 4 = 1),
        | rk AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY seq DESC) AS rn FROM log)
        |SELECT o_orderkey, op AS last_op, o_orderstatus, price
        |FROM rk WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "sort_zorder" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS xc,
        |    CAST(datediff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS yd
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        | bits AS (SELECT unnest(generate_series(0, 15)) AS i),
        | z AS (SELECT o_orderkey, xc, yd,
        |    sum((((xc >> i) % 2) << (i*2)) + (((yd >> i) % 2) << (i*2+1))) AS zval
        |  FROM o, bits GROUP BY o_orderkey, xc, yd)
        |SELECT CAST(zval // 16384 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(xc) AS cust_min, max(xc) AS cust_max,
        |  min(yd) AS day_min, max(yd) AS day_max
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  )
}
