package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.DecimalType
import graft.Tables.{dec, load}
import graft.sources.Parquet

/** Family I — Structured Streaming over the events table
  * (SURVEY.md §2.I).
  *
  * Oracles (round-3 promotion): the harness below replays the events
  * table as ONE parquet file through Trigger.AvailableNow — a single
  * micro-batch — so no row is ever late relative to the starting
  * watermark and every drain's final table equals a deterministic
  * batch computation over `events`. That batch twin IS SQL, so most of
  * the family carries a DuckDB oracle after all (see [[oracle]]); the
  * exemption now covers nothing in this file. stream_late_drop's twin
  * encodes the watermark semantics themselves: only windows whose end
  * precedes `max(ts) - 1h` (the final watermark) are emitted, and
  * their counts must NOT include the deliberately re-played late rows.
  *
  * Harness: the events table is written once per source fingerprint
  * into the [[graft.Derived]] store and replayed through a parquet file
  * source ([[eventStream]]). Every stream runs through [[drain]], which
  * owns the checkpoint (a fresh scratch dir unless the entry resumes its
  * own across drains), the streaming session setting and the run to
  * completion with Trigger.AvailableNow; [[drainToMemory]] reads a
  * memory sink back and drops its temp view, so no entry leaves state in
  * the caller's session. Each entry returns the final table sorted —
  * deterministic, so Verify/Bench can treat these like any batch entry
  * (SURVEY §3.3).
  *
  * Event time is cast to LTZ (session is pinned UTC) for
  * watermark/window arithmetic and back to NTZ on output so dumps
  * match the engine-wide naive-timestamp convention.
  *
  * Scale notes: state is keyed by (window|user) — partitions by key,
  * no global state; watermarks bound state size; AvailableNow is the
  * batch-backfill trigger a 100 TB replay would use.
  */
object StreamQueries {

  type Q = (SparkSession, String) => DataFrame

  private val sinkId = new AtomicInteger(0)

  // Checkpoint/replay scratch on tmpfs when available, deleted at JVM
  // exit. Production deployments pass a durable checkpointLocation.
  private def tmp(prefix: String): String = graft.Derived.scratch(prefix, tmpfs = true)

  /** Run the stream `w` from checkpoint `ckpt` to completion: one
    * AvailableNow drain, or — given `rounds` — a default-trigger query
    * that `rounds` drives and that is stopped afterwards.
    *
    * Stateful-operator cost at this scale is dominated by per-partition
    * state-store open/commit (one store per shuffle partition per
    * stateful op), so the stream runs with a reduced shuffle-partition
    * count. The query copies the session conf in `start()`, so the
    * caller's session holds that count only while the query starts and
    * gets its own value back before the stream runs (also when `start()`
    * fails): foreachBatch bodies that use the outer session run at the
    * caller's count, and `batch.sparkSession` at the stream's. Outputs
    * are partition-count-invariant (pinned by the determinism probe); a
    * real deployment sizes this to state volume.
    */
  private[graft] def drain(s: SparkSession, w: DataStreamWriter[Row],
      ckpt: String = tmp("graft_ckpt"),
      rounds: Option[StreamingQuery => Unit] = None): Unit = {
    val ready = w.option("checkpointLocation", ckpt)
    val partitions = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(partitions)
    s.conf.set(partitions, "8")
    val q = try (if (rounds.isEmpty) ready.trigger(Trigger.AvailableNow()) else ready).start()
      finally s.conf.set(partitions, prev)
    rounds match {
      case None => q.awaitTermination()
      case Some(run) => try run(q) finally q.stop()
    }
  }

  /** [[drain]] `sdf` into a memory sink in output `mode` and return the
    * sink's final table. The sink's temp view is dropped before
    * returning; the returned frame keeps its own reference to the rows.
    */
  private def drainToMemory(s: SparkSession, sdf: DataFrame, mode: String,
      ckpt: String = tmp("graft_ckpt"),
      rounds: Option[StreamingQuery => Unit] = None): DataFrame = {
    val name = s"graft_sink_${sinkId.incrementAndGet()}"
    drain(s, sdf.writeStream.outputMode(mode).format("memory").queryName(name),
      ckpt, rounds)
    val out = s.table(name)
    s.catalog.dropTempView(name)
    out
  }

  /** The events table, timestamps cast to LTZ, replayed as a file-source
    * stream over one parquet file in the [[graft.Derived]] store.
    */
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Derived.dir("stream", d, "events") { out =>
      load(s, d, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
    s.readStream.schema(Parquet.read(s, dir).schema).parquet(dir)
  }

  /** The stream_agg_view lifecycle (round 15 — VERDICT r14 #5): a
    * commit-log table walked by a streaming foreachBatch consumer that
    * maintains the (g, n, nn, total) agg-view state per version — the
    * dml_cdc_agg_view fold driven by the stream. The table
    * (`graft_sgv_tab`) and state (`graft_sgv_state`) are one
    * [[graft.Derived]] entry, built once per orders fingerprint. Every
    * call registers the latest state with [[graft.plans.MvCatalog]], so
    * the plain fact aggregate rewrites to it; the registration stays
    * outside the store because catalog entries are mutable (specs drop
    * them). Returns (table root, state dir, latest version).
    * private[graft] so Round15OpsSpec can pin per-version equality with
    * the batch fold.
    */
  private[graft] def streamAggViewFixture(s: SparkSession, d: String)
      : (String, String, Long) = {
    import graft.sources.CommitLog
    val dir = graft.Derived.dir("sgv", d, "orders")(buildAggViewFixture(s, d, _))
    val (root, stateDir) = (s"$dir/graft_sgv_tab", s"$dir/graft_sgv_state")
    val vLast = CommitLog.versions(root).last
    val lastState = s"$stateDir/v${CommitLog.replayStates(stateDir).last}"
    graft.plans.MvCatalog.register("orders_stream_by_g",
      graft.plans.MvCatalog.MvDef(
        CommitLog.units(root, vLast).map(u => java.nio.file.Paths.get(u)
          .toAbsolutePath.normalize.toString).toSet,
        "k % 10", "p", lastState))
    graft.plans.MvRewrite.install(s)
    (root, stateDir, vLast)
  }

  /** Build the stream_agg_view table and state into `dir`: two
    * AvailableNow drains of one checkpoint around an offline MoR
    * upsert. The checkpoint only matters between the two drains, so it
    * stays on tmpfs scratch and is deleted once the build is done.
    */
  private def buildAggViewFixture(s: SparkSession, d: String, dir: String): Unit = {
    import graft.sources.CommitLog
    val base = load(s, d, "orders")
      .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
    val root = s"$dir/graft_sgv_tab"
    val stateDir = s"$dir/graft_sgv_state"
    val ckpt = tmp("graft_sgv_ckpt")
    val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 2))
    def foldInto(v: Long): Unit = {
      val out = java.nio.file.Paths.get(stateDir, s"v$v")
      if (java.nio.file.Files.exists(out)) return // replay: published
      val ch = CommitLog.changes(s, root, v)
        .withColumn("sgn",
          when(col("_change_type") === "insert", lit(1L))
            .otherwise(lit(-1L)))
      if (ch.isEmpty) return // maintenance version: empty feed, no-op
      val delta = ch.groupBy((col("k") % 10).as("g"))
        .agg(sum(col("sgn")).as("dn"),
          sum(when(col("p").isNotNull, col("sgn")).otherwise(lit(0L)))
            .as("dnn"),
          sum((col("p") * col("sgn")).cast(DecimalType(38, 2)))
            .cast(DecimalType(38, 2)).as("dp"))
      val next = CommitLog.replayStates(stateDir).filter(_ < v)
        .lastOption match {
        case None =>
          delta.select(col("g"), col("dn").as("n"), col("dnn").as("nn"),
            coalesce(col("dp"), zero).cast(DecimalType(38, 2)).as("total"))
        case Some(pv) =>
          Parquet.read(s, s"$stateDir/v$pv")
            .join(delta, Seq("g"), "full_outer")
            .select(col("g"),
              (coalesce(col("n"), lit(0L)) +
                coalesce(col("dn"), lit(0L))).as("n"),
              (coalesce(col("nn"), lit(0L)) +
                coalesce(col("dnn"), lit(0L))).as("nn"),
              (coalesce(col("total"), zero) + coalesce(col("dp"), zero))
                .cast(DecimalType(38, 2)).as("total"))
      }
      // exactly-once per version: exists-skip above + atomic-move
      // publish below (the replayInto pattern) — a replayed batch or
      // checkpoint re-delivery can never half-apply or double-apply
      val tmpOut = java.nio.file.Paths.get(stateDir, s"_tmp_v$v")
      next.write.mode("overwrite").parquet(tmpOut.toString)
      java.nio.file.Files.move(tmpOut, out,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def consume(): Unit = drain(s, s.readStream.text(s"$root/_log/v?????.txt")
      .select(col("_metadata.file_path").as("path"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("path").distinct().collect() // metadata-sized: one row per arrived manifest
          .map(_.getString(0).split('/').last
            .stripPrefix("v").stripSuffix(".txt").toLong)
          .sorted.foreach(foldInto)
      }, ckpt)
    try {
      base.filter(col("k") % 3 === 0).coalesce(1).write.parquet(s"$root/u0")
      CommitLog.commit(root, 0L, Seq("u0"))
      consume()
      // offline growth between drains: reprice k%15 ×2 and insert the
      // k%3==1 slice (MoR pre/post pair feed), then the maintenance pass
      CommitLog.upsertMoR(s, root,
        base.filter(col("k") % 15 === 0)
          .select(col("k"), (col("p") * 2).cast(DecimalType(18, 2)).as("p"))
          .unionAll(base.filter(col("k") % 3 === 1)), "k")
      CommitLog.applyDeletes(s, root, "k")
      consume()
    } finally graft.Derived.deleteRecursively(ckpt)
  }

  val queries: Map[String, Q] = Map(
    // I1: event-time tumbling window counts per type.
    "stream_tumbling" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val agg = sdf.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast(DecimalType(38, 2)).as("total"))
      drainToMemory(s, agg, "complete")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("w_start", "event_type")
    }),

    // I2: 1-hour window sliding every 15 minutes.
    "stream_sliding" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val agg = sdf.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      drainToMemory(s, agg, "complete")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"))
        .orderBy("w_start", "event_type")
    }),

    // I3: session windows per user, 30-minute gap.
    "stream_session" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val agg = sdf.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      drainToMemory(s, agg, "complete")
        .select(col("session_window.start").cast("timestamp_ntz").as("s_start"),
          col("user_id"), col("n"))
        .orderBy("s_start", "user_id")
    }),

    // I1b (round 4): UPDATE output mode — emits every key changed in
    // the batch regardless of watermark (vs append's closed-windows-
    // only). The memory sink appends each batch's changed keys, so a
    // key touched in k batches appears k times with monotonically
    // increasing counts; max(n) per key is therefore the final value
    // whatever the batch count (ADVICE r4: don't rely on the
    // single-file source coalescing the drain to one micro-batch).
    "stream_update" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val agg = sdf.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      drainToMemory(s, agg, "update")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"))
        .groupBy("w_start", "event_type").agg(max(col("n")).as("n"))
        .orderBy("w_start", "event_type")
    }),

    // I1c (round 4): CHAINED stateful aggregations (Spark 3.4+ multi-
    // stateful-operator support): 5-minute counts re-windowed into
    // hourly peaks, both event-time aggs in ONE streaming query with
    // propagated watermarks. Append emits hourly windows closed by the
    // final watermark (end <= max ts - 1h; boundary probed in I4's
    // comment), each computed over all of its 5-minute children.
    "stream_chained_agg" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val m5 = sdf.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
      val hourly = m5
        .groupBy(window(col("window"), "1 hour"))
        .agg(max(col("n")).as("peak_5min"), count(lit(1)).as("n_buckets"))
      drainToMemory(s, hourly, "append")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("peak_5min"), col("n_buckets"))
        .orderBy("w_start")
    }),

    // I4: watermark semantics — a second batch replays day-1/2 rows
    // after the watermark has advanced past them; append-mode output
    // proves they were dropped (window counts not double-counted).
    "stream_late_drop" -> ((s, d) => {
      val ev = load(s, d, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      val dir = tmp("graft_late")
      ev.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
      val sdf = s.readStream.schema(ev.schema).parquet(s"$dir/in")
      val agg = sdf.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"))
      drainToMemory(s, agg, "append", rounds = Some { q =>
        q.processAllAvailable() // batch 1 + no-data batch: watermark = max ts - 1h
        // Late replay: first-two-days rows again. Their windows are
        // closed and already emitted — the rows must be dropped.
        val cutoff = ev.agg(min(col("ts"))).head().getTimestamp(0).toInstant
          .plusSeconds(2 * 86400)
        ev.filter(col("ts") < lit(java.sql.Timestamp.from(cutoff)))
          .coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      })
        .select(col("window.start").cast("timestamp_ntz").as("w_start"), col("n"))
        .orderBy("w_start")
    }),

    // I5: streaming dedup on event_id within the watermark — input is
    // the events table unioned with itself; output is each event once.
    "stream_dedup" -> ((s, d) => {
      val ev = load(s, d, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("event_type"))
      val dir = tmp("graft_dedup")
      ev.union(ev).coalesce(1).write.mode("overwrite").parquet(dir)
      val sdf = s.readStream.schema(ev.schema).parquet(dir)
      val deduped = sdf.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      drainToMemory(s, deduped, "append")
        .select(col("event_id"), col("event_type"))
        .orderBy("event_id")
    }),

    // I6: custom keyed state — per-user counters incl. purchases since
    // the last error. Events are sorted inside each group by
    // (ts, event_id) before folding; at 100 TB this becomes
    // transformWithState with a range-sorted initial shuffle.
    "stream_stateful" -> ((s, d) => {
      val sdf = eventStream(s, d)
      import s.implicits._
      implicit val tsOrd: Ordering[java.sql.Timestamp] = Ordering.by(_.getTime)
      val ds: Dataset[StreamEv] = sdf.as[StreamEv]
      val out = ds.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[StreamEv], state: GroupState[UserAgg]) =>
            var st = state.getOption.getOrElse(UserAgg(uid, 0L, 0L, 0L, 0L))
            it.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
              st = e.event_type match {
                case "purchase" => st.copy(n_events = st.n_events + 1,
                  n_purchases = st.n_purchases + 1,
                  purchases_since_error = st.purchases_since_error + 1)
                case "error" => st.copy(n_events = st.n_events + 1,
                  n_errors = st.n_errors + 1, purchases_since_error = 0L)
                case _ => st.copy(n_events = st.n_events + 1)
              }
            }
            state.update(st)
            Iterator.single(st)
        }
      drainToMemory(s, out.toDF(), "append").orderBy("user_id")
    }),

    // I6b: the same per-user fold through Spark 4's transformWithState
    // (typed ValueState on the RocksDB state store) — the API that
    // replaces flatMapGroupsWithState for new pipelines: TTL-capable
    // state, timers, and composable state variables.
    "stream_stateful_tws" -> ((s, d) => {
      val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val sdf = eventStream(s, d)
        import s.implicits._
        val out = sdf.as[StreamEv]
          .groupByKey(_.user_id)
          .transformWithState(new PurchaseStateProcessor(),
            TimeMode.None(), OutputMode.Append())
        drainToMemory(s, out.toDF(), "append").orderBy("user_id")
      } finally {
        prevProvider match {
          case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }),

    // Stream-STREAM inner join: each purchase joined to same-user
    // errors in the preceding 30 minutes. Both sides carry watermarks
    // and the join condition carries the event-time range, so state on
    // each side is bounded — the only formulation that survives an
    // unbounded 100 TB replay. Deterministic output set (AvailableNow
    // drains both sides fully).
    "stream_stream_join" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val purchases = sdf.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "1 hour")
      val errors = sdf.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
          col("event_id").as("e_id"))
        .withWatermark("e_ts", "1 hour")
      val joined = purchases.join(errors,
        col("p_user") === col("e_user")
          && col("e_ts") <= col("p_ts")
          && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      drainToMemory(s, joined, "append")
        .select(col("p_user").as("user_id"), col("p_id"), col("e_id"))
        .orderBy("user_id", "p_id", "e_id")
    }),

    // foreachBatch sink — the production pattern for sinks Structured
    // Streaming has no native writer for (upserts, JDBC, multi-table):
    // each micro-batch lands as an idempotent-by-batch-id parquet
    // append. Batch BOUNDARIES vary with scheduling but the final row
    // SET is deterministic; output sorted for the dump.
    // I8b (round 4): the NATIVE exactly-once file sink (parquet +
    // _spark_metadata transaction log) — the production lake-landing
    // path, distinct from foreachBatch's manual writes. AvailableNow
    // drains the filtered stream into the sink; the query result is
    // the transactional read-back.
    "stream_sink_files" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val outDir = tmp("graft_fsink")
      drain(s, sdf.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts", "value")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir))
      // ts is written through the sink but not projected into the
      // compare: a timestamp column here would need CAST(ts AS
      // TIMESTAMP) in the twin, which resolves NTZ→LTZ under the
      // spark.sql dialect (the subq_recursive dialect split)
      Parquet.read(s, outDir)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")
    }),

    // I9b (round 5): streaming Count-Min — each micro-batch builds a
    // PARTIAL d×w sketch (foreachBatch), partials append as rows, and
    // the final sketch is their cell-wise SUM: the mergeability that
    // makes CM the streaming heavy-hitter structure, exercised through
    // the real streaming machinery. The probe result is byte-equal to
    // the batch-built sketch (agg_count_min's oracle over full events)
    // because cell-wise addition commutes with batching.
    "stream_count_min" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val outDir = tmp("graft_cms")
      drain(s, sdf.select(col("user_id").cast("string").as("k"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val v = s"cms_batch_$batchId"
          batch.createOrReplaceTempView(v)
          batch.sparkSession.sql(graft.queries.RuntimeQueries.cmCellsSql(v))
            .write.mode("append").parquet(outDir)
        })
      Parquet.read(s, outDir).groupBy("r", "c")
        .agg(sum(col("n")).cast("bigint").as("n"))
        .createOrReplaceTempView("cms_cells")
      load(s, d, "events").select(col("user_id").cast("string").as("k"))
        .createOrReplaceTempView("cms_keyed")
      s.sql(graft.queries.RuntimeQueries.cmProbeSql("cms_cells", "cms_keyed"))
    }),

    "stream_foreachbatch" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val outDir = tmp("graft_feb")
      drain(s, sdf.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("append").parquet(outDir)
        })
      Parquet.read(s, outDir).orderBy("event_id")
    }),

    // I8 (round 5): checkpoint resume — the exactly-once story across
    // process restarts. The source dir starts with half the events;
    // one AvailableNow drain runs, MORE files land, and a second drain
    // restarts from the SAME checkpoint. The file-source log marks
    // batch-1's files processed, so the restart reads only the new
    // arrivals, while the persisted agg state carries the old counts
    // forward — the final table must equal one batch group-by over
    // everything. (A 100 TB backfill is exactly this loop: repeated
    // AvailableNow drains of a growing directory, one checkpoint.)
    "stream_resume" -> ((s, d) => {
      val ev = load(s, d, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      val srcDir = tmp("graft_resume_src")
      val ckpt = tmp("graft_resume_ckpt")
      def consume(): DataFrame = drainToMemory(s,
        s.readStream.schema(ev.schema).parquet(srcDir).groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("value"))).cast(DecimalType(38, 2)).as("total")),
        "complete", ckpt)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume()
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume().orderBy("event_type")
    }),

    // I9 (round 10): the COMMIT LOG as a streaming source — the
    // Delta/Iceberg table-as-stream contract driven through a real
    // file-source stream with checkpoint resume. The table starts at
    // v0 (the k%3==0 slice), one AvailableNow drain runs, the table
    // GROWS A VERSION (v1 appends the rest as new unit files —
    // append-only, so directory growth IS the version delta:
    // CommitLog.addedUnits(v1) and the file-source's batch-1 input
    // are the same set, pinned by Round10OpsSpec), and a second drain
    // restarts from the SAME checkpoint. Exactly-once is what the
    // oracle proves arithmetically: the drain-1 aggregate carries
    // drain-0's state forward, so a re-read of v0's files would
    // double-count and a missed v1 file would under-count — correct
    // totals mean each unit was consumed exactly once. At 100 TB this
    // loop (drain, commit, drain) is the streaming-backfill pattern:
    // per-drain cost is O(added units), never O(table).
    "stream_commit_log" -> ((s, d) => {
      import graft.sources.CommitLog
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          dec(col("o_totalprice")).as("p"))
      val root = tmp("graft_slog")
      val dataDir = s"$root/data"
      def unitFiles(): Seq[String] = {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dataDir))
        try st.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => java.nio.file.Paths.get(root).relativize(p).toString)
          .toVector.sorted
        finally st.close()
      }
      val ckpt = tmp("graft_slog_ckpt")
      val schema = base.schema
      def consume(tag: Long): DataFrame = drainToMemory(s,
        s.readStream.schema(schema).parquet(dataDir).groupBy("status")
          .agg(count(lit(1)).as("n"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total")),
        "complete", ckpt)
        .select(lit(tag).as("drain"), col("status"), col("n"), col("total"))
      base.filter(col("k") % 3 === 0).coalesce(1)
        .write.mode("append").parquet(dataDir)
      CommitLog.commit(root, 0L, unitFiles())
      val d0 = consume(0L)
      // the version boundary lands BETWEEN the drains — the log grows
      // while the consumer is offline, exactly the backfill loop
      base.filter(col("k") % 3 =!= 0).coalesce(1)
        .write.mode("append").parquet(dataDir)
      CommitLog.commit(root, 1L, unitFiles())
      val d1 = consume(1L)
      d0.unionAll(d1).orderBy("drain", "status")
    }),

    // I10 (round 11): the CDC feed as a STREAMING CONSUMER — the
    // incremental materialized-view loop that dml_cdc_replay proves in
    // batch, now driven by a real stream with checkpoint resume
    // (VERDICT r10 #8). The stream source is the COMMIT LOG itself: a
    // file stream over `_log/v?????.txt` delivers each published
    // manifest exactly once (sidecars don't match the glob), and a
    // foreachBatch maps every arriving version to CommitLog.changes()
    // and folds it into a persisted replica — state_v = state_{v-1}
    // minus delete rows plus insert rows, materialized per version so
    // the plan stays O(1) deep. The lifecycle crossed between the two
    // drains is the full MoR story: v0 insert slice → drain; offline,
    // v1 = upsertMoR (the feed is the delete(pre)+insert(post) pair at
    // the DECLARING version) and v2 = applyDeletes (pure maintenance,
    // EMPTY feed — the consumer already saw the deletes) → drain. The
    // replica must equal the final clean snapshot: a re-delivered
    // manifest would double-apply, a missed one under-apply, a
    // retraction emitted at BOTH declaration and apply would
    // double-delete — the oracle equality rules all three out. At
    // 100 TB per-drain cost is O(changed rows since last drain), never
    // O(table): the replica-maintenance shape for a downstream index,
    // feature store, or serving copy.
    // I10b (round 15 — VERDICT r14 #5): STREAMING MAINTENANCE OF THE
    // AGG VIEW STATE — the batch/stream symmetry close for the MV
    // layer. dml_cdc_agg_view folds the (g, n, nn, total) state per
    // version in batch; here the SAME signed-delta algebra runs as a
    // foreachBatch consumer of the commit log (file stream over the
    // manifests, exactly-once per version via the exists-skip +
    // atomic-move publish replayInto uses), across an offline-growth
    // lifecycle: v0 insert slice → drain; offline upsertMoR (reprice
    // ×2 on k%15, insert the k%3==1 slice — the feed is the
    // delete(pre)+insert(post) pair) and applyDeletes (EMPTY feed,
    // maintenance no-op) → drain. Then the continuously-maintained
    // state is REGISTERED with MvCatalog and the entry's output is a
    // plain fact aggregate a user would write — plans.MvRewrite serves
    // it from the stream-maintained state (Round15OpsSpec pins the
    // fact units absent and per-version equality with the batch fold).
    // At 100 TB: the dashboard's state is maintained by the streaming
    // job at O(changes)/version; every ad-hoc aggregate over the
    // current snapshot reads O(groups) — no scheduled refresh, no
    // stale-view window beyond the consumer's lag.
    "stream_agg_view" -> ((s, d) => {
      import graft.sources.CommitLog
      val (root, _, vLast) = streamAggViewFixture(s, d)
      // the user-shaped query: a plain aggregate over the snapshot —
      // served from the stream-maintained state by the rewrite
      CommitLog.snapshot(s, root, vLast)
        .groupBy((col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"))
        .select(col("g"), col("n"),
          col("sum_p").cast(DecimalType(38, 2)).as("total"))
        .orderBy("g")
    }),

    "stream_cdc_apply" -> ((s, d) => {
      import graft.sources.CommitLog
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
      val root = tmp("graft_scdc")
      val ckpt = tmp("graft_scdc_ckpt")
      val stateDir = tmp("graft_scdc_state")
      def consume(): Unit = drain(s, s.readStream.text(s"$root/_log/v?????.txt")
        .select(col("_metadata.file_path").as("path"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val vs = batch.select("path").distinct().collect() // metadata-sized: one row per arrived manifest
            .map(_.getString(0).split('/').last
              .stripPrefix("v").stripSuffix(".txt").toLong)
            .sorted
          // the shared replay-safe fold: a batch retry or checkpoint
          // re-delivery finds the already-published state and skips
          // (CommitLog.replayInto — atomic-move publish, never a
          // half-written state mistaken for a completed one)
          vs.foreach(v => CommitLog.replayInto(s, root, v, stateDir))
        }, ckpt)
      // v0: the k%3==0 slice — one insert unit
      base.filter(col("k") % 3 === 0).coalesce(1).write.parquet(s"$root/u0")
      CommitLog.commit(root, 0L, Seq("u0"))
      consume()
      // the table lives on while the consumer is offline: an upsert
      // (k%15==0 re-priced ×2, k%3==1 keys inserted) and the
      // maintenance pass that applies its tombstones
      CommitLog.upsertMoR(s, root,
        base.filter(col("k") % 15 === 0)
          .select(col("k"), (col("p") * 2).cast(DecimalType(18, 2)).as("p"))
          .unionAll(base.filter(col("k") % 3 === 1)), "k")
      CommitLog.applyDeletes(s, root, "k")
      consume()
      val rep = Parquet.read(s,
        s"$stateDir/v${CommitLog.replayStates(stateDir).last}")
        .agg(count(lit(1)).as("replica_rows"),
          sum(col("p")).cast(DecimalType(38, 2)).as("replica_total"))
      val vLast = CommitLog.versions(root).last
      val fin = CommitLog.snapshot(s, root, vLast)
        .agg(count(lit(1)).as("snapshot_rows"),
          sum(col("p")).cast(DecimalType(38, 2)).as("snapshot_total"))
      rep.crossJoin(fin)
    }),

    // I11 (round 11): streaming INTO the table format — the sink
    // direction of stream_commit_log's source story, with the
    // idempotent-commit rule that makes a foreachBatch sink
    // exactly-once (Delta's txnVersion pattern): version = batchId,
    // each batch writes its unit then races tryCommit — a REPLAYED
    // batch (crash between commit and checkpoint advance) rewrites
    // the same unit content and loses the commit race to itself, so
    // the table never double-counts. Two AvailableNow drains from one
    // checkpoint with files landing between: batch 0 → v0 (the even
    // slice), batch 1 → v1 (everything). The output reads the TABLE
    // back per version; the oracle pins both snapshots from events
    // arithmetic — a dropped batch under-counts v1, a double-applied
    // one over-counts, either breaks the equality. At 100 TB this is
    // the continuous-ingest shape: each micro-batch costs its own
    // data + one manifest write, never a table rewrite, and readers
    // get atomic versioned snapshots of the growing table.
    // I12 (round 12): STREAMING THE TXN CATALOG — the TxnLog twin of
    // stream_cdc_apply (VERDICT r11 #7): coordinated tables exist
    // (dml_txn_multi), and this is the consumer that FOLLOWS them
    // atomically. The stream source is the catalog itself: a file
    // stream over `_txn/t?????.txt` delivers each multi-table
    // transaction entry exactly once; the foreachBatch resolves BOTH
    // tables at the versions that entry records (TxnLog.snapshotAt —
    // never "latest", which could tear) and materializes one
    // consistency row per txn into a deterministic per-txn state dir,
    // so a replayed batch rewrites the same rows — idempotent. The
    // lifecycle crossed between the drains is dml_txn_multi's: txn 0
    // commits the pair; offline, a crashed writer leaves fact's v1 as
    // an ORPHAN (manifest published, no entry — it does not match the
    // _txn glob, so the consumer can never see it) and the retry
    // commits the full pair as txn 1. Output: per txn, the fact-side
    // recount NEXT TO the stored aggregate — the oracle pins them
    // equal at EVERY transaction, maintained streamingly. At 100 TB
    // each entry costs O(its tables' snapshots at the recorded
    // versions); the catalog feed itself is O(txns) tiny text files.
    "stream_txn_log" -> ((s, d) => {
      import graft.sources.{CommitLog, TxnLog}
      val base = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
      val root = tmp("graft_stxn")
      val fact = s"$root/fact"
      val agg = s"$root/agg"
      val ckpt = tmp("graft_stxn_ckpt")
      val outDir = tmp("graft_stxn_out")
      def aggUnit(pred: org.apache.spark.sql.Column, sub: String): Unit =
        base.filter(pred)
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("p")).cast(DecimalType(38, 2)).as("total"))
          .coalesce(1).write.parquet(s"$agg/$sub")
      def consume(): Unit = drain(s, s.readStream.text(s"$root/_txn/t?????.txt")
        .select(col("_metadata.file_path").as("path"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val paths = batch.select("path")
            .collect().map(_.getString(0)).distinct.sorted // metadata-sized: txn-entry file paths of one batch
          paths.foreach { p =>
            val txnId = java.nio.file.Paths
              .get(new java.net.URI(p).getPath).getFileName.toString
              .stripPrefix("t").stripSuffix(".txt").toLong
            val snaps = TxnLog.snapshotAt(s, root, txnId, Seq(fact, agg))
            val row = snaps(fact)
              .agg(count(lit(1)).as("fact_rows"),
                sum(col("p")).cast(DecimalType(38, 2)).as("fact_total"))
              .crossJoin(snaps(agg)
                .select(col("n").as("agg_rows"),
                  col("total").as("agg_total")))
              .select(lit(txnId).cast("bigint").as("txn"),
                col("fact_rows"), col("fact_total"),
                col("agg_rows"), col("agg_total"))
            row.coalesce(1).write.mode("overwrite")
              .parquet(f"$outDir/t$txnId%05d")
          }
          ()
        }, ckpt)
      // txn 0: the consistent pair
      base.filter(col("k") % 3 === 0).coalesce(1).write.parquet(s"$fact/s0")
      aggUnit(col("k") % 3 === 0, "a0")
      TxnLog.commitAtomic(root, Seq(fact -> Seq("s0"), agg -> Seq("a0")))
      consume()
      // offline: the crash — an orphaned fact manifest with no entry
      base.filter(col("k") % 3 === 1).coalesce(1).write.parquet(s"$fact/s1")
      CommitLog.tryCommit(fact, 1L, Seq("s0", "s1"))
      // the retry completes the pair before the consumer reconnects
      aggUnit(col("k") % 3 =!= 2, "a1")
      TxnLog.commitAtomic(root,
        Seq(fact -> Seq("s0", "s1"), agg -> Seq("a1")))
      consume()
      TxnLog.txns(root)
        .map(id => Parquet.read(s, f"$outDir/t$id%05d"))
        .reduce(_ unionAll _).orderBy("txn")
    }),

    // I13 (round 12): THE SEARCH INDEX MAINTAINED BY A STREAM — the
    // stream_commit_sink idempotent-ingest pattern composed with the
    // text_bm25_postings layout: each micro-batch of arriving docs
    // tokenizes into term-hash-bucketed postings units + a 1-row meta
    // unit (O(batch) work — the corpus is never re-tokenized), then
    // races tryCommit at version = batchId; a replayed batch rewrites
    // the same deterministic units and loses the race to itself, so
    // the index never double-counts a document. The cstats sidecar
    // (each bucket unit's bval range = its bucket id) publishes per
    // commit by carrying the previous version's entries verbatim +
    // footer-measuring only the new units — O(batch) metadata, and
    // every committed generation is probe-ready FROM BIRTH. Output:
    // the bm25FromIndex probe at BOTH streamed generations (v0 = the
    // standing corpus, v1 = + the arriving batch), sharing the
    // versioned from-scratch oracle — the streamed index must score
    // exactly like a batch rebuild at every generation, which is the
    // whole contract. At
    // 100 TB this is continuous search-index ingest: per micro-batch
    // cost = tokenize(batch) + one manifest/sidecar write; probes pay
    // only the query terms' buckets across all generations.
    "stream_postings_ingest" -> ((s, d) => {
      import graft.sources.CommitLog
      val docs = load(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val srcDir = tmp("graft_spost_src")
      val root = tmp("graft_spost_idx")
      val ckpt = tmp("graft_spost_ckpt")
      def consume(): Unit = drain(s, s.readStream.schema(docs.schema).parquet(srcDir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val sub = f"b$id%05d"
          batch.select(col("doc_id"),
              expr("CAST(size(split(text, ' ')) AS BIGINT)").as("dl"),
              explode(split(col("text"), " ")).as("term"))
            .groupBy("term", "doc_id", "dl")
            .agg(count(lit(1)).cast("bigint").as("tf"))
            .withColumn("bucket", expr("pmod(xxhash64(term), 8)"))
            .withColumn("bval", col("bucket"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"$root/data/$sub")
          batch.agg(count(lit(1)).cast("bigint").as("n_docs"),
              sum(expr("CAST(size(split(text, ' ')) AS BIGINT)"))
                .cast("bigint").as("sum_dl"))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/data/${sub}_meta")
          // the bucket units' cstats entries on bval are their bucket
          // ids; the meta unit has no bval and no entry
          val st = CommitLog.footerColStats(s, root,
            CommitLog.partitionUnits(root, s"data/$sub", "bucket"), Seq("bval"))
          val (prev, prevSt) = CommitLog.versions(root).lastOption
            .map(v => (CommitLog.unitNames(root, v), CommitLog.colStats(root, v)))
            .getOrElse((Seq.empty, Seq.empty))
          // idempotent: a replayed batch rewrote the same units and
          // loses the commit race here — stats publish only on win
          if (CommitLog.tryCommit(root, id,
              prev ++ st.map(_.unit) :+ s"data/${sub}_meta"))
            CommitLog.writeColStats(root, id, prevSt ++ st)
          ()
        }, ckpt)
      docs.filter(col("doc_id") % 10 =!= 0).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume()
      docs.filter(col("doc_id") % 10 === 0).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume()
      (0L to 1L).map { v =>
        graft.queries.RetrievalQueries.bm25FromIndex(s, root, v)
          .select(lit(v).cast("bigint").as("version"),
            col("doc_id"), col("n_hit"), col("bm25"))
      }.reduce(_ unionAll _).orderBy("version", "doc_id")
    }),

    "stream_commit_sink" -> ((s, d) => {
      import graft.sources.CommitLog
      val ev = load(s, d, "events")
        .select(col("event_id"), col("event_type"), dec(col("value")).as("value"))
      val srcDir = tmp("graft_ssink_src")
      val root = tmp("graft_ssink_tbl")
      val ckpt = tmp("graft_ssink_ckpt")
      def consume(): Unit = drain(s, s.readStream.schema(ev.schema).parquet(srcDir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val rel = f"data/b$id%05d"
          // overwrite = replay-safe: a re-delivered batch rewrites
          // the same deterministic unit before losing the race
          batch.write.mode("overwrite")
            .parquet(java.nio.file.Paths.get(root, rel).toString)
          val prev: Seq[String] =
            if (CommitLog.versions(root).isEmpty) Seq.empty
            else CommitLog.unitNames(root, CommitLog.latestVersion(root))
          CommitLog.tryCommit(root, id, prev :+ rel)
          ()
        }, ckpt)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume()
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume()
      CommitLog.versions(root).map { v =>
        CommitLog.snapshot(s, root, v)
          .agg(count(lit(1)).as("n"),
            sum(col("value")).cast(DecimalType(38, 2)).as("total"))
          .select(lit(v).cast("bigint").as("version"), col("n"), col("total"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // I12 (round 11): TRANSACTIONAL exactly-once streaming across TWO
    // tables — stream_commit_sink composed with the TxnLog
    // catalog-commit protocol. Each micro-batch appends its fact unit
    // AND publishes the updated 1-row running aggregate, committed
    // ATOMICALLY under txn id = batchId (TxnLog.commitAtomic's
    // idempotence handle): a replayed batch finds its entry and
    // commits nothing, a crash between manifests and entry leaves
    // invisible orphans and the replay completes the same logical
    // txn — coordinated readers can never see new facts against a
    // stale aggregate OR a double-applied batch. The previous state
    // resolves through the COORDINATOR (last txn entry), never
    // through raw latest-version reads that could observe orphans.
    // Output: per txn, the fact-side recount NEXT TO the stored
    // aggregate — the oracle pins them equal at both txns, from
    // events arithmetic. At 100 TB: per batch costs its own data +
    // O(tables) manifest writes + one entry; the aggregate updates at
    // O(batch), never a fact re-scan (running sums fold).
    "stream_txn_sink" -> ((s, d) => {
      import graft.sources.{CommitLog, TxnLog}
      val ev = load(s, d, "events")
        .select(col("event_id"), dec(col("value")).as("value"))
      val srcDir = tmp("graft_stx_src")
      val root = tmp("graft_stx_root")
      val fact = s"$root/fact"
      val agg = s"$root/agg"
      val ckpt = tmp("graft_stx_ckpt")
      def consume(): Unit = drain(s, s.readStream.schema(ev.schema).parquet(srcDir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // commitAtomic returning -1 means a per-table version race
          // was lost — the batch must RETRY on fresh coordinator
          // state, never be silently dropped while the checkpoint
          // advances (the unit writes are mode-overwrite, so a retry
          // rewrites them; the fixed txn id keeps the whole loop
          // idempotent under batch replay too)
          var attempts = 0
          while (!TxnLog.txns(root).contains(id)) {
            attempts += 1
            require(attempts <= 10,
              s"txn sink batch $id lost $attempts commit races — back off")
            val rel = f"data/b$id%05d"
            batch.write.mode("overwrite")
              .parquet(java.nio.file.Paths.get(fact, rel).toString)
            val batchAgg = batch
              .agg(count(lit(1)).cast("bigint").as("n"),
                sum(col("value")).cast(DecimalType(38, 2)).as("total"))
            val prev = TxnLog.txns(root).lastOption.map(last =>
              TxnLog.snapshotAt(s, root, last, Seq(fact, agg)))
            // the RUNNING aggregate folds the previous stored row +
            // this batch — O(batch), never a fact re-scan
            val nextAgg = prev match {
              case None => batchAgg
              case Some(snaps) => snaps(agg).unionAll(batchAgg)
                .agg(sum(col("n")).cast("bigint").as("n"),
                  sum(col("total")).cast(DecimalType(38, 2)).as("total"))
            }
            nextAgg.coalesce(1).write.mode("overwrite")
              .parquet(java.nio.file.Paths.get(agg, f"a$id%05d").toString)
            val prevFactUnits = prev.map(_ => CommitLog.unitNames(fact,
              TxnLog.entry(root, TxnLog.txns(root).last).toMap.apply(fact)))
              .getOrElse(Seq.empty)
            TxnLog.commitAtomic(root,
              Seq(fact -> (prevFactUnits :+ rel), agg -> Seq(f"a$id%05d")),
              id = Some(id))
          }
          ()
        }, ckpt)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume()
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(srcDir)
      consume()
      TxnLog.txns(root).map { id =>
        val snaps = TxnLog.snapshotAt(s, root, id, Seq(fact, agg))
        val f = snaps(fact)
          .agg(count(lit(1)).as("fact_rows"),
            sum(col("value")).cast(DecimalType(38, 2)).as("fact_total"))
        val a = snaps(agg)
          .select(col("n").as("agg_rows"), col("total").as("agg_total"))
        f.crossJoin(a)
          .select(lit(id).cast("bigint").as("txn"), col("fact_rows"),
            col("fact_total"), col("agg_rows"), col("agg_total"))
      }.reduce(_ unionAll _).orderBy("txn")
    }),

    // I7: stream-static join — events stream enriched with the
    // customer dimension (no watermark needed on the static side).
    "stream_join" -> ((s, d) => {
      val sdf = eventStream(s, d)
      val cust = load(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val agg = sdf.join(cust, sdf("user_id") === cust("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
      drainToMemory(s, agg, "complete").orderBy("c_mktsegment")
    }),
  )

  /** DuckDB batch twins for the deterministic drains (see class doc).
    * Event-time note: `CAST(ts AS TIMESTAMP)` forces DuckDB's ns→µs
    * truncation, matching Tables.load's integer-div rebuild.
    */
  val oracle: Map[String, String] = Map(
    // I13 twin: the SHARED bm25 CTE chain per streamed generation —
    // the streamed index must score exactly like a from-scratch
    // rebuild at every version it ever committed.
    "stream_postings_ingest" ->
      (graft.queries.RetrievalQueries.bm25VersionedSqlOver(
          0, " AND doc_id % 10 <> 0") +
        "\nUNION ALL\n" +
        graft.queries.RetrievalQueries.bm25VersionedSqlOver(1, "") +
        "\nORDER BY version, doc_id"),
    // I12 twin: the dml_txn_multi invariant, maintained streamingly —
    // per txn the fact recount equals the stored aggregate; the
    // orphaned fact version appears in NO row.
    "stream_txn_log" ->
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
    // I9: exactly-once across the version boundary — drain 0 sees the
    // k%3==0 slice, drain 1's carried state plus the added units must
    // equal one batch group-by over everything (double-count on
    // re-read, under-count on a missed unit — either breaks this).
    "stream_commit_log" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
        |SELECT CAST(0 AS BIGINT) AS drain, status, count(*) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |  FROM base WHERE k % 3 = 0 GROUP BY status
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), status, count(*),
        |    CAST(sum(p) AS DECIMAL(38,2)) FROM base GROUP BY status
        |ORDER BY drain, status""".stripMargin,
    // I10: the stream-fed replica equals the final snapshot, both
    // derivable from orders arithmetic (an update's total contribution
    // is p*2 = p + p, so the final total is base-slice + re-priced
    // delta + inserted slice).
    "stream_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | fin AS (SELECT k, CASE WHEN k % 15 = 0
        |      THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p
        |    FROM base WHERE k % 3 = 0
        |  UNION ALL SELECT k, p FROM base WHERE k % 3 = 1)
        |SELECT (SELECT count(*) FROM fin) AS replica_rows,
        |    CAST((SELECT sum(p) FROM fin) AS DECIMAL(38,2)) AS replica_total,
        |    (SELECT count(*) FROM fin) AS snapshot_rows,
        |    CAST((SELECT sum(p) FROM fin) AS DECIMAL(38,2)) AS snapshot_total""".stripMargin,
    // I10b: the rewritten aggregate over the final snapshot — same
    // lifecycle arithmetic as stream_cdc_apply, grouped by k % 10.
    "stream_agg_view" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        | fin AS (SELECT k, CASE WHEN k % 15 = 0
        |      THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END AS p
        |    FROM base WHERE k % 3 = 0
        |  UNION ALL SELECT k, p FROM base WHERE k % 3 = 1)
        |SELECT k % 10 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS DECIMAL(38,2)) AS total
        |FROM fin GROUP BY 1 ORDER BY g""".stripMargin,
    // I1: complete-mode tumbling agg over one batch = plain group-by.
    // Exact decimal sum → double, same as the Spark side's
    // dec→DECIMAL(38,2)→Canon(double) pipeline.
    "stream_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
        |   count(*) AS n,
        |   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // I2: each event lands in the 4 sliding windows whose 15-min-aligned
    // starts cover it (window/slide = 4) — epoch alignment matches
    // Spark's window() origin because both align to the hour.
    "stream_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |     k AS (SELECT unnest([0, 1, 2, 3]) AS k)
        | SELECT date_trunc('hour', ts)
        |     + (CAST(floor(extract(minute FROM ts) / 15) AS INTEGER) * INTERVAL '15 minutes')
        |     - (k * INTERVAL '15 minutes') AS w_start,
        |   event_type, count(*) AS n
        | FROM e, k GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // I3: session_window gaps-and-islands twin. Spark starts a NEW
    // session when the gap is >= the 30-min timeout (windows are
    // half-open [ts, ts+gap)) — note the >=, unlike GraftOps.sessionize
    // whose contract is "> gap" (sessionize_batch's oracle).
    "stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |     f AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |     g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM f)
        | SELECT min(ts) AS s_start, user_id, count(*) AS n
        | FROM g GROUP BY user_id, grp ORDER BY s_start, user_id""".stripMargin,
    // I1b: update mode over one batch = the plain group-by (6 h
    // tumbling; time_bucket is epoch-aligned for divisors of a day,
    // matching Spark's window()).
    "stream_update" ->
      """SELECT CAST(time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
        |   event_type, count(*) AS n
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // I1c: chained aggs — hourly rollup of 5-min counts, emitted for
    // hours closed by the final watermark (end <= max ts - 1h).
    "stream_chained_agg" ->
      """WITH wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour' AS wm FROM events),
        | m AS (SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w5,
        |          count(*) AS n FROM events GROUP BY 1),
        | h AS (SELECT time_bucket(INTERVAL '1 hour', w5) AS w_start,
        |          max(n) AS peak_5min, count(*) AS n_buckets FROM m GROUP BY 1)
        | SELECT CAST(w_start AS TIMESTAMP) AS w_start, peak_5min, n_buckets
        | FROM h, wm WHERE w_start + INTERVAL '1 hour' <= wm
        | ORDER BY w_start""".stripMargin,
    // I4: append-mode emits exactly the windows closed by the final
    // watermark (max ts - 1h); the late re-play must not inflate them.
    // Boundary verified empirically on Spark 4.1.2 (round-4 probe): a
    // window whose end EQUALS the watermark IS emitted (eviction
    // predicate is end <= watermark), so `<=` below is exact — a
    // strict `<` would drop one window whenever max(ts)-1h lands on a
    // day boundary.
    "stream_late_drop" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
        |   count(*) AS n
        | FROM events GROUP BY 1
        | HAVING w_start + INTERVAL '1 day' <=
        |   (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour' FROM events)
        | ORDER BY w_start""".stripMargin,
    // I5: dedup of the self-unioned input = each event exactly once.
    "stream_dedup" ->
      "SELECT event_id, event_type FROM events ORDER BY event_id",
    // I6/I6b: final per-user state = one pass over the user's events in
    // (ts, event_id) order; purchases_since_error counts purchases
    // strictly after the user's last error in that order.
    "stream_stateful" -> statefulTwin,
    "stream_stateful_tws" -> statefulTwin,
    // Stream-stream join: one batch ⇒ no state eviction can drop a
    // match, so the twin is the plain time-range self-join.
    "stream_stream_join" ->
      """SELECT p.user_id AS user_id, p.event_id AS p_id, e.event_id AS e_id
        | FROM events p JOIN events e ON p.user_id = e.user_id
        |  AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |  AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '30 minutes'
        | WHERE p.event_type = 'purchase' AND e.event_type = 'error'
        | ORDER BY user_id, p_id, e_id""".stripMargin,
    // foreachBatch parquet-append sink: final row set = the filter.
    "stream_foreachbatch" ->
      """SELECT event_id, user_id, value FROM events
        | WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // identical to agg_count_min's twin: merged streaming partials ==
    // the one-shot batch sketch.
    "stream_count_min" ->
      ("WITH cm_keyed AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),\n " +
        graft.queries.RuntimeQueries.cmSql("cm_keyed").stripPrefix("WITH ")),
    "stream_sink_files" ->
      """SELECT event_id, user_id, value
        | FROM events WHERE event_type = 'error' ORDER BY event_id""".stripMargin,
    // I8: two checkpointed drains over a growing dir == one batch agg.
    "stream_resume" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // I11: both committed versions recomputed from events arithmetic —
    // v0 is batch 0's even slice, v1 adds batch 1's odds.
    "stream_commit_sink" ->
      """WITH base AS (SELECT event_id,
        |    CAST(value AS DECIMAL(18,2)) AS value FROM events)
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n,
        |    CAST(sum(value) AS DECIMAL(38,2)) AS total
        |  FROM base WHERE event_id % 2 = 0
        |UNION ALL SELECT 1, count(*), CAST(sum(value) AS DECIMAL(38,2))
        |  FROM base
        |ORDER BY version""".stripMargin,
    // I12: both coordinated pairs recomputed from events arithmetic —
    // the stored aggregate must equal the fact recount at each txn.
    "stream_txn_sink" ->
      """WITH base AS (SELECT event_id,
        |    CAST(value AS DECIMAL(18,2)) AS value FROM events)
        |SELECT CAST(0 AS BIGINT) AS txn, count(*) AS fact_rows,
        |    CAST(sum(value) AS DECIMAL(38,2)) AS fact_total,
        |    count(*) AS agg_rows, CAST(sum(value) AS DECIMAL(38,2)) AS agg_total
        |  FROM base WHERE event_id % 2 = 0
        |UNION ALL SELECT 1, count(*), CAST(sum(value) AS DECIMAL(38,2)),
        |    count(*), CAST(sum(value) AS DECIMAL(38,2)) FROM base
        |ORDER BY txn""".stripMargin,
    // I7: stream-static enrichment join + global agg.
    "stream_join" ->
      """SELECT c_mktsegment, count(*) AS n
        | FROM events JOIN customer ON user_id = c_custkey
        | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
  )

  private lazy val statefulTwin: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      |            FROM events),
      |     err AS (SELECT user_id, ts, event_id,
      |               row_number() OVER (PARTITION BY user_id
      |                 ORDER BY ts DESC, event_id DESC) AS rn
      |             FROM ev WHERE event_type = 'error'),
      |     le AS (SELECT user_id, ts AS lts, event_id AS lid FROM err WHERE rn = 1)
      | SELECT e.user_id, count(*) AS n_events,
      |   count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
      |   count(*) FILTER (WHERE event_type = 'error') AS n_errors,
      |   count(*) FILTER (WHERE event_type = 'purchase'
      |     AND (lts IS NULL OR e.ts > lts OR (e.ts = lts AND e.event_id > lid)))
      |     AS purchases_since_error
      | FROM ev e LEFT JOIN le ON e.user_id = le.user_id
      | GROUP BY e.user_id ORDER BY e.user_id""".stripMargin
}

/** transformWithState processor for I6b: same fold as the
  * flatMapGroupsWithState variant, state held in a typed ValueState.
  */
class PurchaseStateProcessor extends StatefulProcessor[Long, StreamEv, UserAgg] {
  @transient private var state: ValueState[UserAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserAgg]("agg",
      org.apache.spark.sql.Encoders.product[UserAgg], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[StreamEv],
      timerValues: TimerValues): Iterator[UserAgg] = {
    var st = if (state.exists()) state.get() else UserAgg(key, 0L, 0L, 0L, 0L)
    implicit val tsOrd: Ordering[java.sql.Timestamp] = Ordering.by(_.getTime)
    rows.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      st = e.event_type match {
        case "purchase" => st.copy(n_events = st.n_events + 1,
          n_purchases = st.n_purchases + 1,
          purchases_since_error = st.purchases_since_error + 1)
        case "error" => st.copy(n_events = st.n_events + 1,
          n_errors = st.n_errors + 1, purchases_since_error = 0L)
        case _ => st.copy(n_events = st.n_events + 1)
      }
    }
    state.update(st)
    Iterator.single(st)
  }
}

/** Typed event row for the stateful query (I6). */
case class StreamEv(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Keyed running state for I6. */
case class UserAgg(user_id: Long, n_events: Long, n_purchases: Long,
    n_errors: Long, purchases_since_error: Long)
