package graft

import org.apache.spark.sql.functions._

/** Streaming semantics tests (SURVEY §5): watermark late-drop, dedup,
  * stateful fold — asserted against batch ground truth.
  */
class StreamingSpec extends GraftSpec {

  private lazy val events = Tables.load(spark, sf, "events")

  test("stream_tumbling matches the batch hourly rollup") {
    val streamed = q("stream_tumbling")
      .select(col("w_start"), col("event_type"), col("n"))
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("stream_late_drop: replayed late rows are dropped, not double-counted") {
    val out = q("stream_late_drop").collect().map(r => r.getLong(1))
    val batchPerDay = events.groupBy(date_trunc("day", col("ts")))
      .count().orderBy(col("count")).collect().map(_.getLong(1))
    // 30 days of data, watermark keeps the last day open → 29 emitted
    assert(out.length === batchPerDay.length - 1)
    // every emitted window count equals the single-copy batch count
    val batchMap = events.groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("d"))
      .count().collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val emitted = q("stream_late_drop").collect()
      .map(r => r.get(0) -> r.getLong(1))
    emitted.foreach { case (d, n) =>
      assert(batchMap(d) === n, s"window $d double-counted late rows")
    }
  }

  test("stream_dedup removes the duplicated replay exactly") {
    assert(q("stream_dedup").count() === events.count())
  }

  test("stream_stateful conserves event counts across user states") {
    val df = q("stream_stateful")
    assert(df.agg(sum(col("n_events"))).head().getLong(0) === events.count())
    val purchases = events.filter(col("event_type") === "purchase").count()
    assert(df.agg(sum(col("n_purchases"))).head().getLong(0) === purchases)
  }

  test("transformWithState variant matches flatMapGroupsWithState exactly") {
    val a = q("stream_stateful").collect().toSeq
    val b = q("stream_stateful_tws").collect().toSeq
    assert(a === b)
  }

  test("stream_join agrees with the batch stream-static join") {
    val cust = Tables.load(spark, sf, "customer")
    val batch = events.join(cust, events("user_id") === cust("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val streamed = q("stream_join")
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("restart from checkpoint is exactly-once (no loss, no double-count)") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("event_type"))
    val root = scratch("graft_restart")
    val src = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    ev.filter(col("event_id") <= 500).write.mode("overwrite").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val firstCount = spark.read.parquet(out).count()
    assert(firstCount === ev.filter(col("event_id") <= 500).count())
    // new data arrives while the query is DOWN; restart with the SAME
    // checkpoint must process exactly the delta
    ev.filter(col("event_id") > 500).write.mode("append").parquet(src)
    drain()
    val finals = spark.read.parquet(out)
    assert(finals.count() === ev.count(), "loss or double-count after restart")
    assert(finals.select("event_id").distinct().count() === ev.count())
  }

  test("stream_commit_sink: a replayed batch loses the commit race — exactly-once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.CommitLog
    val root = scratch("graft_sink_rp")
    // the foreachBatch body the sink runs, extracted: write the
    // batch's deterministic unit, then race version = batchId
    def applyBatch(batch: org.apache.spark.sql.DataFrame, id: Long): Boolean = {
      val rel = f"data/b$id%05d"
      batch.write.mode("overwrite")
        .parquet(java.nio.file.Paths.get(root, rel).toString)
      val prev: Seq[String] =
        if (CommitLog.versions(root).isEmpty) Seq.empty
        else CommitLog.unitNames(root, CommitLog.latestVersion(root))
      CommitLog.tryCommit(root, id, prev :+ rel)
    }
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val b1 = Seq((3L, "c")).toDF("k", "s")
    assert(applyBatch(b0, 0L))
    assert(applyBatch(b1, 1L))
    val before = CommitLog.snapshot(spark, root, 1L).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the crash-replay: batch 1 re-delivered (checkpoint hadn't
    // advanced) — the unit rewrites with the same content and the
    // commit MUST lose to itself
    assert(!applyBatch(b1, 1L), "a replayed batch must lose the race")
    assert(CommitLog.versions(root) == Seq(0L, 1L), "no phantom version")
    val after = CommitLog.snapshot(spark, root, 1L).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == before && after == Seq(1L -> "a", 2L -> "b", 3L -> "c"),
      "the table must not double-count a replayed batch")
  }

  test("stream_cdc_apply: the stream-fed replica equals the final clean snapshot") {
    // the query internally runs drain / upsertMoR+applyDeletes / drain
    // from one checkpoint; equality of the replica and snapshot sides
    // is the exactly-once proof (a re-delivered manifest double-
    // applies, a missed one under-applies, a retraction emitted at
    // both declare and apply double-deletes)
    val r = q("stream_cdc_apply").head()
    assert(r.getLong(0) > 0, "replica empty")
    assert(r.getLong(0) == r.getLong(2),
      s"replica rows ${r.getLong(0)} != snapshot rows ${r.getLong(2)}")
    assert(r.getDecimal(1) == r.getDecimal(3),
      s"replica total ${r.getDecimal(1)} != snapshot total ${r.getDecimal(3)}")
  }

  test("a failed drain rethrows and leaves the caller's shuffle-partition count") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val src = Derived.scratch("graft_failed_drain")
    spark.range(3).toDF("id").write.mode("overwrite").parquet(src)
    val w = spark.readStream.schema("id LONG").parquet(src).writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new IllegalStateException("batch failed on purpose")
      }
    val e = intercept[Exception](streaming.StreamQueries.drain(spark, w))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "batch failed on purpose"),
      s"the batch's own failure is not in the cause chain of $e")
    assert(spark.conf.get(key) == before)
  }

  test("a drain's batches run at 8 shuffle partitions, the caller's session at its own") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before != "8", "the check needs a caller value other than the stream's")
    val src = Derived.scratch("graft_drain_conf")
    spark.range(3).toDF("id").write.mode("overwrite").parquet(src)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val w = spark.readStream.schema("id LONG").parquet(src).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.add((spark.conf.get(key), batch.sparkSession.conf.get(key)))
        ()
      }
    streaming.StreamQueries.drain(spark, w)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq((before, "8")))
    assert(spark.conf.get(key) == before)
  }

  test("memory-sink drains leave no graft_sink_* view in the caller's session") {
    // the returned frames still read the sink's rows after the drop
    assert(q("stream_tumbling").count() > 0L)
    assert(q("stream_resume").count() > 0L)
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_sink_"))
    assert(left.isEmpty, s"sink views left behind: ${left.mkString(", ")}")
  }

  test("the replayed events source and the agg-view fixture are derived-store entries") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def listing(dir: String): Seq[(String, Long)] = {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toVector.sorted
      finally st.close()
    }
    q("stream_tumbling").count()
    val dir = Derived.path("stream", sf)
    val before = listing(dir)
    q("stream_sliding").count()
    assert(Derived.path("stream", sf) == dir, "the second entry rebuilt the events source")
    assert(listing(dir) == before, "the second entry rewrote the events source")
    val (root, stateDir, _) = streaming.StreamQueries.streamAggViewFixture(spark, sf)
    val sgv = Paths.get(Derived.path("sgv", sf))
    assert(Paths.get(root).startsWith(sgv), s"$root is not under $sgv")
    assert(Paths.get(stateDir).startsWith(sgv), s"$stateDir is not under $sgv")
  }
}
