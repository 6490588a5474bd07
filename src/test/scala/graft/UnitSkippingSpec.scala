package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Unit skipping inside a commit-log snapshot's scan
  * (`graft.sources.UnitSkippingIndex`): which filters prune, which
  * units are never pruned, and the code-point order of string stats.
  */
class UnitSkippingSpec extends GraftSpec with AdaptiveSparkPlanHelper {

  import graft.sources.{CommitLog, Parquet}

  /** v0 = `n` one-file units, unit u<i> holding k in [100·i, 100·i+99]
    * with s = "s<k>", cstats lifted from the footers on k.
    */
  private def rangeTable(dir: String, n: Int = 8): String = {
    import spark.implicits._
    (0 until n).foreach { u =>
      (u * 100L until u * 100L + 100L).map(k => (k, s"s$k")).toDF("k", "s")
        .coalesce(1).write.parquet(s"$dir/u$u")
    }
    val units = (0 until n).map(u => s"u$u")
    CommitLog.commit(dir, 0L, units)
    CommitLog.writeColStats(dir, 0L, CommitLog.footerColStats(spark, dir, units, Seq("k")))
    dir
  }

  /** The data files `df`'s scans read, from the executed scans' metrics. */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metrics("numFiles").value
    }.sum
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a plain between filter prunes to the units its range meets, rows unchanged") {
    val t = rangeTable(scratch("graft_skip_range"))
    val f = col("k").between(250L, 420L)
    val snap = CommitLog.snapshot(spark, t, 0L).filter(f)
    assert(CommitLog.scannedUnits(snap) == 3, "units u2, u3 and u4 meet [250, 420]")
    assert(filesRead(snap) == 3)
    val unpruned = Parquet.read(spark, CommitLog.units(t, 0L)).filter(f)
    assert(rows(snap) == rows(unpruned) && rows(snap).size == 171)
    // every compare and IN prune the same way
    val s0 = CommitLog.snapshot(spark, t, 0L)
    assert(CommitLog.scannedUnits(s0.filter(col("k") < 100L)) == 1)
    assert(CommitLog.scannedUnits(s0.filter(col("k") <= 100L)) == 2)
    assert(CommitLog.scannedUnits(s0.filter(col("k") > 699L)) == 1)
    assert(CommitLog.scannedUnits(s0.filter(col("k") >= 699L)) == 2)
    assert(CommitLog.scannedUnits(s0.filter(lit(150L) > col("k"))) == 2)
    assert(CommitLog.scannedUnits(s0.filter(col("k").isin(5L, 705L))) == 2)
    // an IN list past the InSet threshold
    assert(CommitLog.scannedUnits(s0.filter(col("k").isin((0L until 20L).map(_ * 3): _*))) == 1)
    // no filter, or one that is not a column against a literal, reads every unit
    assert(CommitLog.scannedUnits(s0) == 8)
    assert(CommitLog.scannedUnits(s0.filter(col("k") + 1L === 5L)) == 8)
  }

  test("a join whose other side fixes the key to a literal range prunes the snapshot side") {
    import spark.implicits._
    val t = rangeTable(scratch("graft_skip_join"))
    val dimDir = s"${scratch("graft_skip_dim")}/d"
    (0L until 800L by 10L).map(k => (k, k % 3)).toDF("k", "g")
      .coalesce(1).write.parquet(dimDir)
    val dim = Parquet.read(spark, dimDir).filter(col("k").between(310L, 350L))
    val joined = CommitLog.snapshot(spark, t, 0L).join(dim, "k")
    // the dim side's range is inferred onto the snapshot's scan
    assert(CommitLog.scannedUnits(joined) == 1)
    assert(filesRead(joined) == 2, "one snapshot unit plus the dim file")
    val unpruned = Parquet.read(spark, CommitLog.units(t, 0L)).join(dim, "k")
    assert(rows(joined) == rows(unpruned) && rows(joined).size == 5)
  }

  test("a unit without an entry, a double with NaN and a decimal are never pruned") {
    import spark.implicits._
    val t = scratch("graft_skip_never")
    Seq((1L, 1.0, BigDecimal("1.50")), (9L, Double.NaN, BigDecimal("2.50")))
      .toDF("k", "d", "p").withColumn("p", col("p").cast("decimal(10,2)"))
      .coalesce(1).write.parquet(s"$t/u0")
    Seq((105L, 3.0, BigDecimal("3.50"))).toDF("k", "d", "p")
      .withColumn("p", col("p").cast("decimal(10,2)"))
      .coalesce(1).write.parquet(s"$t/u1")
    CommitLog.commit(t, 0L, Seq("u0", "u1"))
    // u1 has no k entry; u0's double entry leaves the NaN out, and its
    // decimal entry holds the unscaled footer values (150, 250)
    CommitLog.writeColStats(t, 0L,
      longStats("k", Seq(("u0", 1L, 9L, 2L))) ++ Seq(
        CommitLog.ColStat("u0", "d", "double", "1.0", "1.0", 2L),
        CommitLog.ColStat("u1", "d", "double", "3.0", "3.0", 1L)) ++
        CommitLog.footerColStats(spark, t, Seq("u0", "u1"), Seq("p")))
    val s0 = CommitLog.snapshot(spark, t, 0L)
    val noEntry = s0.filter(col("k") === 105L)
    assert(CommitLog.scannedUnits(noEntry) == 1 && noEntry.count() == 1,
      "u0 is ruled out by its range; u1 has no entry and is read")
    val nan = s0.filter(col("d") > 5.0)
    assert(CommitLog.scannedUnits(nan) == 2 && nan.count() == 1,
      "NaN sorts above every double, so u0 holds a match its entry hides")
    val decimal = s0.filter(col("p") < BigDecimal("100.00"))
    assert(CommitLog.scannedUnits(decimal) == 2 && decimal.count() == 3)
  }

  test("bloom probes skip units on a long and on a string column") {
    import spark.implicits._
    val t = scratch("graft_skip_bloom")
    // k and s are scattered over the units, so no range prunes them
    (0 until 4).foreach { u =>
      (0 until 200).map { i =>
        val k = (u + 4L * i) * 7919L % 100003L
        (k, f"uid_$k%06d")
      }.toDF("k", "s").coalesce(1).write.parquet(s"$t/u$u")
    }
    // one bloom column per version: k at v0, s at v1 over the same units
    val units = (0 until 4).map(u => s"u$u")
    CommitLog.commit(t, 0L, units)
    CommitLog.writeBloomStats(spark, t, 0L, "k", 200L, 0.01)
    CommitLog.commit(t, 1L, units)
    CommitLog.writeBloomStats(spark, t, 1L, "s", 200L, 0.01)
    val probeK = (2L + 4L * 17L) * 7919L % 100003L // lives in u2
    val onLong = CommitLog.snapshot(spark, t, 0L).filter(col("k") === probeK)
    assert(CommitLog.scannedUnits(onLong) <= 2 && onLong.count() == 1)
    val s1 = CommitLog.snapshot(spark, t, 1L)
    val onString = s1.filter(col("s") === f"uid_$probeK%06d")
    assert(CommitLog.scannedUnits(onString) <= 2 && onString.count() == 1)
    val absent = s1.filter(col("s").isin("no_such_1", "no_such_2"))
    assert(CommitLog.scannedUnits(absent) <= 1 && absent.count() == 0)
    // a column without filters, and a range compare, skip nothing
    assert(CommitLog.scannedUnits(s1.filter(col("k") === probeK)) == 4)
    assert(CommitLog.scannedUnits(
      CommitLog.snapshot(spark, t, 0L).filter(col("k") < 0L)) == 4)
  }

  test("scannedUnits and the rows do not depend on the shuffle-partition count") {
    val t = rangeTable(scratch("graft_skip_parts"))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def run(n: Int): (Int, Seq[String]) = {
      spark.conf.set(key, n.toString)
      try {
        val df = CommitLog.snapshot(spark, t, 0L)
          .filter(col("k").between(150L, 380L))
          .groupBy((col("k") % 7).as("g")).agg(count(lit(1)).as("n"))
        (CommitLog.scannedUnits(df), rows(df))
      } finally spark.conf.set(key, prev)
    }
    val one = run(1)
    assert(one._1 == 3 && one._2.nonEmpty)
    assert(run(8) == one)
  }

  // U+FF5A sorts below U+1D538 by code point (Parquet's and Catalyst's
  // UTF-8 byte order) and above it in UTF-16
  private val (z, a) = ("ｚ", "𝔸")

  test("string stats fold across a unit's files in code-point order") {
    import spark.implicits._
    val t = scratch("graft_skip_utf8_fold")
    Seq(Tuple1(z)).toDF("s").coalesce(1).write.parquet(s"$t/u0")
    Seq(Tuple1(a)).toDF("s").coalesce(1).write.mode("append").parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.writeColStats(t, 0L, CommitLog.footerColStats(spark, t, Seq("u0"), Seq("s")))
    val st = CommitLog.colStats(t, 0L).head
    assert((st.min, st.max) == ((z, a)), s"folded across the unit's two files: $st")
  }

  test("a unique probe compares string stats in code-point order") {
    import spark.implicits._
    val t = scratch("graft_skip_utf8_unique")
    // one file: its footer holds [z, a] in code-point order
    Seq(z, a).toDF("s").coalesce(1).write.parquet(s"$t/u0")
    CommitLog.declareConstraints(t, Seq(CommitLog.UniqueConstraint("s")))
    CommitLog.commit(t, 0L, Seq("u0"))
    CommitLog.writeColStats(t, 0L, CommitLog.footerColStats(spark, t, Seq("u0"), Seq("s")))
    // a batch that re-uses a committed key is refused: the probe must
    // not skip the unit that holds it
    Seq(a).toDF("s").coalesce(1).write.parquet(s"$t/u1")
    val e = intercept[IllegalArgumentException](
      CommitLog.commitConstrained(spark, t, 1L, Seq("u0", "u1")))
    assert(e.getMessage.contains("unique(s)"), e.getMessage)
  }
}
