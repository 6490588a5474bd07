package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one SparkSession per JVM, pinned UTC,
  * small shuffle-partition count for test speed.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.tune(s)
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftSpec extends AnyFunSuite {
  protected lazy val spark: SparkSession = TestSession.spark
  protected val sf: String = TestSession.sf
  protected def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** `df`'s executed plan as text with every scan Location in full.
    * Spark cuts a Location to `spark.sql.maxMetadataStringLength` (100
    * characters by default), shorter than a derived-store path, so a
    * negative path check on the cut text would pass vacuously. The
    * session's setting is restored afterwards.
    */
  protected def planText(df: DataFrame): String = {
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, Int.MaxValue.toString)
    try df.queryExecution.executedPlan.toString finally spark.conf.set(key, prev)
  }

  /** Hand-built per-unit `(unit, min, max, count)` ranges of the BIGINT
    * column `col`, as the cstats entries `CommitLog.writeColStats`
    * publishes and `CommitLog.keyRanges` reads back.
    */
  protected def longStats(col: String, ranges: Seq[(String, Long, Long, Long)])
      : Seq[graft.sources.CommitLog.ColStat] =
    ranges.map { case (u, mn, mx, n) =>
      graft.sources.CommitLog.ColStat(u, col, "long", mn.toString, mx.toString, n)
    }

  /** Plan-text subtree scoping: the column where a tree line's node
    * label starts (child lines indent deeper) — shared by the
    * broadcast-subtree assertions so the parsing heuristic lives in
    * one place.
    */
  protected def nodeStart(l: String): Int = {
    val i = l.indexWhere(c => !" :+-".contains(c))
    if (i < 0) Int.MaxValue else i
  }
}
