package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType}

/** Central table loader for the graft engine.
  *
  * All queries read the driver-generated parquet tables through this
  * object so the cross-engine traps documented in SURVEY.md §7.4 are
  * fixed in exactly one place:
  *
  *  - `events.ts` is nanosecond-precision parquet TIMESTAMP, which the
  *    Spark 4.1.2 vectorized reader rejects. We read it as Long
  *    (`nanosAsLong`) and truncate to microseconds with integer `div`
  *    (epoch-nanos overflow a double's 53-bit mantissa, so `/ 1000`
  *    would be lossy — SURVEY §7.4.1).
  *  - money columns stay DoubleType at rest; aggregates must go through
  *    [[Tables.dec]] for shuffle-order-independent exact sums.
  *
  * Reference citation: n/a — /root/reference is empty (SURVEY §0); the
  * binding data model is FIXTURES.md.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fingerprint of a driver table's parquet — the cache key component
    * that makes every derived-artifact cache (minhash / IVF indexes,
    * sink exports, stream replay source) regen-safe: the driver
    * rewriting testdata mid-JVM changes the fingerprint and forces a
    * rebuild instead of a stale read. The recipe (size, mtime-ns and a
    * head/tail CRC, so a same-size rewrite within one mtime granule
    * still changes it) is [[graft.sources.Parquet.fingerprint]], the
    * one the parquet schema memo keys single files on.
    */
  def fingerprint(sfDir: String, name: String): String =
    graft.sources.Parquet.fingerprint(
      java.nio.file.Paths.get(sfDir, s"$name.parquet"))

  /** Session confs every entry point needs. Idempotent, safe to call
    * per-query: these are runtime SQL confs, not static ones.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // INT64 micros parquet output (not INT96) so the DuckDB oracle reads
    // our Verify dumps without legacy-timestamp ambiguity.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** Load one of the ten driver tables. `events` gets its `ts` column
    * normalized to microsecond TIMESTAMP_NTZ regardless of how the
    * driver generated it (see class doc). The read goes through
    * [[graft.sources.Parquet.read]], which infers the table's schema on
    * the first load and reuses it while the file's fingerprint is
    * unchanged, so a repeated load starts no Spark job.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    tune(spark)
    val df = graft.sources.Parquet.read(spark, s"$sfDir/$name.parquet")
    // NTZ cast: the source tables' timestamps are naive (parquet
    // isAdjustedToUTC=false, read by Spark 4 as TIMESTAMP_NTZ), so the
    // rebuilt ts must be NTZ too or Verify's parquet dump would come out
    // tz-aware and mismatch the DuckDB oracle's naive timestamps.
    //
    // The driver has shipped events.ts as BOTH timestamp[ns] (read as
    // BIGINT via nanosAsLong) and timestamp[us] (read as TIMESTAMP_NTZ)
    // across regens, so branch on the physical type rather than assuming
    // either generation. FixtureSpec pins both paths.
    if (name == "events") {
      df.schema("ts").dataType match {
        case LongType => // legacy nanos-era data: truncate ns → µs exactly
          df.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case TimestampNTZType => // µs-era naive data: already the target type
          df
        case other =>
          // Fail LOUDLY on an unknown generation (e.g. tz-adjusted
          // TIMESTAMP read as TimestampType): a silent cast here would
          // be session-timezone-dependent and shift every value. The
          // production load path enforces this, not just FixtureSpec.
          throw new IllegalStateException(
            s"events.ts has unexpected physical type $other (expected " +
              "BIGINT nanos or TIMESTAMP_NTZ micros) — the driver " +
              "regenerated testdata with a new generation; extend " +
              "Tables.load with an explicit, tz-safe branch for it")
      }
    } else df
  }

  /** Exact-arithmetic cast for money/quantity doubles (SURVEY §7.4.2):
    * sum(double) is shuffle-order-dependent; sum(decimal) is exact and
    * therefore deterministic and DuckDB-comparable.
    */
  val dec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    _.cast(DecimalType(18, 2))
}
