package graft.sources

import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.GraftSqlInternals
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The engine's one parquet read path. Spark infers a parquet schema by
  * running a job over the input's footers (one job per read, even for a
  * single file). [[read]] starts no such job: it lists the paths once
  * through Spark's own file index and reads, on the driver, the footers
  * that inference would read. Listing, partition discovery (partition
  * columns are still inferred from directory names), pruning and
  * pushdown stay Spark's. Nothing is kept between reads: every read
  * sees the input and the session confs as they are then.
  *
  * The read reproduces Spark's inference exactly:
  *  - the file list is Spark's own file index for the paths (Spark's
  *    `DataSource` resolved with a placeholder data schema), so hidden
  *    files, partition directories and a file sink's `_spark_metadata`
  *    log follow Spark's rules; the returned frame is the relation
  *    Spark's read builds over that same index, with the footers'
  *    schema as its data schema, so a data column named like a
  *    partition column keeps Spark's place;
  *  - without schema merging it reads `_common_metadata`, else
  *    `_metadata`, else the first data file in path order; with
  *    merging, every data file, then `_metadata`, then
  *    `_common_metadata` (data files are skipped under
  *    `spark.sql.parquet.respectSummaryFiles`), folded left to right
  *    with `StructType.merge` under the session's case sensitivity;
  *  - each footer is converted by `ParquetFileFormat.readSchemaFromFooter`
  *    with the converter settings inference uses.
  * The footers are read one after another on the driver, however many
  * there are; only a merged read touches more than one. On a 4-core
  * host (one directory of N copies of a 100-row file, merged, median of
  * 7 first reads) that took 274 ms at N = 1,024 against 206 ms for
  * Spark's inference job, and was the faster at N <= 256; no engine
  * read merges more than a handful of units.
  * It leaves the read to Spark's inference, unchanged, when the index
  * lists no file and on any exception (a missing path, another
  * filesystem Spark cannot list, a schema Spark refuses) — so Spark
  * reports its errors as before.
  */
object Parquet {

  /** Read one parquet input (a file or a directory). */
  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** Read `paths` as one parquet scan, merging the units' schemas when
    * `mergeSchema` (the schema-on-read evolution path).
    */
  def read(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val options = if (mergeSchema) Map("mergeSchema" -> "true") else Map.empty[String, String]
    footerRead(spark, paths, options, mergeSchema)
      .getOrElse(spark.read.options(options).parquet(paths: _*))
  }

  // Stands in for the data schema while Spark's file index lists the
  // paths; its name cannot clash with a partition column.
  private val ListingSchema = StructType(Seq(StructField("__graft_listing", LongType)))

  /** Spark's relation over `paths` with a placeholder data schema: the
    * listing every read of them starts with (its `location`).
    */
  def listing(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): HadoopFsRelation =
    GraftSqlInternals.parquetRelation(spark, paths, ListingSchema, options)
      .asInstanceOf[HadoopFsRelation]

  /** The read of `paths` with the schema Spark's inference would give,
    * read from their footers on the driver; None where the read is left
    * to Spark's inference (see the class doc).
    */
  private def footerRead(spark: SparkSession, paths: Seq[String],
      options: Map[String, String], mergeSchema: Boolean): Option[DataFrame] =
    scala.util.Try {
      val conf = spark.sessionState.conf
      // another relation or file index fails the casts: left to Spark
      val relation = listing(spark, paths, options)
      val files = relation.location.asInstanceOf[PartitioningAwareFileIndex]
        .allFiles().sortBy(_.getPath.toString)
      def named(name: String) = files.filter(_.getPath.getName == name)
      val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      val summary = named(ParquetFileWriter.PARQUET_METADATA_FILE)
      val data = files.filterNot(f => common.contains(f) || summary.contains(f))
      // ParquetOptions: the read option, else the session conf
      val touch =
        if (mergeSchema || conf.isParquetSchemaMergingEnabled)
          (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ summary ++ common
        else common.headOption.orElse(summary.headOption).orElse(data.headOption).toSeq
      if (touch.isEmpty) None
      else {
        val hadoopConf = spark.sessionState.newHadoopConf()
        // the converter ParquetFileFormat.mergeSchemasInParallel builds
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val caseSensitive = conf.caseSensitiveAnalysis
        val schema = touch.map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
        }.reduceLeft(GraftSqlInternals.mergeSchemas(_, _, caseSensitive))
        Some(GraftSqlInternals.withDataSchema(spark, relation, schema))
      }
    }.toOption.flatten
}
