package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.GraftSqlInternals
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The engine's one parquet read path. Spark infers a parquet schema by
  * running a job over the input's footers (one job per read, even for a
  * single file). [[read]] starts no such job: it reads the footers that
  * inference would read on the driver, and it remembers each input's
  * schema, so a later read of the unchanged input reads no footer at
  * all. Listing, partition discovery (partition columns are still
  * inferred from directory names), pruning and pushdown stay Spark's.
  *
  * The footer read (a memo miss) reproduces Spark's inference exactly:
  *  - the file list is Spark's own file index for the paths, so hidden
  *    files, partition directories and a file sink's `_spark_metadata`
  *    log follow Spark's rules; the returned frame is the relation
  *    Spark's read builds over that same index, with the footers'
  *    schema as its data schema, so a miss lists the paths once and a
  *    data column named like a partition column keeps Spark's place;
  *  - without schema merging it reads `_common_metadata`, else
  *    `_metadata`, else the first data file in path order; with
  *    merging, every data file, then `_metadata`, then
  *    `_common_metadata` (data files are skipped under
  *    `spark.sql.parquet.respectSummaryFiles`), folded left to right
  *    with `StructType.merge` under the session's case sensitivity;
  *  - each footer is converted by `ParquetFileFormat.readSchemaFromFooter`
  *    with the converter settings inference uses.
  * The footers are read one after another on the driver, however many
  * there are; only a merged read touches more than one.
  * It leaves the read to Spark's inference, unchanged, when the index
  * lists no file and on any exception — so Spark reports its errors as
  * before.
  *
  * A memo entry is keyed on the paths (in order), the merge flag and the
  * session confs that shape parquet inference, and is valid only while
  * the input files keep the identity they had when it was read:
  *  - a file: its [[fingerprint]] (size, mtime-ns, head/tail CRC);
  *  - a directory: the sorted (relative path, length, mtime-ns) of its
  *    data files — names not starting with `_` or `.`, as Spark lists
  *    them.
  * A rewritten input therefore misses and is read again. An input with
  * a data column named like a partition column is not remembered (see
  * [[overlapsPartition]]). The memo
  * holds no session and is a fixed-capacity LRU: per-call scratch
  * inputs never hit again and age out. A path that is not a local file
  * or directory (another filesystem, a glob, a missing path) bypasses
  * the memo and the footer read, so Spark resolves it — and reports its
  * errors — as before.
  */
object Parquet {

  /** Memo capacity: several times the distinct inputs a benchmark
    * workload reads (about 50 on `lakehouse_write`, most of them per-call
    * scratch dirs), so the LRU drops scratch inputs, not reused ones.
    */
  val Capacity = 256

  private val inferenceConfs = Seq(
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive")

  private final case class Key(paths: Seq[String], mergeSchema: Boolean,
      confs: Seq[String])
  private final case class Entry(identity: Seq[String], schema: StructType)

  private val memo = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > Capacity
  }

  /** Read one parquet input (a file or a directory). */
  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** Read `paths` as one parquet scan, merging the units' schemas when
    * `mergeSchema` (the schema-on-read evolution path).
    */
  def read(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    // a DataFrameReader keeps the schema it is given: one per read
    def reader: DataFrameReader =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    identity(paths) match {
      case None => reader.parquet(paths: _*)
      case Some(id) =>
        val key = Key(paths, mergeSchema, inferenceConfs.map(spark.conf.get))
        val hit = memo.synchronized(memo.get(key))
        if (hit != null && hit.identity == id) reader.schema(hit.schema).parquet(paths: _*)
        else {
          missCount.incrementAndGet()
          val df = footerRead(spark, reader, paths, mergeSchema)
            .getOrElse(reader.parquet(paths: _*))
          if (!overlapsPartition(df)) memo.synchronized(memo.put(key, Entry(id, df.schema)))
          df
        }
    }
  }

  /** Whether a data column of `df`'s scan is named like one of its
    * partition columns. Spark's read keeps such a column where the data
    * has it; a read given the schema moves it to the end, so a memo hit
    * would reorder it. Such an input is not remembered.
    */
  private def overlapsPartition(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .exists {
        case r: HadoopFsRelation => r.overlappedPartCols.nonEmpty
        case _ => false
      }

  /** Entries the memo holds now (at most [[Capacity]]). */
  private[graft] def memoSize: Int = memo.synchronized(memo.size())

  private val missCount = new AtomicLong

  /** Memo misses since the JVM started. */
  private[graft] def misses: Long = missCount.get

  // Stands in for the data schema while Spark's file index lists the
  // paths; its name cannot clash with a partition column.
  private val ListingSchema = StructType(Seq(StructField("__graft_listing", LongType)))

  /** `reader`'s read of `paths` with the schema Spark's inference would
    * give, read from their footers on the driver; None where the read is
    * left to Spark's inference (see the class doc).
    */
  private def footerRead(spark: SparkSession, reader: DataFrameReader,
      paths: Seq[String], mergeSchema: Boolean): Option[DataFrame] =
    scala.util.Try {
      val conf = spark.sessionState.conf
      // another relation or file index fails the casts: left to Spark
      val relation = reader.schema(ListingSchema).parquet(paths: _*)
        .queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
        .get.asInstanceOf[HadoopFsRelation]
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

  /** Identity of one parquet file: size + mtime (ns where the filesystem
    * provides it) + a CRC32 of the file's first and last 64 KiB. The
    * checksum closes the same-size rewrite within one mtime granule
    * that size and mtime alone miss; parquet's footer (metadata,
    * row-group offsets) lives in the tail bytes, so any content change
    * the size doesn't catch the CRC does. Cost: ≤128 KiB of I/O per
    * probe, page-cache-resident after the first read. A directory gets
    * size + mtime of the path itself and CRC 0.
    */
  def fingerprint(src: Path): String = {
    val size = Files.size(src)
    val mtimeNs = Files.getLastModifiedTime(src)
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)
    val crc =
      if (Files.isRegularFile(src)) {
        val c = new java.util.zip.CRC32()
        val ch = Files.newByteChannel(src)
        try {
          val span = 64 * 1024
          // loop to full-or-EOF: a single read() may return short, and a
          // short head/tail yields a DIFFERENT CRC for the same file — a
          // flapping fingerprint spuriously invalidates every entry keyed
          // on it
          def readFully(buf: java.nio.ByteBuffer): Unit = {
            var n = 0
            while (buf.hasRemaining && n >= 0) n = ch.read(buf)
          }
          val buf = java.nio.ByteBuffer.allocate(span)
          readFully(buf); buf.flip(); c.update(buf)
          if (size > span) {
            buf.clear(); ch.position(math.max(0L, size - span))
            readFully(buf); buf.flip(); c.update(buf)
          }
        } finally ch.close()
        c.getValue
      } else 0L
    s"${size}_${mtimeNs}_$crc"
  }

  /** One identity string per path, or None when some path is not a
    * local file or directory.
    */
  private def identity(paths: Seq[String]): Option[Seq[String]] =
    scala.util.Try {
      val local = paths.flatMap(localPath)
      if (paths.nonEmpty && local.size == paths.size) Some(local.map(pathIdentity))
      else None
    }.toOption.flatten

  private def localPath(p: String): Option[Path] =
    if (p.exists("*?[{\\".contains(_))) None
    else {
      val uri = new org.apache.hadoop.fs.Path(p).toUri
      val scheme = Option(uri.getScheme)
      if (scheme.forall(_ == "file")) Some(Paths.get(uri.getPath))
        .filter(f => Files.isRegularFile(f) || Files.isDirectory(f))
      else None
    }

  private def pathIdentity(p: Path): String =
    if (Files.isRegularFile(p)) fingerprint(p)
    else {
      import scala.jdk.CollectionConverters._
      val files = {
        val st = Files.walk(p)
        try st.iterator().asScala.filter { f =>
          Files.isRegularFile(f) && p.relativize(f).iterator().asScala
            .forall(n => !hidden(n.toString))
        }.toVector finally st.close()
      }
      files.map { f =>
        val mtimeNs = Files.getLastModifiedTime(f)
          .to(java.util.concurrent.TimeUnit.NANOSECONDS)
        s"${p.relativize(f)}:${Files.size(f)}:$mtimeNs"
      }.sorted.mkString("|")
    }

  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
}
