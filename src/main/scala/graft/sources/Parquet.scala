package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one parquet read path. Spark infers a parquet schema by
  * running a job over the input's footers (one job per read, even for a
  * single file); the engine reads the same unchanged inputs on every
  * query, so [[read]] infers each input's schema once and hands the
  * remembered `StructType` to later reads of that input. Listing,
  * partition discovery, pruning and pushdown stay Spark's: only the
  * inference job is skipped.
  *
  * A memo entry is keyed on the paths (in order), the merge flag and the
  * session confs that shape parquet inference, and is valid only while
  * the input files keep the identity they had when it was inferred:
  *  - a file: its [[fingerprint]] (size, mtime-ns, head/tail CRC);
  *  - a directory: the sorted (relative path, length, mtime-ns) of its
  *    data files — names not starting with `_` or `.`, as Spark lists
  *    them.
  * A rewritten input therefore misses and is inferred again. The memo
  * holds no session and is a fixed-capacity LRU: per-call scratch
  * inputs never hit again and age out. A path that is not a local file
  * or directory (another filesystem, a glob, a missing path) bypasses
  * the memo, so Spark resolves it — and reports its errors — as before.
  */
object Parquet {

  /** Memo capacity: several times the distinct inputs a benchmark
    * workload reads (about 50 on `lakehouse_write`, most of them per-call
    * scratch dirs), so the LRU drops scratch inputs, not reused ones.
    */
  val Capacity = 256

  private val inferenceConfs = Seq(
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
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
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    identity(paths) match {
      case None => reader.parquet(paths: _*)
      case Some(id) =>
        val key = Key(paths, mergeSchema, inferenceConfs.map(spark.conf.get))
        val hit = memo.synchronized(memo.get(key))
        if (hit != null && hit.identity == id) reader.schema(hit.schema).parquet(paths: _*)
        else {
          val df = reader.parquet(paths: _*)
          memo.synchronized(memo.put(key, Entry(id, df.schema)))
          df
        }
    }
  }

  /** Entries the memo holds now (at most [[Capacity]]). */
  private[graft] def memoSize: Int = memo.synchronized(memo.size())

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
