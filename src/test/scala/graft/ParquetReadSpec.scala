package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.sources.{CommitLog, Parquet}

/** The parquet read path [[graft.sources.Parquet.read]]: every read
  * takes its schema from the footers on the driver (no Spark job, the
  * same schema and errors as Spark's inference), sees a rewritten input
  * and a changed session conf as they are then, and engine code reads
  * parquet through it only.
  */
class ParquetReadSpec extends GraftSpec {
  import spark.implicits._

  /** The body's result and the number of Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.graft.TestBus.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.TestBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Write `df` as the single parquet file `target`. */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("graft_read_w")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = {
      val st = Files.list(out)
      try st.toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    }
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    Derived.deleteRecursively(out.toString)
  }

  /** Fresh inputs of every kind the engine reads, none read yet:
    * (label, paths, mergeSchema). Each kind is built so that a footer
    * chosen by other rules than Spark's gives another schema.
    */
  private def inputKinds(): Seq[(String, Seq[String], Boolean)] = {
    val root = Files.createTempDirectory("graft_read_kinds").toString
    val file = Paths.get(root, "one.parquet")
    writeFile(Seq((1L, 10.0)).toDF("k", "p"), file)
    val dir = s"$root/dir"
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p").repartition(2).write.parquet(dir)
    val parted = s"$root/parted"
    Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "p", "g")
      .write.partitionBy("g").parquet(parted)
    // commit-log style units; the second adds a column
    val units = Seq(s"$root/u0", s"$root/u1")
    Seq((1L, 10.0)).toDF("k", "p").write.parquet(units(0))
    Seq((2L, 20.0, true)).toDF("k", "p", "flag").write.parquet(units(1))
    // a file sink's output (with a non-nullable column, which Spark keeps
    // non-nullable over a sink's log), plus a file its _spark_metadata log
    // does not list, first in path order
    val sink = s"$root/sink"
    spark.readStream.schema("k LONG, p DOUBLE").parquet(units(0))
      .withColumn("one", org.apache.spark.sql.functions.lit(1)).writeStream
      .format("parquet").option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start(sink).awaitTermination()
    writeFile(Seq((9L, 90.0, "x")).toDF("k", "p", "stray"),
      Paths.get(sink, "a-stray.parquet"))
    Seq(("file", Seq(file.toString), false), ("dir", Seq(dir), false),
      ("partitionBy dir", Seq(parted), false), ("unit list", units, false),
      ("file-sink dir", Seq(sink), false), ("mergeSchema unit list", units, true))
  }

  /** Spark's own read of `paths`: its schema, or the error it raises. */
  private def sparkSchema(paths: Seq[String], mergeSchema: Boolean)
      : Either[(String, String), StructType] = outcome {
    val r = if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    r.parquet(paths: _*).schema
  }

  private def engineSchema(paths: Seq[String], mergeSchema: Boolean)
      : Either[(String, String), StructType] =
    outcome(Parquet.read(spark, paths, mergeSchema).schema)

  private def outcome(schema: => StructType): Either[(String, String), StructType] =
    try Right(schema) catch {
      case e: Exception => Left((e.getClass.getName, e.getMessage))
    }

  /** A parquet file without Spark's schema in its footer: a plain
    * BINARY and an INT96 column, as non-Spark writers produce them.
    */
  private def writeForeignFile(target: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 k; required binary b; required int96 t; }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(target.toUri), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("k", 1L)
      .append("b", "x").append("t", Binary.fromConstantByteArray(new Array[Byte](12))))
    finally w.close()
  }

  test("a first read starts no Spark job for any input kind") {
    for ((label, paths, merge) <- inputKinds()) {
      val (df, jobs) = jobsDuring(Parquet.read(spark, paths, merge))
      assert(jobs == 0, s"$label: the first read started $jobs job(s)")
      assert(df.count() > 0L, s"$label: no rows")
    }
  }

  test("a first read's schema equals Spark's inference for every input kind") {
    for ((label, paths, merge) <- inputKinds()) {
      val expected = sparkSchema(paths, merge)
      assert(expected.isRight, s"$label: $expected")
      if (label == "file-sink dir") assert(expected.exists(!_("one").nullable))
      assert(engineSchema(paths, merge) == expected, label)
    }
  }

  test("a first read's schema equals Spark's: summaries, case, NTZ, footers without Spark's schema") {
    val root = Files.createTempDirectory("graft_read_cases").toString
    // a _common_metadata summary decides the schema when nothing merges
    val wide = s"$root/wide"
    Seq((1L, 10.0, "x")).toDF("k", "p", "extra").write
      .option("parquet.summary.metadata.level", "ALL").parquet(wide)
    assert(Files.exists(Paths.get(wide, "_common_metadata")))
    for (merge <- Seq(false, true)) {
      val narrow = s"$root/narrow_$merge"
      Seq((1L, 10.0)).toDF("k", "p").write.parquet(narrow)
      Files.copy(Paths.get(wide, "_common_metadata"), Paths.get(narrow, "_common_metadata"))
      val expected = sparkSchema(Seq(narrow), merge)
      assert(expected.map(_.fieldNames.toSeq) == Right(Seq("k", "p", "extra")))
      assert(engineSchema(Seq(narrow), merge) == expected, s"summary, merge=$merge")
    }
    // a merged pair whose column names differ only in case: Spark folds
    // the footers in path order and keeps the first spelling
    val cased = Seq(s"$root/upper", s"$root/lower")
    Seq((1L, 2L)).toDF("K", "a").write.parquet(cased(0))
    Seq((3L, 4L)).toDF("k", "b").write.parquet(cased(1))
    val casedExpected = sparkSchema(cased, mergeSchema = true)
    assert(casedExpected.map(_.fieldNames.toSeq) == Right(Seq("k", "b", "a")))
    assert(engineSchema(cased, mergeSchema = true) == casedExpected)
    // TIMESTAMP_NTZ
    val ntz = s"$root/ntz"
    Seq((1L, java.time.LocalDateTime.parse("2024-01-02T03:04:05"))).toDF("k", "ts")
      .write.parquet(ntz)
    val ntzExpected = sparkSchema(Seq(ntz), mergeSchema = false)
    assert(ntzExpected.map(_("ts").dataType) ==
      Right(org.apache.spark.sql.types.TimestampNTZType))
    assert(engineSchema(Seq(ntz), mergeSchema = false) == ntzExpected)
    // binaryAsString and int96AsTimestamp shape a footer without Spark's
    // schema; INT96 not read as a timestamp is Spark's error, unchanged.
    // One file read under every setting: a schema kept from an earlier
    // read of it would be the wrong one for the next setting
    val confs = Seq("spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp")
    val prev = confs.map(spark.conf.get)
    val foreign = Paths.get(root, "foreign.parquet")
    writeForeignFile(foreign)
    try {
      for (binaryAsString <- Seq(false, true); int96AsTimestamp <- Seq(true, false)) {
        spark.conf.set(confs(0), binaryAsString.toString)
        spark.conf.set(confs(1), int96AsTimestamp.toString)
        val expected = sparkSchema(Seq(foreign.toString), mergeSchema = false)
        assert(expected.isRight == int96AsTimestamp, expected)
        assert(engineSchema(Seq(foreign.toString), mergeSchema = false) == expected,
          s"binaryAsString=$binaryAsString int96AsTimestamp=$int96AsTimestamp")
      }
    } finally confs.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("a data column named like a partition column keeps Spark's place on every read and starts no job") {
    val t = Files.createTempDirectory("graft_read_clash").resolve("t").toString
    // the data files carry g too; Spark keeps g where the data has it,
    // where a read given the same schema would move it to the end
    Seq(("a", 1L)).toDF("g", "k").write.parquet(s"$t/g=a")
    val expected = sparkSchema(Seq(t), mergeSchema = false)
    assert(expected.map(_.fieldNames.toSeq) == Right(Seq("g", "k")))
    assert(spark.read.schema(expected.toOption.get).parquet(t).columns.toSeq == Seq("k", "g"))
    val (df, jobs) = jobsDuring(Parquet.read(spark, t))
    assert(jobs == 0, s"the first read started $jobs job(s)")
    assert(Right(df.schema) == expected)
    assert(rows(df) == rows(spark.read.parquet(t)))
    val (again, jobs2) = jobsDuring(Parquet.read(spark, t))
    assert(jobs2 == 0, s"the second read started $jobs2 job(s)")
    assert(Right(again.schema) == expected)
  }

  test("a merged read of more units than the parallel-listing threshold lists once and reads every footer") {
    val root = Files.createTempDirectory("graft_read_wide")
    val n = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt + 1
    val shapes = Seq(Seq((1L, 10.0)).toDF("k", "p"),
      Seq((2L, 20.0, true)).toDF("k", "p", "flag"))
    val templates = shapes.indices.map { i =>
      val f = root.resolve(s"shape_$i.parquet"); writeFile(shapes(i), f); f
    }
    // two equal sets of n units, so neither read sees the other's listing
    def unitSet(side: String): Seq[String] = (0 until n).map { i =>
      val u = Files.createDirectories(root.resolve(s"$side/u$i"))
      Files.copy(templates(i % 2), u.resolve("part-0.parquet"))
      u.toString
    }
    val (expected, sparkJobs) = jobsDuring(sparkSchema(unitSet("spark"), mergeSchema = true))
    assert(expected.map(_.fieldNames.toSeq) == Right(Seq("k", "p", "flag")))
    val (df, jobs) = jobsDuring(Parquet.read(spark, unitSet("engine"), mergeSchema = true))
    assert(Right(df.schema) == expected)
    // Spark's read: a listing job and an inference job; the engine's:
    // the same listing job only
    assert(sparkJobs == 2, s"Spark's read started $sparkJobs job(s)")
    assert(jobs == 1, s"the engine's first read started $jobs job(s)")
    assert(df.count() == n.toLong)
  }

  test("an empty dir, a glob, a non-local path and duplicate columns raise Spark's errors") {
    val root = Files.createTempDirectory("graft_read_err")
    val empty = Files.createDirectory(root.resolve("empty")).toString
    // columns that differ only in case, written case-sensitively: a
    // duplicate under the default session
    val dup = root.resolve("dup").toString
    spark.conf.set("spark.sql.caseSensitive", "true")
    try Seq((1L, 2L)).toDF("a", "A").write.parquet(dup)
    finally spark.conf.set("spark.sql.caseSensitive", "false")
    for (p <- Seq(empty, s"$root/no_such*", "nosuchfs:///graft/x.parquet", dup)) {
      val expected = sparkSchema(Seq(p), mergeSchema = false)
      assert(expected.isLeft, s"$p: $expected")
      assert(engineSchema(Seq(p), mergeSchema = false) == expected, p)
    }
  }

  test("a second Tables.load of an unchanged table starts no Spark job") {
    val dir = Files.createTempDirectory("graft_read_sf")
    Files.copy(Paths.get(sf, "documents.parquet"), dir.resolve("documents.parquet"))
    val first = Tables.load(spark, dir.toString, "documents")
    val (second, jobs2) = jobsDuring(Tables.load(spark, dir.toString, "documents"))
    assert(jobs2 == 0, s"the second load started $jobs2 job(s)")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
  }

  test("a second CommitLog.snapshot of one version starts no Spark job") {
    val t = Files.createTempDirectory("graft_read_cl").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p").write.parquet(s"$t/u0")
    Seq((3L, 30.0)).toDF("k", "p").write.parquet(s"$t/u1")
    CommitLog.commit(t, 0L, Seq("u0", "u1"))
    val first = CommitLog.snapshot(spark, t, 0L)
    val (second, jobs2) = jobsDuring(CommitLog.snapshot(spark, t, 0L))
    assert(jobs2 == 0, s"the second snapshot started $jobs2 job(s)")
    assert(second.schema == first.schema)
    assert(rows(second) == Seq("[1,10.0]", "[2,20.0]", "[3,30.0]"))
  }

  test("a rewritten parquet file is read with its new schema") {
    val dir = Files.createTempDirectory("graft_read_file")
    val f = dir.resolve("documents.parquet")
    writeFile(Seq((1L, "a")).toDF("doc_id", "text"), f)
    assert(Tables.load(spark, dir.toString, "documents").columns.toSeq ==
      Seq("doc_id", "text"))
    // a regen that adds a column
    writeFile(Seq((1L, "a", 7)).toDF("doc_id", "text", "lang"), f)
    val added = Tables.load(spark, dir.toString, "documents")
    assert(added.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(rows(added) == Seq("[1,a,7]"))
    // a regen of the same size within the same mtime granule: only the
    // column name differs, by one byte of the same length
    val mtime = Files.getLastModifiedTime(f)
    val size = Files.size(f)
    writeFile(Seq((1L, "a", 7)).toDF("doc_id", "text", "lanx"), f)
    Files.setLastModifiedTime(f, mtime)
    assert(Files.size(f) == size, "the rewrite must keep the file size")
    val renamed = Tables.load(spark, dir.toString, "documents")
    assert(renamed.columns.toSeq == Seq("doc_id", "text", "lanx"))
    assert(rows(renamed) == Seq("[1,a,7]"))
  }

  test("a rewritten parquet directory is read with its new schema") {
    val dir = Files.createTempDirectory("graft_read_dir").resolve("t").toString
    Seq((1L, 10.0)).toDF("k", "p").write.parquet(dir)
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("k", "p"))
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("k", "p"))
    Seq((1L, 10.0, "x")).toDF("k", "p", "tag").write.mode("overwrite").parquet(dir)
    val next = Parquet.read(spark, dir)
    assert(next.columns.toSeq == Seq("k", "p", "tag"))
    assert(rows(next) == Seq("[1,10.0,x]"))
    // an appended file with one more column joins the merged schema
    Seq((2L, 20.0, "y", true)).toDF("k", "p", "tag", "flag")
      .write.mode("append").parquet(dir)
    val merged = Parquet.read(spark, Seq(dir), mergeSchema = true)
    assert(merged.columns.toSeq == Seq("k", "p", "tag", "flag"))
    assert(rows(merged) == Seq("[1,10.0,x,null]", "[2,20.0,y,true]"))
  }

  test("snapshotEvolved and changes return the same schema and rows on a repeated read") {
    val t = Files.createTempDirectory("graft_read_evo").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    Seq((3L, 30.0, true)).toDF("k", "p", "flag").write.parquet(s"$t/u1")
    CommitLog.commitChecked(spark, t, 1L, Seq("u0", "u1"))
    val evo1 = CommitLog.snapshotEvolved(spark, t, 1L)
    val (evo2, jobs) = jobsDuring(CommitLog.snapshotEvolved(spark, t, 1L))
    assert(jobs == 0, s"the second snapshotEvolved started $jobs job(s)")
    assert(evo1.schema.fieldNames.toSeq == Seq("k", "p", "flag"))
    assert(evo2.schema == evo1.schema)
    assert(rows(evo2) == rows(evo1))
    assert(rows(evo1) == Seq("[1,10.0,null]", "[2,20.0,null]", "[3,30.0,true]"))
    val ch1 = CommitLog.changes(spark, t, 1L)
    val ch2 = CommitLog.changes(spark, t, 1L)
    assert(ch2.schema == ch1.schema)
    assert(rows(ch2) == rows(ch1))
    assert(rows(ch1) == Seq("[3,30.0,true,insert]"))
  }

  test("engine code outside tools/ reads parquet only through Parquet.read") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    // a reader chain, possibly split over lines, that ends in a parquet
    // read Spark infers a schema for
    val raw = Seq(
      """\bread\s*(\.\s*options?\([^)]*\)\s*)*\.\s*parquet\(""".r,
      """format\(\s*"parquet"\s*\)\s*\.\s*load\b""".r)
    val files = {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally st.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val hits = files.filterNot { f =>
      val rel = root.relativize(f).toString
      rel.startsWith("tools/") || rel == "sources/Parquet.scala"
    }.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      raw.flatMap(_.findAllMatchIn(text)).map { m =>
        s"${root.relativize(f)}:${text.take(m.start).count(_ == '\n') + 1}"
      }
    }
    assert(hits.isEmpty, s"raw parquet reads: ${hits.mkString(", ")}")
  }
}
