package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.sources.{CommitLog, Parquet}

/** The parquet schema memo behind [[graft.sources.Parquet.read]]: a
  * repeated read of an unchanged input starts no Spark job, a rewritten
  * input is inferred again, and the memo stays within its capacity.
  */
class ParquetMemoSpec extends GraftSpec {
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
    val out = Files.createTempDirectory("graft_memo_w")
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

  test("a second Tables.load of an unchanged table starts no Spark job") {
    val dir = Files.createTempDirectory("graft_memo_sf")
    Files.copy(Paths.get(sf, "documents.parquet"), dir.resolve("documents.parquet"))
    val (first, jobs1) = jobsDuring(Tables.load(spark, dir.toString, "documents"))
    assert(jobs1 >= 1, "the first load infers the schema with a job")
    val (second, jobs2) = jobsDuring(Tables.load(spark, dir.toString, "documents"))
    assert(jobs2 == 0, s"the second load started $jobs2 job(s)")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
  }

  test("a second CommitLog.snapshot of one version starts no Spark job") {
    val t = Files.createTempDirectory("graft_memo_cl").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p").write.parquet(s"$t/u0")
    Seq((3L, 30.0)).toDF("k", "p").write.parquet(s"$t/u1")
    CommitLog.commit(t, 0L, Seq("u0", "u1"))
    val (first, jobs1) = jobsDuring(CommitLog.snapshot(spark, t, 0L))
    assert(jobs1 >= 1, "the first snapshot infers the schema with a job")
    val (second, jobs2) = jobsDuring(CommitLog.snapshot(spark, t, 0L))
    assert(jobs2 == 0, s"the second snapshot started $jobs2 job(s)")
    assert(second.schema == first.schema)
    assert(rows(second) == Seq("[1,10.0]", "[2,20.0]", "[3,30.0]"))
  }

  test("a rewritten parquet file is read with its new schema") {
    val dir = Files.createTempDirectory("graft_memo_file")
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
    val dir = Files.createTempDirectory("graft_memo_dir").resolve("t").toString
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

  test("snapshotEvolved and changes return the same schema and rows on a memo hit") {
    val t = Files.createTempDirectory("graft_memo_evo").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p").write.parquet(s"$t/u0")
    CommitLog.commit(t, 0L, Seq("u0"))
    Seq((3L, 30.0, true)).toDF("k", "p", "flag").write.parquet(s"$t/u1")
    CommitLog.commitChecked(spark, t, 1L, Seq("u0", "u1"))
    val evo1 = CommitLog.snapshotEvolved(spark, t, 1L)
    val (evo2, jobs) = jobsDuring(CommitLog.snapshotEvolved(spark, t, 1L))
    assert(jobs == 0, s"the memo-hit snapshotEvolved started $jobs job(s)")
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

  test("the memo holds at most its capacity and drops the least recently used input") {
    val dir = Files.createTempDirectory("graft_memo_cap")
    val src = dir.resolve("src.parquet")
    writeFile(Seq((1L, 10.0)).toDF("k", "p"), src)
    val inputs = (0 to Parquet.Capacity).map { i =>
      val f = dir.resolve(s"in_$i.parquet")
      Files.copy(src, f)
      f.toString
    }
    inputs.foreach(Parquet.read(spark, _))
    assert(Parquet.memoSize <= Parquet.Capacity)
    val (_, recent) = jobsDuring(Parquet.read(spark, inputs.last))
    assert(recent == 0, "the most recent input must still hit")
    val (_, oldest) = jobsDuring(Parquet.read(spark, inputs.head))
    assert(oldest >= 1, "the least recently used input must have been dropped")
    assert(Parquet.memoSize <= Parquet.Capacity)
  }
}
