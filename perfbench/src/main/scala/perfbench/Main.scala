package perfbench

import java.lang.management.ManagementFactory
import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up the engine the way a caller's
  * driver does, make one cold pass over the workload's entries, then
  * a fixed number of warm passes (Workload.warmPasses). Writes the raw
  * measurements as JSON for perfbench/run.py to report.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --sf DIR --expected FILE --out FILE [--spans FILE]
  */
object Main {
  /** One closed-loop client on local[Cores]; fixed so that results from
    * hosts with other core counts stay comparable.
    */
  val Cores = 4

  type Entry = (SparkSession, String) => DataFrame

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val sf = opt("sf")
    val wl = Workloads.all(workload)
    val names = wl.measured
    val expected = Expected.load(Paths.get(opt("expected")))
    val missing = names.filterNot(expected.contains)
    require(missing.isEmpty, s"no expected row count for: ${missing.mkString(", ")}")
    val catalog = graft.SparkEntry.queries
    val shmBefore = Disk.shmDirs()

    // ---- set-up: JVM start until the first query can run ----
    val uptimeAtMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val mainNs = System.nanoTime()
    val setup = mutable.LinkedHashMap[String, Double]()
    var tracer: Option[Tracer] = None
    def timed[A](key: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try tracer.fold(f)(_.span("setup." + key.stripSuffix("_s"), "")(_ => f))
      finally setup(key) = (System.nanoTime() - t0) / 1e9
    }
    val spark = timed("session_s") {
      SparkSession.builder()
        .master(s"local[$Cores]")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", opt("local"))
        .config("spark.sql.warehouse.dir", opt("warehouse"))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streamListener)
      tracer = Some(t)
    }
    timed("register_s")(graft.functions.GraftFunctions.register(spark))
    timed("warm_lsh_s")(warmLsh(spark))
    timed("warm_ivf_s")(graft.queries.LlmQueries.warmIvfIndex(spark, sf))
    timed("warm_minhash_s")(graft.queries.LlmQueries.warmMinhashIndex(spark, sf))
    timed("warm_simgraph_s")(graft.queries.SimGraph.warm(spark, sf))
    val setupS = uptimeAtMainS + (System.nanoTime() - mainNs) / 1e9
    val stateDirs = Seq(opt("tmp"), opt("local"), opt("warehouse"), opt("work")).map(Paths.get(_))
    def stateBytes(): Long =
      (stateDirs ++ Disk.shmDirs().diff(shmBefore)).map(Disk.bytes).sum
    val diskAfterSetup = stateBytes()

    // ---- measured passes ----
    val rng = new scala.util.Random(seed)
    val attempts = mutable.ArrayBuffer[Map[String, Any]]()
    val boundaries = mutable.ArrayBuffer[Map[String, Any]]()
    val passGcS = mutable.ArrayBuffer[Double]()
    // A full GC closes every pass, outside the timed regions;
    // graft.Bench runs it after every entry, which at this data size
    // would cost more than the entries themselves.
    def pass(index: Int): Unit = {
      for (name <- rng.shuffle(names)) {
        attempts += attempt(spark, tracer, sf, name, catalog(name), expected(name), index)
        boundaries += boundary(spark, tracer, name)
      }
      val g0 = System.nanoTime()
      System.gc()
      passGcS += (System.nanoTime() - g0) / 1e9
    }
    pass(0)
    val compile = ManagementFactory.getCompilationMXBean
    val jit0 = compile.getTotalCompilationTime
    val warmStartMs = System.currentTimeMillis()
    val warmStartNs = System.nanoTime()
    val passes = 1 + wl.warmPasses(opt("seconds").toDouble)
    (1 until passes).foreach(pass)
    val warmWallS = (System.nanoTime() - warmStartNs) / 1e9
    val jitS = (compile.getTotalCompilationTime - jit0) / 1e3
    val diskEnd = stateBytes()
    val heapMb = retainedHeapMb()

    tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    val records = tracer.fold(attempts.toSeq) { t =>
      attempts.toSeq.map { a =>
        a ++ Seq("construct", "plan", "exec").flatMap { phase =>
          a.get(s"${phase}_span").map(id => s"${phase}_counters" -> t.countersOf(id.asInstanceOf[Long]).toMap)
        }
      }
    }
    val traceOut = tracer.map { t =>
      opt.get("spans").foreach(p => writeSpans(Paths.get(p), t.allSpans))
      Map("batches" -> t.batches.map { case (ms, s, rows) =>
        Map("epoch_ms" -> ms, "batch_s" -> s, "rows" -> rows) }.toSeq)
    }.getOrElse(Map.empty)
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "setup" -> setup.toMap,
      "state_disk_bytes" -> diskAfterSetup,
      "disk_bytes" -> Map("after_setup" -> diskAfterSetup, "end" -> diskEnd),
      "passes" -> passes, "warm_wall_s" -> warmWallS, "pass_gc_s" -> passGcS.toSeq,
      "warm_start_epoch_ms" -> warmStartMs, "jit_warm_s" -> jitS,
      "heap_retained_mb" -> heapMb,
      "attempts" -> records, "boundaries" -> boundaries.toSeq,
      "jvm" -> Map("version" -> System.getProperty("java.vm.version"),
        "flags" -> rt.getInputArguments.asScala.toSeq),
      "master" -> s"local[$Cores]", "shuffle_partitions" -> Cores,
      "spark" -> spark.version) ++ traceOut
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json.render(result))
  }

  /** Class loading and code generation for the MLlib LSH paths, on four
    * in-memory rows: the same warm-up graft.Bench performs before it
    * times any entry.
    */
  private def warmLsh(spark: SparkSession): Unit = {
    import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, MinHashLSH}
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Seq((1L, Seq("a b c", "b c d")), (2L, Seq("a b c", "c d e"))).toDF("id", "sh")
    val feat = new HashingTF().setInputCol("sh").setOutputCol("f")
      .setNumFeatures(1 << 10).setBinary(true).transform(docs)
    new MinHashLSH().setInputCol("f").setOutputCol("h")
      .setNumHashTables(2).setSeed(42L).fit(feat)
      .approxSimilarityJoin(feat, feat, 0.9, "d").count()
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "v").withColumn("vv", array_to_vector(col("v")))
    new BucketedRandomProjectionLSH().setInputCol("vv").setOutputCol("h")
      .setBucketLength(2.0).setNumHashTables(2).setSeed(42L).fit(vecs)
      .approxSimilarityJoin(vecs, vecs, 4.0, "d").count()
  }

  /** Driver heap in use after full GCs. Spark's ContextCleaner frees
    * shuffle and broadcast state only after a GC has cleared their
    * references, so one GC can leave garbage the next one reclaims:
    * collect until the figure stops falling.
    */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Double.MaxValue
    var now = Double.MaxValue
    var rounds = 0
    do {
      last = now
      System.gc()
      Thread.sleep(100)
      now = mem.getHeapMemoryUsage.getUsed / 1048576.0
      rounds += 1
    } while (now < last - 0.5 && rounds < 10)
    now
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** One call of an entry. The timed region is `fn(spark, sf).count()`,
    * as in graft.Bench; a traced attempt also plans the DataFrame on its
    * own (`queryExecution.executedPlan`) so planning shows as a layer.
    */
  private def attempt(spark: SparkSession, tracer: Option[Tracer], sf: String,
      name: String, fn: Entry, expected: Long, index: Int): Map[String, Any] = {
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val rec = mutable.LinkedHashMap[String, Any]("entry" -> name, "pass" -> index)
    val outcome = try {
      val rows = tracer match {
        case None => fn(spark, sf).count()
        case Some(t) => t.span("entry", name) { root =>
          val t1 = System.nanoTime()
          val df = t.span("construct", name, root) { id => rec("construct_span") = id; fn(spark, sf) }
          val t2 = System.nanoTime()
          t.span("plan", name, root) { id => rec("plan_span") = id; df.queryExecution.executedPlan }
          val t3 = System.nanoTime()
          val n = t.span("exec", name, root) { id => rec("exec_span") = id; df.count() }
          rec ++= Seq("construct_s" -> (t2 - t1) / 1e9, "plan_s" -> (t3 - t2) / 1e9,
            "exec_s" -> (System.nanoTime() - t3) / 1e9)
          n
        }
      }
      rec("rows") = rows
      if (rows == expected) None else Some(s"rows $rows, expected $expected")
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
    rec ++= Seq("s" -> (System.nanoTime() - t0) / 1e9, "ok" -> outcome.isEmpty,
      "gc_s" -> (gcMs() - gc0) / 1e3)
    outcome.foreach(rec("error") = _)
    rec.toMap
  }

  /** The entry boundary, outside every timed region: release the
    * materializer's frames, as graft.Bench does after every entry.
    */
  private def boundary(spark: SparkSession, tracer: Option[Tracer], name: String): Map[String, Any] = {
    val cachedMb = tracer.map { _ =>
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    }
    val t0 = System.nanoTime()
    val released = graft.api.GraftOps.releaseMaterialized()
    Map("entry" -> name, "release_s" -> (System.nanoTime() - t0) / 1e9,
      "released" -> released) ++ cachedMb.map("cached_mb" -> _)
  }

  private def writeSpans(path: Path, spans: Seq[Span]): Unit =
    Files.write(path, spans.map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "entry" -> s.entry, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).asJava)
}

/** Expected row counts stored with the benchmark (expected_rows.json). */
object Expected {
  def load(path: Path): Map[String, Long] = {
    val root = Json.mapper.readTree(path.toFile)
    root.fields().asScala.map(e => e.getKey -> e.getValue.get("rows").asLong).toMap
  }
}

object Disk {
  /** Engine temp dirs on tmpfs: the streaming entries put their
    * checkpoints under /dev/shm when it is writable.
    */
  def shmDirs(): Set[Path] = {
    val shm = Paths.get("/dev/shm")
    if (!Files.isDirectory(shm)) Set.empty
    else {
      val s = Files.list(shm)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_")).toSet
      finally s.close()
    }
  }

  /** Bytes of the regular files under `root`. Spark deletes shuffle
    * files while the walk runs, so files and directories that vanish
    * under it are skipped.
    */
  def bytes(root: Path): Long = {
    var total = 0L
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }
}

/** JSON for the run record and the spans (Scala maps, sequences, options). */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
