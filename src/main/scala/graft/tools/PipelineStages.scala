package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Tables.load
import graft.queries.PipelineQueries

/** Stage-level timing of the flagship `pipeline_end2end` DAG
  * (VERDICT r7 Next-round #3): times the DAG truncated after each
  * stage — quality gate, +digest-key dedup, +decontamination,
  * +temperature resampling — so the cost attribution in SCALE.md is
  * measured, not inferred. Each point is min-of-2 on a warm JVM,
  * same protocol as Bench.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          dev/run.sh graft.tools.PipelineStages
  */
object PipelineStages {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = Map(1 -> "quality gate (map-only)",
      2 -> "+ exact dedup (digest groupBy + semi-join)",
      3 -> "+ decontamination (shingle explode vs broadcast eval set)",
      4 -> "+ temperature resample (full DAG)")
    println("| stages | rows | sec (min of 2) |")
    println("|---|---|---|")
    (1 to 4).foreach { st =>
      def once(): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = PipelineQueries.endToEnd(load(spark, sfDir, "documents"), st).count()
        graft.api.GraftOps.releaseMaterialized(spark)
        (n, (System.nanoTime() - t0) / 1e9)
      }
      once() // warm JIT/codegen
      val (n1, t1) = once(); val (_, t2) = once()
      println(f"| ${names(st)} | $n1 | ${math.min(t1, t2)}%.2f |")
    }
    spark.stop()
  }
}
