package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Inputs for perfbench/expected.py: every entry's oracle SQL (if it has
  * one) and the row count the current tree returns at `sf`.
  *
  * Usage: perfbench.Dump --sf DIR --out FILE --local DIR --warehouse DIR
  */
object Dump {
  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sf = opt("sf")
    val spark = SparkSession.builder()
      .master(s"local[${Main.Cores}]")
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local"))
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val oracle = graft.SparkEntry.oracleSql
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val n = try fn(spark, sf).count() catch { case _: Throwable => -1L }
      graft.api.GraftOps.releaseMaterialized()
      name -> Map("oracle" -> oracle.get(name), "tree_rows" -> n)
    }
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json.render(rows.toMap))
  }
}
