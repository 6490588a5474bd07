package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.api.GraftOps
import graft.sources.Parquet

/** Cross-call state belongs to one SparkSession: a second session of
  * the same application (`newSession()`) neither releases the first
  * one's pinned frames nor sees or drops its registered views, and
  * registering the shared CBO catalog in one session still turns CBO
  * on in the other.
  */
class SessionScopeSpec extends GraftSpec {

  test("releaseMaterialized in one session leaves another session's pinned frames cached") {
    val other = spark.newSession()
    GraftOps.releaseMaterialized(spark, blocking = true)
    val pinned = GraftOps.materializeOnce(spark.range(10).toDF("k"))
    try {
      assert(pinned.storageLevel.useMemory)
      assert(GraftOps.releaseMaterialized(other, blocking = true) == 0)
      assert(pinned.storageLevel.useMemory, "the other session released this session's frame")
    } finally assert(GraftOps.releaseMaterialized(spark, blocking = true) == 1)
    assert(!pinned.storageLevel.useMemory)
  }

  test("a view registered in one session neither rewrites nor is dropped by another") {
    import spark.implicits._
    val other = spark.newSession()
    val dir = scratch("graft_scope_mv")
    Seq((0L, 10L), (1L, 20L), (2L, 30L), (3L, 40L)).toDF("k", "p")
      .select(col("k"), col("p").cast(DecimalType(18, 2)).as("p"))
      .coalesce(1).write.parquet(s"$dir/fact")
    Parquet.read(spark, s"$dir/fact").groupBy((col("k") % 2).as("g"))
      .agg(count(lit(1)).as("n"), count(col("p")).as("nn"),
        sum(col("p")).cast(DecimalType(38, 2)).as("total"))
      .write.parquet(s"$dir/state")
    val factPath = java.nio.file.Paths.get(s"$dir/fact").toAbsolutePath.normalize.toString
    graft.plans.MvCatalog.register(spark, "scope_mv",
      graft.plans.MvCatalog.MvDef(Set(factPath), "k % 2", "p", s"$dir/state"))
    def readsState(s: org.apache.spark.sql.SparkSession): Boolean = {
      val plan = planText(Parquet.read(s, s"$dir/fact")
        .groupBy((col("k") % 2).as("g")).agg(sum(col("p")).as("sp")))
      plan.contains(s"$dir/state")
    }
    try {
      assert(readsState(spark), "the registering session did not rewrite")
      assert(!readsState(other), "another session rewrote against this session's view")
      graft.plans.MvCatalog.drop(other, "scope_mv")
      assert(readsState(spark), "another session's drop removed this session's view")
    } finally graft.plans.MvCatalog.drop(spark, "scope_mv")
    assert(!readsState(spark))
  }

  test("ensureCatalog turns CBO on in every session that shares the registered catalog") {
    val other = spark.newSession()
    graft.queries.CboQueries.ensureCatalog(spark, sf)
    assert(other.conf.get("spark.sql.cbo.enabled") == "false")
    graft.queries.CboQueries.ensureCatalog(other, sf)
    assert(other.conf.get("spark.sql.cbo.enabled") == "true")
    assert(other.conf.get("spark.sql.cbo.joinReorder.enabled") == "true")
    val rc = other.table("g_cbo_orders").queryExecution.optimizedPlan.stats.rowCount
    assert(rc.contains(BigInt(other.table("g_cbo_orders").count())),
      s"the shared catalog's stats are not visible in the other session: $rc")
  }
}
