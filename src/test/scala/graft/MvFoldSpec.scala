package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.CommitLog

/** The signed-delta view-state folds (plans.MvFold and the fixture
  * folds built on it) and the change feeds they read.
  */
class MvFoldSpec extends GraftSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    rows(df).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size

  /** Write (k, p) rows as one unit of `root`; p in decimal(18, 2). */
  private def unit(root: String, name: String, kp: Seq[(Option[Long], String)]): String = {
    kp.toDF("k", "ps")
      .select(col("k"), col("ps").cast(DecimalType(18, 2)).as("p"))
      .coalesce(1).write.parquet(s"$root/$name")
    name
  }

  test("changes: a one-sided version is that side as it stands, duplicates included, with no exchange") {
    val t = scratch("graft_mvfold_feed")
    val u0 = unit(t, "u0", Seq((Some(1L), "1.00"), (Some(2L), "2.00")))
    CommitLog.commit(t, 0L, Seq(u0))
    // v1 appends a unit holding a duplicated row and a NULL key
    val dup = Seq((Some(3L), "3.00"), (Some(3L), "3.00"), (None, "4.00"))
    val u1 = unit(t, "u1", dup)
    CommitLog.commit(t, 1L, Seq(u0, u1))
    // v2 rewrites u0 (COW: both sides, the diff path), v3 drops u1
    val u2 = unit(t, "u2", Seq((Some(1L), "1.00"), (Some(2L), "5.00")))
    CommitLog.commit(t, 2L, Seq(u2, u1))
    CommitLog.commit(t, 3L, Seq(u2))

    val appended = CommitLog.changes(spark, t, 1L)
    val wantIns = dup.map { case (k, p) =>
      Seq(k.map(Long.box).orNull, new java.math.BigDecimal(p), "insert") }
    assert(multiset(appended) == wantIns.groupBy(identity).map { case (r, rs) => r -> rs.size },
      rows(appended).mkString(", "))
    assert(exchanges(appended) == 0, planText(appended))
    val cow = CommitLog.changes(spark, t, 2L)
    assert(appended.schema == cow.schema,
      s"one-sided feed schema ${appended.schema} != diff schema ${cow.schema}")
    assert(multiset(cow) == Map(
      Seq(2L, new java.math.BigDecimal("2.00"), "delete") -> 1,
      Seq(2L, new java.math.BigDecimal("5.00"), "insert") -> 1))

    val dropped = CommitLog.changes(spark, t, 3L)
    assert(dropped.schema == cow.schema)
    assert(multiset(dropped) ==
      wantIns.map(_.init :+ "delete").groupBy(identity).map { case (r, rs) => r -> rs.size },
      rows(dropped).mkString(", "))
    assert(exchanges(dropped) == 0, planText(dropped))
  }

  test("fold: NULL group keys from two versions land in ONE state row, as in the direct aggregate") {
    val t = scratch("graft_mvfold_nullk")
    val u0 = unit(t, "u0", Seq((None, "10.00"), (Some(12L), "1.00")))
    CommitLog.commit(t, 0L, Seq(u0))
    val u1 = unit(t, "u1", Seq((None, "20.00"), (Some(22L), "2.00")))
    CommitLog.commit(t, 1L, Seq(u0, u1))
    val snap = CommitLog.snapshot(spark, t, 1L)
    val direct = snap.groupBy(expr(graft.queries.LakehouseQueries.ordersKeySql).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("p")).cast(DecimalType(38, 2)).as("total"),
        min(col("p")).as("mn"), max(col("p")).as("mx"))
    val cols = Seq("g", "n", "total")

    val mmPath = graft.queries.LakehouseQueries.foldAppendMinMaxState(spark, t,
      scratch("graft_mvfold_nullk_mm"))
    val mm = graft.sources.Parquet.read(spark, mmPath)
    assert(mm.filter(col("g").isNull).count() == 1L, rows(mm).mkString(", "))
    assert(rows(mm.select((cols ++ Seq("mn", "mx")).map(col): _*).orderBy("g")) ==
      rows(direct.orderBy("g")), rows(mm).mkString(", "))

    val aggPath = graft.queries.LakehouseQueries.foldAggViewState(spark, t,
      scratch("graft_mvfold_nullk_agg"))
    val agg = graft.sources.Parquet.read(spark, aggPath)
    assert(agg.filter(col("g").isNull).count() == 1L, rows(agg).mkString(", "))
    assert(rows(agg.select(cols.map(col): _*).orderBy("g")) ==
      rows(direct.select(cols.map(col): _*).orderBy("g")))
  }

  test("fold: the min/max fold refuses a retraction, names the first one and writes nothing") {
    val t = scratch("graft_mvfold_refuse")
    val u0 = unit(t, "u0", Seq((Some(1L), "1.00")))
    CommitLog.commit(t, 0L, Seq(u0))
    val u1 = unit(t, "u1", Seq((Some(2L), "2.00")))
    CommitLog.commit(t, 1L, Seq(u0, u1))
    CommitLog.commit(t, 2L, Seq(u1)) // drops u0: a retraction
    val u3 = unit(t, "u3", Seq((Some(3L), "3.00")))
    CommitLog.commit(t, 3L, Seq(u3)) // drops u1: another one
    val dir = scratch("graft_mvfold_refuse_st")
    val e = intercept[IllegalArgumentException] {
      graft.queries.LakehouseQueries.foldAppendMinMaxState(spark, t, dir)
    }
    assert(e.getMessage.contains("retraction") &&
      e.getMessage.contains("version 2 "), e.getMessage)
    assert(CommitLog.replayStates(dir).isEmpty)
  }

  test("fixture states: one file per state, each equal to the direct aggregate at its cut") {
    import graft.queries.LakehouseQueries
    def byG(df: DataFrame) = rows(df.select(col("g").cast("bigint"),
      col("n").cast("bigint"), col("total").cast(DecimalType(38, 2)))
      .filter(col("n") =!= 0L).orderBy("g"))
    // the direct side must not be rewritten to the state it checks
    def direct(df: DataFrame, key: org.apache.spark.sql.Column) = {
      val views = graft.PerSession(spark).views
      val saved = new java.util.HashMap(views)
      views.clear()
      try byG(df.groupBy(key.as("g")).agg(count(lit(1)).as("n"),
        sum(col("p")).cast(DecimalType(38, 2)).as("total")))
      finally views.putAll(saved)
    }

    // the S12 view: only the last version's state is written
    q("dml_cdc_agg_view").count()
    val fact = LakehouseQueries.cdcTable(spark, sf)
    val vLast = CommitLog.versions(fact).last
    val aggDir = Derived.path("aggview", sf)
    assert(CommitLog.replayStates(aggDir) == Seq(vLast))
    assert(byG(graft.sources.Parquet.read(spark, s"$aggDir/v$vLast")) ==
      direct(CommitLog.snapshot(spark, fact, vLast), col("k") % 10))

    // the join view: the (fact v2, dim v0) cut s2 and the final state
    val root = LakehouseQueries.joinViewStateRoot(spark, sf)
    val files = new java.io.File(root).list().filterNot(_.startsWith(".")).sorted.toSeq
    assert(files == Seq("final", "s2"), files)
    val (_, dim, _) = LakehouseQueries.registerStaleOrdersJoinView(spark, sf)
    def joined(fv: Long, dv: Long) =
      CommitLog.snapshot(spark, fact, fv).select(col("k"), col("p"))
        .join(CommitLog.snapshot(spark, dim, dv).select(col("k"), col("g").as("dg")), "k")
    assert(byG(graft.sources.Parquet.read(spark, s"$root/s2")) ==
      direct(joined(2L, 0L), col("dg")))
    assert(byG(graft.sources.Parquet.read(spark, s"$root/final")) ==
      direct(joined(vLast, CommitLog.versions(dim).last), col("dg")))
  }
}
