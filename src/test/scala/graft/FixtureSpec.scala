package graft

import org.apache.spark.sql.functions._

/** Testdata invariants (FIXTURES.md): drift here means the driver
  * regenerated the fixtures — every golden value downstream would be
  * suspect, so fail loudly and early.
  */
class FixtureSpec extends GraftSpec {

  private val expectedRows = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 150L, "supplier" -> 10L,
    "part" -> 200L, "orders" -> 1500L, "lineitem" -> 6000L, "events" -> 1000L,
    "documents" -> 500L, "embeddings" -> 500L)

  test("row counts at sf0.001 match FIXTURES.md") {
    expectedRows.foreach { case (t, n) =>
      assert(Tables.load(spark, sf, t).count() === n, s"table $t")
    }
  }

  test("key columns are unique and non-null") {
    Seq("orders" -> "o_orderkey", "customer" -> "c_custkey", "part" -> "p_partkey",
      "events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")
      .foreach { case (t, k) =>
        val df = Tables.load(spark, sf, t)
        assert(df.filter(col(k).isNull).count() === 0L, s"$t.$k has nulls")
        assert(df.select(k).distinct().count() === df.count(), s"$t.$k not unique")
      }
  }

  test("foreign keys resolve (no orphans)") {
    val li = Tables.load(spark, sf, "lineitem")
    val o = Tables.load(spark, sf, "orders")
    val c = Tables.load(spark, sf, "customer")
    assert(li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti").count() === 0L)
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() === 0L)
  }

  test("all embeddings have exactly 64 dimensions") {
    assert(Tables.load(spark, sf, "embeddings")
      .filter(size(col("embedding")) =!= 64).count() === 0L)
  }

  test("ALL ten tables' physical parquet schemas match the known generation") {
    // Round 6 lost half a round to a silent testdata regen that only
    // changed events.ts's physical encoding. This canary pins EVERY
    // column of EVERY table as Spark reads it raw (post-tune, so the
    // nanosAsLong conf is active exactly as in Tables.load) and fails
    // with a message naming each drifted column — one loud named test
    // instead of 200 downstream query mysteries.
    import org.apache.spark.sql.types._
    Tables.tune(spark)
    val i = IntegerType; val l = LongType; val s = StringType; val d = DoubleType
    val tsOk: Set[DataType] = Set(LongType, TimestampNTZType) // known events.ts generations
    val ntz: Set[DataType] = Set(TimestampNTZType)
    def one(t: DataType): Set[DataType] = Set(t)
    val expected: Map[String, Seq[(String, Set[DataType])]] = Map(
      "region" -> Seq("r_regionkey" -> one(i), "r_name" -> one(s)),
      "nation" -> Seq("n_nationkey" -> one(i), "n_name" -> one(s), "n_regionkey" -> one(i)),
      "customer" -> Seq("c_custkey" -> one(l), "c_name" -> one(s), "c_nationkey" -> one(i),
        "c_acctbal" -> one(d), "c_mktsegment" -> one(s)),
      "supplier" -> Seq("s_suppkey" -> one(l), "s_name" -> one(s), "s_nationkey" -> one(i),
        "s_acctbal" -> one(d)),
      "part" -> Seq("p_partkey" -> one(l), "p_name" -> one(s), "p_brand" -> one(s),
        "p_type" -> one(s), "p_size" -> one(i), "p_retailprice" -> one(d)),
      "orders" -> Seq("o_orderkey" -> one(l), "o_custkey" -> one(l), "o_orderstatus" -> one(s),
        "o_totalprice" -> one(d), "o_orderdate" -> ntz, "o_orderpriority" -> one(s)),
      "lineitem" -> Seq("l_orderkey" -> one(l), "l_partkey" -> one(l), "l_suppkey" -> one(l),
        "l_linenumber" -> one(i), "l_quantity" -> one(d), "l_extendedprice" -> one(d),
        "l_discount" -> one(d), "l_tax" -> one(d), "l_returnflag" -> one(s),
        "l_linestatus" -> one(s), "l_shipdate" -> ntz),
      "events" -> Seq("event_id" -> one(l), "ts" -> tsOk, "user_id" -> one(l),
        "event_type" -> one(s), "value" -> one(d), "props" -> one(s)),
      "documents" -> Seq("doc_id" -> one(l), "text" -> one(s), "lang" -> one(s),
        "source" -> one(s), "n_chars" -> one(l)),
      "embeddings" -> Seq("vec_id" -> one(l), "embedding" -> one(ArrayType(FloatType)),
        "label" -> one(i)))
    val drift = Tables.names.flatMap { t =>
      val actual = spark.read.parquet(s"$sf/$t.parquet").schema
      val exp = expected(t)
      val missing = exp.map(_._1).filterNot(actual.fieldNames.contains)
        .map(c => s"$t.$c: MISSING (driver dropped the column)")
      val added = actual.fieldNames.filterNot(exp.map(_._1).contains(_))
        .map(c => s"$t.$c: NEW column ${actual(c).dataType} (driver added it)")
      val changed = exp.collect {
        case (c, ok) if actual.fieldNames.contains(c) && !ok.contains(actual(c).dataType) =>
          s"$t.$c: expected ${ok.mkString(" or ")}, driver regenerated as ${actual(c).dataType}"
      }
      missing ++ added ++ changed
    }
    assert(drift.isEmpty,
      s"\nTESTDATA SCHEMA DRIFT — the driver regenerated fixtures; " +
        s"audit every consumer of these columns:\n  ${drift.mkString("\n  ")}")
  }

  test("events.ts physical type is a known generation and loads as TIMESTAMP_NTZ") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    // The driver has regenerated events.parquet with different ts
    // encodings across rounds (timestamp[ns] → read as BIGINT under
    // nanosAsLong; timestamp[us] → read as TIMESTAMP_NTZ). Tables.load
    // handles both; anything else is a NEW generation this repo has
    // never seen — fail here, in one named test, instead of in the 59
    // downstream query families that consume events.ts.
    Tables.tune(spark)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val physical = raw.schema("ts").dataType
    assert(physical == LongType || physical == TimestampNTZType,
      s"events.ts arrived as $physical — driver regenerated testdata with an unknown ts encoding; update Tables.load")
    val loaded = Tables.load(spark, sf, "events")
    assert(loaded.schema("ts").dataType == TimestampNTZType,
      s"Tables.load must normalize events.ts to TIMESTAMP_NTZ, got ${loaded.schema("ts").dataType}")
    // and the values must actually be readable (plan-time type errors
    // surface on action, not on schema inspection)
    assert(loaded.select(min("ts"), max("ts")).collect().head.get(0) != null)
  }

  test("Tables.load legacy nanos-era events branch still truncates exactly") {
    // The regenerated testdata is µs-era, so the LongType branch of
    // Tables.load (ns-era parquet read as BIGINT under nanosAsLong)
    // would otherwise go untested until a driver regen flips back.
    // Synthesize an events.parquet whose ts is epoch-NANOS int64 and
    // load it through the real path.
    import spark.implicits._
    import org.apache.spark.sql.types.TimestampNTZType
    val dir = scratch("graft_nsera")
    val ns = 1700000000L * 1000000000L + 123456789L // ...123456.789µs
    Seq((1L, ns), (2L, ns + 210L)) // .789µs + 210ns = .999µs: SAME µs
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampNTZType)
    val micros = loaded.orderBy("event_id")
      .select(expr("unix_micros(cast(ts as timestamp))")).collect().map(_.getLong(0))
    assert(micros(0) === ns / 1000L, "ns must truncate (not round) to µs")
    assert(micros(0) === micros(1), "sub-µs difference must truncate away")
  }

  test("events span 30 days with the documented type domain") {
    val ev = Tables.load(spark, sf, "events")
    val types = ev.select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(types === Set("click", "error", "purchase", "signup", "view"))
  }
}
