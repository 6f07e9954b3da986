package graft

import org.apache.spark.sql.SparkSession

class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def q1[T](sql: String): T =
    spark.sql(sql).collect()(0).getAs[T](0)

  test("time functions: to_epoch_ms / to_timestamp_ms roundtrip") {
    assert(q1[Long]("SELECT to_epoch_ms(TIMESTAMP '2024-01-01 00:00:00')") == 1704067200000L)
    assert(q1[java.sql.Timestamp]("SELECT to_timestamp_ms(1704067200123)").getTime == 1704067200123L)
    assert(q1[String]("SELECT strftime('%Y-%m-%d %H:%M', TIMESTAMP '2024-03-05 07:08:09')")
      == "2024-03-05 07:08")
    assert(q1[java.sql.Timestamp]("SELECT timestamp_trunc('HOUR', TIMESTAMP '2024-03-05 07:08:09')")
      .toString.startsWith("2024-03-05 07:00:00"))
  }

  test("string functions: hex_to_dec, glob, quote") {
    assert(q1[Long]("SELECT hex_to_dec('ff')") == 255L)
    assert(q1[Long]("SELECT hex_to_dec('1A2B')") == 6699L)
    assert(q1[Boolean]("SELECT glob('a*c?', 'abbcd')"))
    assert(!q1[Boolean]("SELECT glob('a*c?', 'abc')"))
    assert(q1[String]("SELECT quote(\"o'hara\")") == "'o''hara'")
  }

  test("aggregate compat: total, stddev0, variance0, group_concat, median") {
    Seq(1.0, 2.0, 4.0).toDF("v").createOrReplaceTempView("fv")
    assert(q1[Double]("SELECT total(v) FROM fv") == 7.0)
    assert(q1[Double]("SELECT total(v) FROM fv WHERE v > 100") == 0.0)
    assert(q1[Double]("SELECT stddev0(v) FROM fv WHERE v = 1.0") == 0.0)
    assert(q1[Double]("SELECT variance0(v) FROM fv WHERE v = 1.0") == 0.0)
    assert(math.abs(q1[Double]("SELECT variance0(v) FROM fv") - 2.333333333) < 1e-6)
    assert(q1[Double]("SELECT griddb_median(v) FROM fv") == 2.0)
    Seq("b", "a", "c").toDF("s").createOrReplaceTempView("fs")
    assert(q1[String]("SELECT group_concat(s) FROM fs") == "a,b,c")
    assert(q1[String]("SELECT group_concat(s, '|') FROM fs") == "a|b|c")
  }

  test("per-call timezone: extract/strftime/trunc/make/add/diff at ±hh:mm") {
    // 2024-03-05 23:30:00 UTC = 2024-03-06 05:00 at +05:30, 03-05 15:30 at -08:00
    val ts = "TIMESTAMP '2024-03-05 23:30:00'"
    assert(q1[Long](s"SELECT griddb_extract('HOUR', $ts, '+05:30')") == 5L)
    assert(q1[Long](s"SELECT griddb_extract('DAY', $ts, '+05:30')") == 6L)
    assert(q1[Long](s"SELECT griddb_extract('HOUR', $ts, '-08:00')") == 15L)
    assert(q1[Long](s"SELECT griddb_extract('DAY', $ts, '-08:00')") == 5L)
    assert(q1[Long](s"SELECT griddb_extract('HOUR', $ts, 'Z')") == 23L)
    // 2024-03-05 is a Tuesday -> DOW 2 (Sunday=0); +01:00 keeps it,
    // +05:30 rolls into Wednesday
    assert(q1[Long](s"SELECT griddb_extract('DAY_OF_WEEK', $ts, '+01:00')") == 3L)
    assert(q1[Long](s"SELECT griddb_extract('DAY_OF_WEEK', $ts)") == 2L)
    assert(q1[Long](s"SELECT griddb_extract('MICROSECOND', TIMESTAMP '2024-01-01 00:00:00.123456')")
      == 123456L)
    assert(q1[Long](s"SELECT griddb_extract('NANOSECOND', TIMESTAMP '2024-01-01 00:00:00.123456')")
      == 123456000L)

    assert(q1[String](s"SELECT strftime('%Y-%m-%d %H:%M', $ts, '+05:30')")
      == "2024-03-06 05:00")
    // trunc at +05:30: local midnight 03-06 00:00 is 03-05 18:30 UTC
    assert(q1[java.sql.Timestamp](s"SELECT timestamp_trunc('DAY', $ts, '+05:30')")
      .toString.startsWith("2024-03-05 18:30:00"))
    // make_timestamp with tz: local wall time -> instant
    assert(q1[java.sql.Timestamp](
      "SELECT griddb_make_timestamp(2024, 3, 6, 5, 0, 0, '+05:30')").getTime
      == q1[java.sql.Timestamp]("SELECT TIMESTAMP '2024-03-05 23:30:00'").getTime)

    // GridDB arg order (unit, ts, amount); diff is ts1 - ts2
    assert(q1[java.sql.Timestamp](s"SELECT griddb_timestamp_add('DAY', $ts, 2)")
      .toString.startsWith("2024-03-07 23:30:00"))
    assert(q1[Long](
      s"SELECT griddb_timestamp_diff('HOUR', $ts, TIMESTAMP '2024-03-05 20:00:00')") == 3L)
    assert(q1[Long](
      s"SELECT griddb_timestamp_diff('HOUR', TIMESTAMP '2024-03-05 20:00:00', $ts)") == -3L)
    assert(q1[Long](
      "SELECT griddb_timestamp_diff('MONTH', TIMESTAMP '2024-05-15 00:00:00', TIMESTAMP '2024-03-10 00:00:00')") == 2L)
    // MONTH add on the wall clock of the offset: 2024-04-30 20:00 UTC is
    // May 1 05:00 at +09:00; +1 month -> Jun 1 05:00 local = May 31 20:00
    // UTC, where UTC arithmetic clamps Apr 30 -> May 30
    assert(q1[java.sql.Timestamp](
      "SELECT griddb_timestamp_add('MONTH', TIMESTAMP '2024-04-30 20:00:00', 1, '+09:00')")
      .toString.startsWith("2024-05-31 20:00:00"))
    assert(q1[java.sql.Timestamp](
      "SELECT griddb_timestamp_add('MONTH', TIMESTAMP '2024-04-30 20:00:00', 1)")
      .toString.startsWith("2024-05-30 20:00:00"))
  }

  test("GraftSql rewrites GridDB time-function call forms") {
    import graft.engine.GraftSql.rewriteTimeFns
    assert(rewriteTimeFns("SELECT EXTRACT(HOUR, ts, '+05:30') FROM t")
      == "SELECT griddb_extract('HOUR', ts, '+05:30') FROM t")
    assert(rewriteTimeFns("SELECT TIMESTAMPADD(MONTH, ts, 2) FROM t")
      == "SELECT griddb_timestamp_add('MONTH', ts, 2) FROM t")
    assert(rewriteTimeFns("SELECT TIMESTAMP_DIFF(DAY, a, b, 'Z') FROM t")
      == "SELECT griddb_timestamp_diff('DAY', a, b, 'Z') FROM t")
    assert(rewriteTimeFns("SELECT TIMESTAMP_TRUNC(DAY, ts) FROM t")
      == "SELECT timestamp_trunc('DAY', ts) FROM t")
    // Spark's FROM form and quoted occurrences are untouched
    assert(rewriteTimeFns("SELECT extract(year FROM ts) FROM t")
      == "SELECT extract(year FROM ts) FROM t")
    assert(rewriteTimeFns("SELECT 'extract(HOUR, x)' FROM t")
      == "SELECT 'extract(HOUR, x)' FROM t")
    // nested calls rewrite inside-out
    assert(rewriteTimeFns("SELECT EXTRACT(DAY, TIMESTAMP_ADD(HOUR, ts, 9)) FROM t")
      == "SELECT griddb_extract('DAY', griddb_timestamp_add('HOUR', ts, 9)) FROM t")
    // end-to-end through spark.sql
    val df = graft.engine.GraftSql.sql(spark,
      "SELECT EXTRACT(HOUR, TIMESTAMP '2024-03-05 23:30:00', '+05:30') AS h")
    assert(df.collect()(0).getLong(0) == 5L)
  }

  test("glob/strftime pattern translators") {
    import graft.functions.GridDbScalarFunctions._
    assert(globToRegex("a*b?") == "^\\Qa\\E(?s:.*)\\Qb\\E(?s:.)$")
    assert(strftimeToJava("%Y-%m-%dT%H") == "yyyy-MM-dd'T'HH")
  }

  test("printf/unicode/zeroblob/make_timestamp variants") {
    assert(q1[String]("SELECT printf('%s-%03d', 'x', 7)") == "x-007")
    assert(q1[Int]("SELECT unicode('Abc')") == 65)
    assert(q1[Array[Byte]]("SELECT zeroblob(3)").toSeq == Seq[Byte](0, 0, 0))
    assert(q1[java.sql.Timestamp](
      "SELECT griddb_make_timestamp(2024, 1, 15, 12, 30, 45)").toString
      == "2024-01-15 12:30:45.0")
    assert(q1[java.sql.Timestamp](
      "SELECT make_timestamp_ms(2024, 1, 15, 12, 30, 45, 250)").toString
      == "2024-01-15 12:30:45.25")
    assert(q1[java.sql.Timestamp](
      "SELECT make_timestamp_us(2024, 1, 15, 12, 30, 45, 123456)").toString
      == "2024-01-15 12:30:45.123456")
  }

  test("random/randomblob: range, independence, blob sizes, null size") {
    val vals = spark.sql("SELECT random() AS r FROM range(400)")
      .collect().map(_.getLong(0))
    assert(vals.distinct.length == 400)          // 400²/2⁶⁴ collision odds ≈ 0
    assert(vals.exists(_ < 0) && vals.exists(_ > 0))  // spans the int64 range
    // two occurrences in one row are independent streams (plan-time seeds)
    val pair = spark.sql("SELECT random() AS a, random() AS b").collect()(0)
    assert(pair.getLong(0) != pair.getLong(1))
    assert(q1[Array[Byte]]("SELECT randomblob(16)").length == 16)
    assert(q1[Array[Byte]]("SELECT randomblob(0)").length == 1)   // max(n,1)
    assert(q1[Array[Byte]]("SELECT randomblob(NULL)").length == 1) // ref default
    assert(q1[Array[Byte]]("SELECT randomblob()").length == 1)
    val blobs = spark.sql("SELECT randomblob(8) AS b FROM range(50)")
      .collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(blobs.distinct.length == 50)
  }

  test("mergeable HLL rollup estimates distinct users within 3%") {
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Tables.events(spark, sfDir)
    val exact = ev.select("user_id").distinct().count()
    val est = ev
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact <= 0.03,
      s"HLL estimate $est vs exact $exact")
  }

  test("a session built with withExtensions(GraftExtensions) alone resolves graft functions") {
    // every other spec session comes from GraftSession.local, which also
    // registers the functions by hand; here the extension is the only
    // wiring (the platform-owned-session deployment shape)
    val sql = "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 1.0d)) AS c, " +
      "hex_to_dec('ff') AS h"
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    try {
      val bare = SparkSession.builder().create()
      intercept[org.apache.spark.sql.AnalysisException](bare.sql(sql).collect())
      val ext = SparkSession.builder()
        .withExtensions(new graft.engine.GraftExtensions).create()
      val r = ext.sql(sql).collect()(0)
      assert(math.abs(r.getDouble(0) - 1.0 / math.sqrt(2.0)) < 1e-12)
      assert(r.getLong(1) == 255L)
    } finally {
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }
}
