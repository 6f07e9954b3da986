package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{GraftCatalog, GraftSql, ParamLiteral, Tables}
import graft.tql.TqlCompiler

/** Literal parameterization (`ParameterizeLiterals`): statements that
  * differ only in their constants reuse generated classes, return exactly
  * what the interpreted path returns, and keep parquet pushdown and window
  * literals intact. */
class CodegenReuseSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `op` at a first and then at a second parameter value: the
    * classes the second run compiled, and its rows. */
  private def compilesAtSecondValue(op: Int => Array[Row]): (Long, Array[Row]) = {
    op(0)
    val before = compiles
    val second = op(1)
    (compiles - before, second)
  }

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    flatMap(plan)(_.expressions.flatMap(_.collect { case p: ParamLiteral => p }))

  private def interpreted[A](body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("TQL filter, TIME_SAMPLING, GROUP BY RANGE FILL and tsAggregate compile nothing at a second value") {
    Tables.registerAll(spark, sfDir)
    val cat = GraftCatalog.forSession(spark)
    val ev = cat.register(Tables.container(spark, sfDir, "events"))
    val day = (d: Int) => f"2024-01-$d%02d"
    val ops: Seq[(String, Int => Array[Row])] = Seq(
      "tql filter" -> (p => TqlCompiler.run(ev,
        s"select * where value > ${10 + 20 * p}.0 and user_id >= ${p * 3} " +
          "order by ts desc, event_id desc limit 20").collect()),
      "tql time_sampling" -> (p => TqlCompiler.run(ev,
        s"select time_sampling(value, TIMESTAMP('${day(2 + 5 * p)}T00:00:00Z'), " +
          s"TIMESTAMP('${day(4 + 5 * p)}T00:00:00Z'), 1, HOUR)").collect()),
      "group by range fill" -> (p => GraftSql.sql(spark,
        s"SELECT ts, count(*) AS n, max(value) AS mx FROM events WHERE ts BETWEEN " +
          s"TIMESTAMP '${day(2 + 5 * p)} 00:00:00' AND TIMESTAMP '${day(5 + 5 * p)} 00:00:00' " +
          "GROUP BY RANGE(ts) EVERY (2, HOUR) FILL (PREVIOUS)").collect()),
      "tsAggregate" -> (p => cat.tsAggregate("events",
        1704153600000L + p * 432000000L, 1704326400000L + p * 432000000L,
        "value", "AVERAGE").collect()))
    ops.foreach { case (name, op) =>
      val (compiled, second) = compilesAtSecondValue(op)
      assert(second.nonEmpty, s"$name: empty result")
      assert(compiled == 0, s"$name compiled $compiled classes at a second value")
    }
  }

  private val schema = StructType(Seq(
    StructField("b", BooleanType), StructField("y", ByteType),
    StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType)))

  /** A parquet table holding edge values of every primitive type, read
    * back so the literals meet a real scan (a local relation would be
    * folded away by the optimizer). */
  private lazy val typed: DataFrame = {
    val data = Seq(
      Row(true, -128.toByte, Short.MinValue, Int.MinValue, Long.MinValue, Float.NaN,
        Double.NegativeInfinity, Date.valueOf("1900-01-01"),
        Timestamp.from(Instant.parse("1969-12-31T23:59:59.999999Z")),
        LocalDateTime.parse("1950-06-01T12:00:00.000001")),
      Row(false, 0.toByte, 0.toShort, 0, 0L, -0.0f, Double.NaN,
        Date.valueOf("1969-12-31"), Timestamp.from(Instant.parse("1970-01-01T00:00:00Z")),
        LocalDateTime.parse("1970-01-01T00:00:00")),
      Row(true, 127.toByte, Short.MaxValue, Int.MaxValue, Long.MaxValue, Float.PositiveInfinity,
        Double.PositiveInfinity, Date.valueOf("2024-02-29"),
        Timestamp.from(Instant.parse("2024-01-02T03:04:05.123456Z")),
        LocalDateTime.parse("2024-01-02T03:04:05.123456")),
      Row(false, -3.toByte, -7.toShort, -42, -5L, -2.5f, -1.5, Date.valueOf("1969-07-20"),
        Timestamp.from(Instant.parse("1960-01-01T00:00:00.000001Z")),
        LocalDateTime.parse("1969-12-31T23:59:59.999999")),
      Row(null, null, null, null, null, null, null, null, null, null))
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen_reuse").toString + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("literals of every primitive type return what the interpreted path returns") {
    val values: Seq[(String, Seq[Any])] = Seq(
      "b" -> Seq(true, false),
      "y" -> Seq(-3.toByte, 127.toByte),
      "s" -> Seq(-7.toShort, Short.MinValue),
      "i" -> Seq(-42, Int.MinValue, 7),
      "l" -> Seq(-5L, Long.MinValue, Long.MaxValue),
      "f" -> Seq(-2.5f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f),
      "d" -> Seq(-1.5, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity),
      "dt" -> Seq(LocalDate.parse("1969-07-20"), LocalDate.parse("1900-01-01")),
      "ts" -> Seq(Instant.parse("1969-12-31T23:59:59.999999Z"),
        Instant.parse("1960-01-01T00:00:00.000001Z")),
      "ntz" -> Seq(LocalDateTime.parse("1969-12-31T23:59:59.999999")))
    val aggKinds = Set.newBuilder[String]
    for ((c, vs) <- values; v <- vs) {
      val l: Column = lit(v)
      val x = col(c)
      val queries: Seq[() => DataFrame] = Seq(
        () => typed.select(l.as("k"), x === l, x < l, coalesce(x, l), greatest(x, l),
          when(x > l, l).otherwise(x)),
        () => typed.filter(x >= l || x.isNull).select(x, l.as("k")),
        () => typed.groupBy((x === l).as("g")).agg(count(lit(1)).as("n"),
          max(coalesce(x, l)).as("m"), min(when(x =!= l, x)).as("lo")),
        () => typed.groupBy((x === l).as("g"))
          .agg(sort_array(collect_list(coalesce(x, l))).as("m")),
        () => typed.groupBy((x < l).as("g")).agg(max(struct(coalesce(x, l), x)).as("m")))
      queries.foreach { q =>
        val df = q()
        val got = rows(df)
        val plan = df.queryExecution.executedPlan
        assert(params(plan).nonEmpty, s"$c = $v: no literal was parameterized\n$plan")
        aggKinds ++= collect(plan) {
          case a @ (_: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec) =>
            a.nodeName
        }
        assert(got == interpreted(rows(q())), s"$c = $v differs from the interpreted path")
      }
    }
    assert(aggKinds.result() == Set("HashAggregate", "ObjectHashAggregate", "SortAggregate"))
  }

  test("parameterized literals print as literals and keep parquet pushdown") {
    assert(ParamLiteral(3600000000L, LongType).toString == Literal(3600000000L).toString)
    assert(ParamLiteral(-1.5, DoubleType).sql == Literal(-1.5).sql)
    val q = typed.filter(col("l") > lit(-6L) && col("d") < lit(2.5)).select(col("i"))
    assert(rows(q) == Seq("[-42]"))
    val plan = q.queryExecution.executedPlan
    assert(params(plan).nonEmpty)
    val text = plan.toString
    assert(text.contains("GreaterThan(l,-6)") && text.contains("LessThan(d,2.5)"),
      s"pushed filters lost their literals\n$text")
    assert(text.contains("(l#") && text.contains("> -6)") && !text.contains("param"),
      s"filter no longer prints its literal\n$text")
    // TQL EXPLAIN ANALYZE rows describe the executed (rewritten) plan
    val ev = Tables.container(spark, sfDir, "events")
    val explain = TqlCompiler.run(ev,
        "explain analyze select * where value > 123.5 and user_id < 77")
      .select("VALUE_STRING").collect().map(_.getString(0)).mkString("\n")
    assert(explain.contains("> 123.5)") && explain.contains("< 77)") &&
      !explain.contains("param"), explain)
  }

  test("window frame bounds and lag offsets are untouched") {
    val w = Window.orderBy(col("i"))
    val q = () => typed.filter(col("i").isNotNull).select(col("i"),
      sum(col("i").cast("long")).over(w.rowsBetween(-2, 1)).as("s"),
      lag(col("i"), 2).over(w).as("p"))
    val want = Seq(
      s"[${Int.MinValue},${Int.MinValue.toLong - 42},null]",
      s"[-42,${Int.MinValue.toLong - 42},null]",
      s"[0,${Int.MinValue.toLong - 42 + Int.MaxValue},${Int.MinValue}]",
      s"[${Int.MaxValue},${Int.MaxValue.toLong - 42},-42]").sorted
    val run = q()
    assert(rows(run) == want)
    assert(interpreted(rows(q())) == want)
    val windows = collect(run.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.expressions.forall(_.find(_.isInstanceOf[ParamLiteral]).isEmpty)))
  }
}
