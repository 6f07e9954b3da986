package perfbench

import graft.engine.{Collection, Container, GraftCatalog, Tables}

/** `tql_iot`: an IoT client issuing short per-container statements against
  * the `events` TimeSeries container and the keyed `orders` and
  * `customer` collections. One closed-loop client.
  *
  * Why: at this size each statement takes 0.1-1 s on 4 cores while the
  * executors are busy for a small share of core time, so the TQL front
  * end, Catalyst and the job/stage count set the latency. A second client
  * would make the shared driver the contended resource, but its ops'
  * overlap doubled the run-to-run spread of throughput and median latency
  * (0.27 and 0.25 of the median over five seeds, against 0.16 and 0.16). */
object TqlIot extends Workload {
  val name = "tql_iot"
  val clients = 1
  // statements are short: a second round brings the JIT to steady state
  val warmRounds = 2
  val params = 8

  val templates: Seq[Template] = Seq(
    "tql_filter_order_limit", "tql_avg", "tql_count", "tql_time_prev",
    "tql_time_next", "tql_time_sampling", "tql_time_window_agg",
    "sql_group_by_range_fill", "sql_match_recognize", "multiget_orders",
    "keyrange_orders", "ts_aggregate", "multiget_customer"
  ).map(Template(_, write = false))

  private def day(d: Int): String = f"2024-01-$d%02d"
  private def ms(d: Int, h: Int = 0): Long =
    Corpus.EventsStartMs + ((d - 1) * 24L + h) * 3600000L

  /** The statement (or API call) of a template at parameter `p`. */
  def describe(t: String, p: Int): String = t match {
    case "tql_filter_order_limit" =>
      s"select * where value > ${100 + 20 * p}.0 and event_type = " +
        s"'${Corpus.EventTypes(p % 5)}' order by ts desc, event_id desc limit 20"
    case "tql_avg" =>
      s"select avg(value) where ts >= TIMESTAMP('${day(2 + 3 * p)}T00:00:00Z') " +
        "and event_type <> 'error'"
    case "tql_count" =>
      s"select count(*) where user_id >= ${p * 150} and user_id < ${p * 150 + 150} " +
        "and value > 40.0"
    case "tql_time_prev" =>
      s"select time_prev(TIMESTAMP('${day(3 + 3 * p)}T${f"${(p * 5) % 24}%02d"}:30:00Z'))"
    case "tql_time_next" =>
      s"select time_next(TIMESTAMP('${day(2 + 3 * p)}T${f"${(p * 7) % 24}%02d"}:15:00Z'))"
    case "tql_time_sampling" =>
      s"select time_sampling(value, TIMESTAMP('${day(1 + 3 * p)}T00:00:00Z'), " +
        s"TIMESTAMP('${day(3 + 3 * p)}T00:00:00Z'), 1, HOUR)"
    case "tql_time_window_agg" =>
      s"select time_window_agg(value, MAX, TIMESTAMP('${day(1 + 3 * p)}T00:00:00Z'), " +
        s"TIMESTAMP('${day(4 + 3 * p)}T00:00:00Z'), 6, HOUR)"
    case "sql_group_by_range_fill" =>
      s"SELECT ts, count(*) AS n, max(value) AS max_value FROM events " +
        s"WHERE event_type = '${Corpus.EventTypes(p % 5)}' AND ts BETWEEN " +
        s"TIMESTAMP '${day(1 + 3 * p)} 00:00:00' AND TIMESTAMP '${day(3 + 3 * p)} 00:00:00' " +
        "GROUP BY RANGE(ts) EVERY (2, HOUR) FILL (PREVIOUS)"
    case "sql_match_recognize" =>
      s"SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id " +
        "ORDER BY ts, event_id MEASURES FIRST(event_id) AS start_event, " +
        "LAST(event_id) AS end_event ONE ROW PER MATCH " +
        s"PATTERN (V{${2 + p / 4},}) DEFINE V AS event_type = '${Corpus.EventTypes(p % 4)}')"
    case "multiget_orders" => s"multiGet(orders, ${orderKeys(p).mkString(",")})"
    case "keyrange_orders" => s"keyRange(orders, ${p * 15000 + 123}, ${p * 15000 + 423})"
    case "ts_aggregate" =>
      s"tsAggregate(events, ${ms(1 + 3 * p)}, ${ms(3 + 3 * p, 12)}, value, " +
        s"${Seq("AVERAGE", "MAXIMUM", "COUNT", "TOTAL")(p % 4)})"
    case "multiget_customer" => s"multiGet(customer, ${custKeys(p).mkString(",")})"
  }

  private def orderKeys(p: Int): Seq[Long] =
    (0 until 20).map(i => (p * 7919L + i * 104729L) % Corpus.BaseOrders)
  private def custKeys(p: Int): Seq[Long] =
    (0 until 10).map(i => (p * 3571L + i * 1543L) % Corpus.BaseCustomers)

  def open(ctx: Ctx, pass: Int): Instance = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    val cat = GraftCatalog.forSession(spark)
    ctx.tracer.span("tables.register") {
      Tables.registerAll(spark, dir)
      cat.register(Tables.container(spark, dir, "events"))
      cat.register(Container("orders", Tables.read(spark, dir, "orders"), Collection,
        keyColumns = Seq("o_orderkey")))
      cat.register(Container("customer", Tables.read(spark, dir, "customer"), Collection,
        keyColumns = Seq("c_custkey")))
    }
    new Instance {
      def exec(op: Op): Outcome = {
        val p = op.param
        val t = op.template.name
        Outcome(t match {
          case _ if t.startsWith("tql_") && !ctx.tracer.on =>
            cat.tqlQuery("events", describe(t, p)).collect().toSeq
          case _ if t.startsWith("tql_") =>
            // what tqlQuery does, with the parser and the compiler timed apart
            val q = ctx.tracer.span("tql.parse")(graft.tql.TqlParser.parse(describe(t, p)))
            ctx.api("tql.compile")(graft.tql.TqlCompiler.compile(cat.get("events"), q))
          case _ if t.startsWith("sql_") => ctx.sql(describe(t, p))
          case "multiget_orders" => ctx.api("catalog.read")(cat.multiGet("orders", orderKeys(p)))
          case "multiget_customer" =>
            ctx.api("catalog.read")(cat.multiGet("customer", custKeys(p)))
          case "keyrange_orders" =>
            ctx.api("catalog.read")(cat.keyRange("orders", Some(p * 15000L + 123),
              Some(p * 15000L + 423)))
          case "ts_aggregate" =>
            ctx.api("catalog.read")(cat.tsAggregate("events", ms(1 + 3 * p),
              ms(3 + 3 * p, 12), "value", Seq("AVERAGE", "MAXIMUM", "COUNT", "TOTAL")(p % 4)))
        })
      }
      def check(op: Op, out: Outcome): Boolean = ctx.goldenCheck(op, out)
    }
  }
}
