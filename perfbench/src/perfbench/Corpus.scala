package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The benchmark's data: the TESTDATA star schema (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings) at the shape and size of the sf0.1 TESTDATA directory
  * (150k orders, ~600k lineitem, 100k events from 1500 users over 30
  * days), generated as Spark expressions over `spark.range`. Every value
  * derives from xxhash64 of a fixed tag and the row id, so the corpus is
  * identical on every host and every run; the workload seed draws only
  * the op stream. Because it never changes, a checkout generates it once
  * and reuses it (see [[ensure]]). */
object Corpus {

  /** Bumped whenever a generated value changes; part of the cache key. */
  val Version = "v3"

  val EventsStartMs = 1704067200000L // 2024-01-01 00:00:00 UTC
  val EventsDays = 30
  val BaseUsers = 1500
  val BaseOrders = 150000L
  val BaseCustomers = 15000L
  val BaseDocs = 5000L
  val BaseVecs = 2000L
  val VecDim = 64

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  // TPC-H's fixed nation -> region assignment
  val Nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2,
    "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0,
    "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4,
    "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def u(tag: String, cols: Column*): Column =
    pmod(xxhash64((lit(tag) +: cols): _*), lit(1000000000L)).cast("double") / 1e9

  private def h(tag: String, n: Long, cols: Column*): Column =
    pmod(xxhash64((lit(tag) +: cols): _*), lit(n))

  private def pick(tag: String, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*),
      (h(tag, values.size.toLong, cols: _*) + 1).cast("int"))

  private def gauss(tag: String, cols: Column*): Column =
    sqrt(lit(-2.0) * log(u(tag + "~1", cols: _*) + lit(1e-12))) *
      cos(lit(2.0 * math.Pi) * u(tag + "~2", cols: _*))

  def dir(root: String): String = s"$root/$Version"

  /** (table, rows, bytes) of the generated corpus. */
  def sizes(root: String): Seq[(String, Long, Long)] =
    java.nio.file.Files.readAllLines(new java.io.File(dir(root), "_SIZES.tsv").toPath)
      .asScala.toSeq.map(_.split("\t")).map(a => (a(0), a(1).toLong, a(2).toLong))

  /** Generate the corpus under `root` unless a completed copy exists. */
  def ensure(spark: SparkSession, root: String): Unit = {
    val out = dir(root)
    if (!new java.io.File(out, "_DONE").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      write(spark, out)
      val sizes = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).map { t =>
          s"${t.getName.stripSuffix(".parquet")}\t${spark.read.parquet(t.getPath).count()}" +
            s"\t${org.apache.commons.io.FileUtils.sizeOfDirectory(t)}"
        }
      java.nio.file.Files.write(new java.io.File(out, "_SIZES.tsv").toPath, sizes.toSeq.asJava)
      new java.io.File(out, "_DONE").createNewFile()
    }
  }

  private def write(spark: SparkSession, out: String): Unit = {
    def save(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
    import spark.implicits._
    val nCust = BaseCustomers
    val nOrd = BaseOrders
    val nSupp = 1000L
    val nPart = 20000L

    save(Regions.zipWithIndex.map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"),
      "region", 1)
    save(Nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation", 1)

    save(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h("cn", 25, col("id")).cast("int").as("c_nationkey"),
      round(u("cb", col("id")) * 10000, 2).as("c_acctbal"),
      pick("cs", Segments, col("id")).as("c_mktsegment")), "customer", 2)

    save(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h("sn", 25, col("id")).cast("int").as("s_nationkey"),
      round(u("sb", col("id")) * 10000, 2).as("s_acctbal")), "supplier", 1)

    save(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(lit("part "), col("id")).as("p_name"),
      concat(lit("Brand#"), h("pb", 25, col("id"))).as("p_brand"),
      (h("ps", 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(2000L)).cast("double") / 10, 2)
        .as("p_retailprice")), "part", 1)

    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    save(spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      h("oc", nCust, col("id")).as("o_custkey"),
      when(h("os", 20, col("id")) < 9, "F").when(h("os", 20, col("id")) < 18, "O")
        .otherwise("P").as("o_orderstatus"),
      round(u("ot", col("id")) * 450000 + 1000, 2).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        (u("od", col("id")) * 2800).cast("int")).cast("timestamp").as("o_orderdate"),
      pick("op", priorities, col("id")).as("o_orderpriority")), "orders", 4)

    val line = spark.range(nOrd).select(col("id").as("o"),
      explode(sequence(lit(1), (h("ln", 7, col("id")) + 1).cast("int"))).as("l_linenumber"))
    val lk = Seq(col("o"), col("l_linenumber"))
    save(line.select(
      col("o").as("l_orderkey"),
      h("lp", nPart, lk: _*).as("l_partkey"),
      h("ls", nSupp, lk: _*).as("l_suppkey"),
      col("l_linenumber"),
      (h("lq", 50, lk: _*) + 1).cast("double").as("l_quantity"),
      round(u("le", lk: _*) * 100000 + 900, 2).as("l_extendedprice"),
      (h("ld", 11, lk: _*).cast("double") / 100).as("l_discount"),
      (h("lt", 9, lk: _*).cast("double") / 100).as("l_tax"),
      pick("lr", Seq("R", "A", "N"), lk: _*).as("l_returnflag"),
      pick("ll", Seq("O", "F"), lk: _*).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        (u("lsd", lk: _*) * 2900).cast("int")).cast("timestamp").as("l_shipdate")),
      "lineitem", 4)

    // events: monotone ts with hash jitter over the 30-day window,
    // uniform types, exponential-ish value (mean ~50)
    val nEvents = 100000L
    val spanUs = EventsDays.toLong * 86400L * 1000000L
    save(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(EventsStartMs * 1000L) +
        ((col("id").cast("double") + u("ej", col("id"))) * (spanUs.toDouble / nEvents))
          .cast("long")).as("ts"),
      h("eu", BaseUsers.toLong, col("id")).as("user_id"),
      pick("et", EventTypes, col("id")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u("ev", col("id"))), 2).as("value"),
      concat(lit("{\"k\": "), h("ep", 100, col("id")), lit("}")).as("props")),
      "events", 4)

    // documents: 30-word vocabulary, 10-100 tokens; ~0.5% exact copies of
    // one of the first 100 documents (dedup work)
    val srcId = when(h("dd", 200, col("id")) === 0 && col("id") >= 100,
      h("dpick", 100, col("id"))).otherwise(col("id"))
    val words = transform(sequence(lit(1), (h("dn", 91, srcId) + 10).cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit("dv"), srcId, i), lit(Vocab.size.toLong)) + 1).cast("int")))
    save(spark.range(BaseDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", words).as("text"),
      concat(lit("src"), h("ds", 20, col("id"))).as("source")), "documents", 1)

    // embeddings: unit-normalized, 10 labels with a weak cluster signal
    val label = h("el", 10, col("id"))
    val raw = transform(sequence(lit(0), lit(VecDim - 1)),
      j => gauss("ec", label, j) * lit(0.008) + gauss("en", col("id"), j) * lit(0.125))
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    save(spark.range(BaseVecs).select(
      col("id").as("vec_id"),
      transform(raw, x => (x / nrm).cast("float")).as("embedding"),
      label.cast("int").as("label")), "embeddings", 1)
  }
}
