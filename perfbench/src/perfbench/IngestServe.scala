package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.engine.{GraftAuth, GraftCatalog, Tables}

/** `ingest_serve`: one client interleaving writes and reads, about one
  * write to three reads.
  *  - writes: `put` upserts into the keyed TimeSeries container
  *    `pb_sensor` over a fixed key space (its size plateaus), `INSERT OR
  *    REPLACE` into the keyed collection `pb_kv` through GraftDdl,
  *    `ALTER INDEX ... APPEND ... TAG` on an IVF (ANN) index and an exact
  *    DEDUP index, and `ALTER INDEX ... COMPACT` once a round;
  *  - reads: TQL on the container just written, SQL on `pb_kv`, and
  *    GRAFT_ANN_TOPK, GRAFT_DEDUP_GATE and GRAFT_INDEX_STATS on the indexes
  *    being appended.
  * SQL text goes through the GraftExtensions parser with the GraftAuth
  * gate installed: every table is protected, and the benchmark's user holds
  * ALL on the two tables it writes and SELECT on the corpus.
  *
  * Why: index maintenance, DML materialization and index-meta cache
  * invalidation run only here; a cache or gate that wins on a static index
  * but costs after every write shows that cost here. One client keeps every
  * result deterministic: each read is checked against a model of the state
  * kept by the benchmark itself, from the writes it sent. */
object IngestServe extends Workload {
  val name = "ingest_serve"
  val clients = 1
  // the set-up passes' index builds already exercise the write paths
  val warmRounds = 1
  val params = 8

  val templates: Seq[Template] = Seq(
    Template("put_sensor", write = true),
    Template("insert_kv", write = true),
    Template("ann_append", write = true, indexWrite = true),
    Template("dedup_append", write = true, indexWrite = true),
    Template("dedup_compact", write = true, indexWrite = true),
    Template("tql_sensor_count", write = false, weight = 2),
    Template("tql_sensor_window", write = false, weight = 2),
    Template("tql_sensor_max", write = false, weight = 2),
    Template("sql_kv_range", write = false, weight = 2),
    Template("graft_ann_topk", write = false, weight = 2),
    Template("graft_dedup_gate", write = false),
    Template("graft_index_stats", write = false))

  val User = "pb_writer"
  private val Password = "pb-writer-pw"
  private val CorpusTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val WrittenTables = Seq("pb_kv", "pb_sensor")

  val SensorKeys = 2000
  val SensorStartMs: Long = Corpus.EventsStartMs
  val KvKeys = 500
  private val AnnLists = 8
  private val IndexedDocs = 2500

  private val sensorSchema = StructType(Seq(StructField("ts", TimestampType, nullable = false),
    StructField("device", LongType), StructField("value", DoubleType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def tsOf(i: Int) = new java.sql.Timestamp(SensorStartMs + i * 60000L)
  private def isoOf(i: Int) =
    java.time.Instant.ofEpochMilli(SensorStartMs + i * 60000L).toString

  private def randomText(rng: java.util.Random): String =
    Seq.fill(10 + rng.nextInt(20))(Corpus.Vocab(rng.nextInt(Corpus.Vocab.size))).mkString(" ")

  private def randomVec(rng: java.util.Random): Array[Float] = {
    val v = Array.fill(Corpus.VecDim)(rng.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  // the corpus rows the indexes are built from, read once per run
  private var baseVectors = Map.empty[Long, Array[Float]]
  private var baseTexts = Map.empty[String, Long]

  override def prepare(ctx: Ctx): Unit = {
    baseVectors = ctx.spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray).toMap
    baseTexts = ctx.spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
      .where(s"doc_id < $IndexedDocs").collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("doc_id")))
      .groupBy(_._1).map { case (t, ids) => t -> ids.map(_._2).min }
  }

  def open(ctx: Ctx, pass: Int): Instance = {
    val spark = ctx.spark
    val cat = GraftCatalog.forSession(spark)
    val dir = s"${ctx.workDir}/pass$pass"
    // the index writer lock file is created next to the tree, so its
    // parent must exist before the build
    new java.io.File(dir).mkdirs()
    val initRng = new java.util.Random(ctx.seed * 31 + pass)

    // the benchmark's model of the state it wrote
    val sensor = Array.tabulate(SensorKeys)(_ =>
      (initRng.nextInt(64).toLong, initRng.nextInt(100000) / 100.0))
    val kv = mutable.Map[Int, (Long, String)]()
    val vectors = mutable.LinkedHashMap[Long, Array[Float]]()
    val indexedText = mutable.Map[String, Long]()
    var storedDigests = 0L
    // a fresh tree's first commit is version 1; each COMPACT commits one more
    var exactVersion = 1
    var annAppended = 0L
    var nextId = 1000000L

    ctx.tracer.span("tables.register") {
      Tables.registerAll(spark, ctx.dataDir)
      cat.createTimeSeries("pb_sensor", sensorSchema, "ts")
    }
    cat.createUser(User, Some(Password))
    CorpusTables.foreach(cat.grant("SELECT", _, User))
    WrittenTables.foreach(cat.grant("ALL", _, User))
    GraftAuth.install(cat, (CorpusTables ++ WrittenTables).toSet)
    spark.conf.set(GraftAuth.UserKey, User)
    spark.conf.set(GraftAuth.PasswordKey, Password)
    ctx.tracer.span("catalog.put")(cat.put("pb_sensor", spark.createDataFrame(
      sensor.indices.map(i => Row(tsOf(i), sensor(i)._1, sensor(i)._2)).asJava, sensorSchema)))
    ctx.sql("CREATE TABLE pb_kv (k INTEGER PRIMARY KEY, v BIGINT, s STRING)",
      parseLayer = "ddl.create")
    spark.sql(s"SELECT doc_id, text FROM documents WHERE doc_id < $IndexedDocs")
      .createOrReplaceTempView("pb_docs_indexed")
    ctx.sql(s"CREATE OR REPLACE ANN INDEX pb_ing_ann ON embeddings(vec_id, embedding) " +
      s"OPTIONS(lists $AnnLists, path '$dir/ann')", parseLayer = "index.build")
    ctx.sql(s"CREATE OR REPLACE DEDUP INDEX pb_ing_exact ON pb_docs_indexed(doc_id, text) " +
      s"OPTIONS(kind 'exact', path '$dir/exact')", parseLayer = "index.build")
    vectors ++= baseVectors
    indexedText ++= baseTexts
    storedDigests = indexedText.size.toLong

    def knownText(rng: java.util.Random): String =
      indexedText.keysIterator.drop(rng.nextInt(math.min(indexedText.size, 500))).next()
    def batch(rng: java.util.Random, n: Int, copyShare: Double): Seq[(Long, String)] =
      (0 until n).map { _ =>
        nextId += 1
        (nextId, if (rng.nextDouble() < copyShare) knownText(rng) else randomText(rng))
      }
    def docFrame(docs: Seq[(Long, String)]) =
      spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, docSchema)
    def canonRows(rows: Iterable[Seq[Any]]) = Digest.ofCanon(rows.map(r => Digest.canon(Row.fromSeq(r.toSeq))))
    def sensorRows(range: Range) =
      range.map(i => Seq(tsOf(i), sensor(i)._1, sensor(i)._2))
    def kvRows(lo: Int, hi: Int) =
      kv.toSeq.filter { case (k, _) => k >= lo && k < hi }.map { case (k, (v, s)) => Seq(k, v, s) }

    // expected result of each read, computed from the model when the op
    // runs (before the next write can change it)
    val expected = mutable.Map[String, Outcome => Boolean]()

    new Instance {
      def exec(op: Op): Outcome = {
        val rng = new java.util.Random(op.opSeed)
        val p = op.param
        def tql(text: String): Seq[Row] =
          if (!ctx.tracer.on) cat.tqlQuery("pb_sensor", text).collect().toSeq
          else {
            val q = ctx.tracer.span("tql.parse")(graft.tql.TqlParser.parse(text))
            ctx.api("tql.compile")(graft.tql.TqlCompiler.compile(cat.get("pb_sensor"), q))
          }
        def expect(f: Outcome => Boolean): Unit = expected(op.tag) = f
        def expectDigest(d: Digest.Result): Unit = expect(o => Digest.of(o.rows) == d)
        op.template.name match {
          case "put_sensor" =>
            val idx = rng.ints(0, SensorKeys).distinct().limit(50).toArray.toSeq
            val rows = idx.map { i =>
              sensor(i) = (rng.nextInt(64).toLong, rng.nextInt(100000) / 100.0)
              Row(tsOf(i), sensor(i)._1, sensor(i)._2)
            }
            ctx.tracer.span("catalog.put")(
              cat.put("pb_sensor", spark.createDataFrame(rows.asJava, sensorSchema)))
            expect(_ => true)
            Outcome(Nil, rows.size.toLong)
          case "insert_kv" =>
            val ks = rng.ints(0, KvKeys).distinct().limit(20).toArray.toSeq
            val vals = ks.map { k =>
              val v = (rng.nextInt(1000000).toLong, s"s$k-${op.seq}")
              kv(k) = v
              s"($k, ${v._1}, '${v._2}')"
            }
            val out = ctx.sql(s"INSERT OR REPLACE INTO pb_kv VALUES ${vals.mkString(", ")}",
              parseLayer = "ddl.insert")
            expect(_ => true)
            Outcome(out, ks.size.toLong)
          case "ann_append" =>
            val vs = (0 until 20).map { _ => nextId += 1; nextId -> randomVec(rng) }
            spark.createDataFrame(vs.map { case (i, v) => Row(i, v.toSeq) }.asJava, vecSchema)
              .createOrReplaceTempView("pb_ann_batch")
            val out = ctx.sql(s"ALTER INDEX pb_ing_ann APPEND FROM pb_ann_batch " +
              s"TAG 'a${op.tag}'", parseLayer = "index.append")
            vs.foreach { case (i, v) => vectors(i) = v }
            annAppended += vs.size
            expect(_ => true)
            Outcome(out, vs.size.toLong)
          case "dedup_append" =>
            val docs = batch(rng, 30, 0.3)
            docFrame(docs).createOrReplaceTempView("pb_doc_batch")
            val out = ctx.sql(s"ALTER INDEX pb_ing_exact APPEND FROM pb_doc_batch " +
              s"TAG 'd${op.tag}'", parseLayer = "index.append")
            storedDigests += docs.map(_._2).distinct.size
            docs.foreach { case (i, t) =>
              indexedText(t) = math.min(indexedText.getOrElse(t, Long.MaxValue), i) }
            expect(_ => true)
            Outcome(out, docs.size.toLong)
          case "dedup_compact" =>
            val out = ctx.sql("ALTER INDEX pb_ing_exact COMPACT", parseLayer = "index.compact")
            exactVersion += 1
            storedDigests = indexedText.size.toLong
            expect(_ => true)
            Outcome(out)
          case "tql_sensor_count" =>
            val x = p * 100 + rng.nextInt(100)
            expectDigest(canonRows(Seq(Seq(sensor.count(_._2 > x).toLong))))
            Outcome(tql(s"select count(*) where value > $x.0"))
          case "tql_sensor_window" =>
            val s = p * 240 + rng.nextInt(200)
            expectDigest(canonRows(sensorRows(s until s + 30)))
            Outcome(tql(s"select * where ts >= TIMESTAMP('${isoOf(s)}') and " +
              s"ts < TIMESTAMP('${isoOf(s + 30)}') order by ts"))
          case "tql_sensor_max" =>
            val d = (p * 8 + rng.nextInt(8)).toLong
            val vs = sensor.filter(_._1 == d).map(_._2)
            expectDigest(canonRows(Seq(Seq(if (vs.isEmpty) null else vs.max))))
            Outcome(tql(s"select max(value) where device = $d"))
          case "sql_kv_range" =>
            val lo = p * 60 + rng.nextInt(20)
            expectDigest(canonRows(kvRows(lo, lo + 60)))
            Outcome(ctx.sql(s"SELECT k, v, s FROM pb_kv WHERE k >= $lo AND k < ${lo + 60}"))
          case "graft_ann_topk" =>
            val ids = vectors.keys.toIndexedSeq
            val twins = Seq.fill(4)(ids(rng.nextInt(ids.size))).distinct
            val qs = twins.zipWithIndex.map { case (t, i) => (9000000L + i, t) }
            spark.createDataFrame(qs.map { case (q, t) => Row(q, vectors(t).toSeq) }.asJava,
              vecSchema).createOrReplaceTempView("pb_ann_queries")
            val known = vectors.keySet.toSet
            // every probe is a copy of an indexed vector: it must come
            // back first, at cosine 1, and every hit must be indexed
            expect { o =>
              val rows = o.rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
                r.getAs[Double]("cos"), r.getAs[Int]("rk")))
              rows.size == qs.size * 5 && rows.forall(r => known(r._2)) &&
                qs.forall { case (q, t) => rows.exists(r => r._1 == q && r._4 == 1 &&
                  r._2 == t && r._3 == 1.0) }
            }
            Outcome(ctx.sql("SELECT q_id, c_id, cos, rk FROM GRAFT_ANN_TOPK('pb_ing_ann', " +
              s"'pb_ann_queries', 'vec_id', 'embedding', 5, $AnnLists)",
              analyzeLayer = "index.serve_build"))
          case "graft_dedup_gate" =>
            val docs = batch(rng, 20, 0.5)
            docFrame(docs).createOrReplaceTempView("pb_doc_probe")
            val kept = docs.groupBy(_._2).map { case (t, ds) => t -> ds.map(_._1).min }
            expectDigest(canonRows(kept.collect {
              case (t, i) if !indexedText.contains(t) => Seq(i) }))
            Outcome(ctx.sql("SELECT doc_id FROM GRAFT_DEDUP_GATE('pb_ing_exact', " +
              "'pb_doc_probe', 'text', 'doc_id', 'exact')", analyzeLayer = "index.serve_build"))
          case "graft_index_stats" =>
            val (v, n) = (exactVersion, storedDigests)
            expect(o => o.rows.size == 1 && o.rows.head.getInt(0) == v &&
              o.rows.head.getString(1).split(",").contains(s"n_docs=$n"))
            Outcome(ctx.sql("SELECT version, meta FROM GRAFT_INDEX_STATS('pb_ing_exact') " +
              "WHERE current", analyzeLayer = "index.serve_build"))
        }
      }

      def check(op: Op, out: Outcome): Boolean =
        expected.remove(op.tag).exists(f => f(out))

      override def finish(): Seq[(String, Boolean)] = {
        val ex = IndexInfo.stats(ctx, "pb_ing_exact")
        val ann = IndexInfo.stats(ctx, "pb_ing_ann")
        Seq(
          "sensor_container_digest" -> (Digest.of(cat.tqlQuery("pb_sensor", "select *")
            .collect().toSeq) == canonRows(sensorRows(0 until SensorKeys))),
          "kv_digest" -> (Digest.of(spark.sql("SELECT k, v, s FROM pb_kv").collect().toSeq) ==
            canonRows(kvRows(0, KvKeys))),
          "exact_index_version" -> (ex.version == exactVersion),
          "exact_index_rows" -> (ex.rows == storedDigests),
          "ann_index_rows" -> (ann.rows == Corpus.BaseVecs + annAppended))
      }

      override def indexFootprint(): Option[(Long, Long, Long)] =
        Some(IndexInfo.footprint(ctx, Seq("pb_ing_ann", "pb_ing_exact")))
    }
  }
}
