package graft

import graft.pipeline.{IvfIndex, Similarity}
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkTestBase {

  test("indexed IVF reproduces ivfTopK exactly and prunes to probed lists") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString

    IvfIndex.build(e, "vec_id", "embedding", path, nLists = 8)
    val indexed = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 2)
    val direct = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 2)

    val a = indexed.select("q_id", "c_id", "cos", "rk").collect().toSet
    val b = direct.select("q_id", "c_id", "cos", "rk").collect().toSet
    assert(a == b, s"indexed vs direct diverged:\nonly-indexed=${a -- b}\nonly-direct=${b -- a}")
    assert(a.nonEmpty)

    // the inverted lists are real: the vectors scan prunes on the cluster
    // partition directory, reading only the probed lists
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition pruning in:\n$plan")
  }

  test("over-limit query batch: shuffle-join fallback, same results, pruning kept") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_big").toString
    IvfIndex.build(e, "vec_id", "embedding", path, nLists = 8)
    val small = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 2)
    // force the over-limit path: 20 queries > maxBroadcastQueries=3
    val big = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 2, maxBroadcastQueries = 3L)
    assert(small.collect().toSet == big.collect().toSet)
    val plan = big.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), s"over-limit path still broadcasts:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      "pruning must survive the fallback (probed-list collect is nLists-bounded)")
  }

  test("centroid cell budget: absurd nLists x dim is refused with a clear error") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val err = intercept[IllegalArgumentException] {
      // dim is 64 at this SF -> 600k lists x 64 = 38.4M cells >> 4M budget; the
      // guard fires in ivfCentroids before any job touches the corpus
      Similarity.kmeansAssign(e, "vec_id", "embedding", k = 600000)
    }
    assert(err.getMessage.contains("centroid cells"), err.getMessage)
  }

  test("append assigns with saved centroids; appended vectors are found") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val base = e.filter(col("vec_id") < 150)
    val extra = e.filter(col("vec_id") >= 150)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx3").toString
    IvfIndex.build(base, "vec_id", "embedding", path, nLists = 8)
    IvfIndex.append(extra, "vec_id", "embedding", path)
    assert(spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors").count() == e.count())
    // an appended vector must be findable as its own exact neighbor set's
    // member: query WITH one of the appended ids, probing all lists
    val q = e.filter(col("vec_id") === 150)
    val got = IvfIndex.topK(spark, path, q, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .select("c_id").collect().map(_.getLong(0))
    assert(got.length == 5 && !got.contains(150L))
  }

  test("append staleness: fraction tracked, threshold reported, auto-retrain swaps fresh centroids") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val base = e.filter(col("vec_id") < 120)
    val nBase = base.count()
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx4").toString
    IvfIndex.build(base, "vec_id", "embedding", path, nLists = 8)
    assert(IvfIndex.appendedFraction(spark, path) == 0.0)
    assert(!IvfIndex.needsRetrain(spark, path))
    // small append: fraction advances, centroids stay frozen
    val centsBefore = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1)).toSeq
    val small = e.filter(col("vec_id") >= 120 && col("vec_id") < 130)
    val f1 = IvfIndex.append(small, "vec_id", "embedding", path)
    assert(math.abs(f1 - small.count().toDouble / nBase) < 1e-12)
    assert(!IvfIndex.needsRetrain(spark, path))
    assert(spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1)).toSeq == centsBefore)
    // push PAST the 0.5 threshold without autoRetrain: the index keeps
    // serving frozen centroids but reports the rebuild is due
    val big = e.filter(col("vec_id") >= 130 && col("vec_id") < 220)
    val f2 = IvfIndex.append(big, "vec_id", "embedding", path)
    assert(f2 >= 0.5 && IvfIndex.needsRetrain(spark, path))
    assert(spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1)).toSeq == centsBefore)
    // over-threshold append WITH autoRetrain: rebuilds from the full
    // on-disk set, resets the counter, and every vector stays indexed
    val more = e.filter(col("vec_id") >= 220 && col("vec_id") < 230)
    val f3 = IvfIndex.append(more, "vec_id", "embedding", path, autoRetrain = true)
    assert(f3 == 0.0)
    assert(IvfIndex.appendedFraction(spark, path) == 0.0)
    val centsAfter = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1)).toSeq
    assert(centsAfter != centsBefore, "auto-retrain must refresh centroids")
    assert(spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors").count() ==
      e.filter(col("vec_id") < 230).count())
  }

  test("build is re-runnable (overwrite) and centroids round-trip") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx2").toString
    IvfIndex.build(e, "vec_id", "embedding", path, nLists = 4)
    IvfIndex.build(e, "vec_id", "embedding", path, nLists = 4) // overwrite ok
    val cents = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/centroids")
    assert(cents.count() == 4)
    assert(cents.schema.fieldNames.toSeq == Seq("cluster", "cv"))
    // every corpus vector is assigned to exactly one stored list
    val n = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors").count()
    assert(n == e.count())
  }

  test("sq8 codec: 4x-smaller lists, pruning kept, near-exact recall, fused-kernel scoring") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 3)
    val raw = java.nio.file.Files.createTempDirectory("graft_ivf_raw").toString
    val sq = java.nio.file.Files.createTempDirectory("graft_ivf_sq").toString
    IvfIndex.build(e, "vec_id", "embedding", raw, nLists = 8)
    IvfIndex.build(e, "vec_id", "embedding", sq, nLists = 8, codec = "sq8")

    def treeSize(p: String): Long = graft.engine.TableStats.treeSize(p)
    val (szR, szS) = (treeSize(s"${IvfIndex.dataRoot(spark, raw)}/vectors"),
      treeSize(s"${IvfIndex.dataRoot(spark, sq)}/vectors"))
    assert(szS < szR / 2, s"sq8 lists $szS not <2x smaller than raw $szR")

    val rk = IvfIndex.topK(spark, raw, queries, "vec_id", "embedding", k = 5, nProbe = 2)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sk = IvfIndex.topK(spark, sq, queries, "vec_id", "embedding", k = 5, nProbe = 2)
    val plan = sk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition pruning in:\n$plan")
    assert(plan.contains("graft_sq_cosine"), "expected the fused ADC kernel in the plan")
    val skSet = sk.select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(skSet.size == rk.size)
    val recall = (skSet & rk).size.toDouble / rk.size
    assert(recall >= 0.85, s"sq8-index recall vs raw index = $recall")
  }

  test("sq8 codec: append encodes with SAVED stats (out-of-range saturates); retrain keeps codec") {
    import spark.implicits._
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_sqa").toString
    IvfIndex.build(e, "vec_id", "embedding", path, nLists = 4, codec = "sq8")

    // vectors far outside the trained range: codes must clamp, the rows
    // must still be findable (as their clamped reconstructions)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val wild = Seq((900001L, Array.fill(dim)(99.0f)), (900002L, Array.fill(dim)(-99.0f)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(wild, "vec_id", "embedding", path)
    val codes = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors")
      .filter(col("id") >= 900000L).select("codes")
      .as[Array[Int]].collect()
    assert(codes.length == 2)
    assert(codes.forall(_.forall(c => c >= 0 && c <= 255)))
    assert(codes.exists(_.forall(_ == 255)) && codes.exists(_.forall(_ == 0)))

    // probing WITH one of the appended vectors finds it as its own
    // nearest clamped reconstruction's neighbor set is nonempty
    val q = wild.filter(col("vec_id") === 900001L)
    val got = IvfIndex.topK(spark, path, q, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect()
    assert(got.nonEmpty)

    IvfIndex.retrain(spark, path)
    val after = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors")
    assert(after.columns.contains("codes"), "retrain must keep the sq8 codec")
    assert(new java.io.File(s"${IvfIndex.dataRoot(spark, path)}/sqstats").exists, "retrain must rewrite sqstats")
    val got2 = IvfIndex.topK(spark, path, q, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect()
    assert(got2.nonEmpty)
  }

  // ---- filtered ANN (r14, verdict #2) ----

  test("filtered serve == in-memory filtered kernel; probe widens by selectivity; pruning kept") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_fidx").toString
    IvfIndex.build(e, "vec_id", "embedding", path, nLists = 16, attrCols = Seq("label"))

    val pred = col("label") < 5
    val indexed = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 10, predicate = Some(pred))
    val direct = Similarity.ivfTopKFiltered(e, queries, "vec_id", "embedding",
      k = 10, predicate = pred, nLists = 16)
    val a = indexed.select("q_id", "c_id", "cos", "rk").collect().toSet
    val b = direct.select("q_id", "c_id", "cos", "rk").collect().toSet
    assert(a == b, s"indexed vs direct filtered diverged:\n${(a -- b) ++ (b -- a)}")
    assert(a.nonEmpty)
    // every returned candidate satisfies the predicate
    val labels = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors")
      .select(col("id"), col("label")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.forall(r => labels(r.getLong(1)) < 5))
    // label<5 keeps ~half -> overfetch widens 4 to ~8 of 16, still pruned:
    // the scan's partition filter must exist AND not cover all 16 lists
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition pruning in:\n$plan")
  }

  test("filtered serve recall: the filter-surviving true neighbor is found (post-filter would lose it)") {
    // planted corpus with labels: each query's plant shares its label,
    // 2/3 of distractors do not — the exact case where post-filtering an
    // unfiltered top-k returns the wrong rows
    val (embsP, _) = graft.tools.Planted.embCorpus(spark)
    val labeled = embsP.withColumn("label", (col("vec_id") % 10000L % 3L).cast("int"))
    val fq = labeled.filter(col("vec_id") < 20 && col("label") === 0)
    val nQ = fq.count()
    val res = Similarity.ivfTopKFiltered(labeled, fq, "vec_id", "embedding",
      k = 10, predicate = col("label") === 0, nLists = 16)
    val rows = res.select("q_id", "c_id").collect()
    assert(rows.forall(r => (r.getLong(1) % 10000L % 3L) == 0L),
      "a candidate violating the predicate was returned")
    val hits = rows.count(r => r.getLong(1) == r.getLong(0) + 10000L)
    assert(hits >= nQ - 1, s"filtered recall $hits/$nQ below the planted floor")
  }

  test("selectivity guard: sub-cutoff predicates brute-force the subset exactly") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val pred = col("vec_id") % 67 === 3 // ~1.5% < 2% cutoff
    val got = Similarity.ivfTopKFiltered(e, queries, "vec_id", "embedding",
      k = 10, predicate = pred, nLists = 16)
    val exact = Similarity.bruteForceTopK(e.filter(pred), queries,
      "vec_id", "embedding", k = 10)
    assert(got.collect().toSet == exact.collect().toSet)
    // the INDEX serve accepts the same predicate spelled with the
    // caller's id column name (the tree stores it as `id` — probe-found
    // r14 UNRESOLVED_COLUMN) and takes the same brute-guard path
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_bid").toString
    IvfIndex.build(e, "vec_id", "embedding", path, nLists = 16, attrCols = Seq("label"))
    val served = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 10, predicate = Some(pred))
    assert(served.collect().toSet == exact.collect().toSet)
  }

  test("sq8 filtered serve: predicate composes with the coded lists, parity with raw-filtered ranks") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val pred = col("label") < 5
    val raw = java.nio.file.Files.createTempDirectory("graft_ivf_fr").toString
    val sq = java.nio.file.Files.createTempDirectory("graft_ivf_fsq").toString
    IvfIndex.build(e, "vec_id", "embedding", raw, nLists = 16, attrCols = Seq("label"))
    IvfIndex.build(e, "vec_id", "embedding", sq, nLists = 16, codec = "sq8",
      attrCols = Seq("label"))
    val a = IvfIndex.topK(spark, raw, queries, "vec_id", "embedding", k = 10,
      predicate = Some(pred)).select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = IvfIndex.topK(spark, sq, queries, "vec_id", "embedding", k = 10,
      predicate = Some(pred)).select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same probe/prune/filter machinery; SQ8 reconstruction error may
    // permute near-ties, so compare the candidate SETS with a near-exact
    // overlap floor (the unfiltered sq8 test uses the same discipline)
    assert(b.nonEmpty)
    val overlap = (a & b).size.toDouble / a.size
    assert(overlap >= 0.9, f"sq8-filtered vs raw-filtered overlap $overlap%.2f")
    // every sq8-filtered candidate satisfies the predicate
    val labels = spark.read.parquet(s"${IvfIndex.dataRoot(spark, sq)}/vectors")
      .select(col("id"), col("label")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b.forall { case (_, c) => labels(c) < 5 })
  }

  test("attr columns survive append and retrain") {
    import spark.implicits._
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_attr").toString
    IvfIndex.build(e.filter(col("vec_id") < 400), "vec_id", "embedding", path,
      nLists = 8, attrCols = Seq("label"))
    // append rows carrying the attr column by name
    val extra = e.filter(col("vec_id") >= 400)
    IvfIndex.append(extra, "vec_id", "embedding", path)
    val tree = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors")
    assert(tree.columns.contains("label"))
    assert(tree.filter(col("label").isNull).count() == 0)
    val nBefore = tree.count() // materialize BEFORE retrain swaps the files
    // filtered serve sees appended rows under the predicate
    val q = e.filter(col("vec_id") < 2)
    val res = IvfIndex.topK(spark, path, q, "vec_id", "embedding", k = 50,
      nProbe = 8, predicate = Some(col("label") === 2))
    assert(res.count() > 0)
    IvfIndex.retrain(spark, path)
    val after = spark.read.parquet(s"${IvfIndex.dataRoot(spark, path)}/vectors")
    assert(after.columns.contains("label"), "retrain must carry attr columns")
    assert(after.count() == nBefore)
  }

  test("attrPartitionBy: (cluster, label) directory layout — dir-level pruning, parity, scheme survives append+retrain") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val flat = java.nio.file.Files.createTempDirectory("graft_ivf_flat").toString
    val part = java.nio.file.Files.createTempDirectory("graft_ivf_part").toString
    IvfIndex.build(e, "vec_id", "embedding", flat, nLists = 16,
      attrCols = Seq("label"))
    IvfIndex.build(e, "vec_id", "embedding", part, nLists = 16,
      attrCols = Seq("label"), attrPartitionBy = Seq("label"))
    // physical layout: label subdirs under each cluster dir
    val root = IvfIndex.dataRoot(spark, part)
    val c0 = new java.io.File(s"$root/vectors").listFiles()
      .filter(_.getName.startsWith("cluster=")).head
    assert(c0.listFiles().exists(_.getName.startsWith("label=")),
      s"expected label= subdirs under ${c0.getName}")
    // the predicate prunes at the DIRECTORY level: label appears in the
    // scan's PartitionFilters (the same pin the cluster-pruning test
    // uses), not as a pushed data filter over every file
    val tree = spark.read.parquet(s"$root/vectors")
    val prunedPlan = tree.filter(col("label") === 3)
      .queryExecution.executedPlan.toString
    val pf = prunedPlan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("label"),
      s"label=3 must be a partition filter, got: $pf")
    // serve parity with the flat layout, on both guard paths
    for (pred <- Seq(col("label") < 5, col("label") === 3 && col("vec_id") % 67 === 3)) {
      val a = IvfIndex.topK(spark, flat, queries, "vec_id", "embedding",
        k = 10, predicate = Some(pred)).collect().map(_.toString).toSet
      val b = IvfIndex.topK(spark, part, queries, "vec_id", "embedding",
        k = 10, predicate = Some(pred)).collect().map(_.toString).toSet
      assert(a == b, s"partitioned layout diverged for $pred")
    }
    // appends and retrains preserve the recorded scheme
    val extra = e.withColumn("vec_id", col("vec_id") + 100000L)
      .filter(col("vec_id") < 100100L)
    IvfIndex.append(extra, "vec_id", "embedding", part)
    IvfIndex.retrain(spark, part)
    val root2 = IvfIndex.dataRoot(spark, part)
    val c02 = new java.io.File(s"$root2/vectors").listFiles()
      .filter(_.getName.startsWith("cluster=")).head
    assert(c02.listFiles().exists(_.getName.startsWith("label=")),
      "retrain must preserve the attr-partition scheme")
  }

  test("attrPartitionBy pins attr types through directory names and rejects NULL values (r15 ADVICE)") {
    import org.apache.spark.sql.types.StringType
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 300)
    // numeric-LOOKING string labels, including a leading zero that breaks
    // under int round-tripping ("042" -> 42 -> "42")
    val tagged = e.withColumn("tag",
      concat(lit("0"), (col("vec_id") % 3).cast("string")))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_pin").toString
    IvfIndex.build(tagged, "vec_id", "embedding", path,
      nLists = 8, attrCols = Seq("tag"), attrPartitionBy = Seq("tag"))
    val queries = tagged.filter(col("vec_id") < 3)
    val res = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 10, nProbe = 8, predicate = Some(col("tag") === "01"))
    assert(res.count() > 0, "string predicate over a numeric-looking partition label found no rows")
    // under int inference, `tag = '1'` would CAST-match the rows labeled
    // "01" — with the pinned string type it must match nothing, exactly
    // like the flat layout
    assert(IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 10, nProbe = 8, predicate = Some(col("tag") === "1")).count() == 0,
      "'1' matched '01'-labeled rows: partition type inference leaked through")
    // flat layout parity: same rows under the same predicate
    val flat = java.nio.file.Files.createTempDirectory("graft_ivf_pin_flat").toString
    IvfIndex.build(tagged, "vec_id", "embedding", flat,
      nLists = 8, attrCols = Seq("tag"))
    val a = IvfIndex.topK(spark, flat, queries, "vec_id", "embedding",
      k = 10, nProbe = 8, predicate = Some(col("tag") === "01"))
      .collect().map(_.toString).toSet
    val b = res.collect().map(_.toString).toSet
    assert(a == b, "partitioned layout diverged from flat under type pinning")
    // appends keep the pinned type too
    val extra = tagged.withColumn("vec_id", col("vec_id") + 200000L)
      .limit(50)
    IvfIndex.append(extra, "vec_id", "embedding", path)
    val after = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 10, nProbe = 8, predicate = Some(col("tag") === "01"))
    assert(after.count() > 0)
    // NULL partition values are rejected at build AND append
    val withNull = tagged.withColumn("tag",
      when(col("vec_id") === 5, lit(null: String)).otherwise(col("tag")))
    val npath = java.nio.file.Files.createTempDirectory("graft_ivf_null").toString
    val eb = intercept[IllegalArgumentException] {
      IvfIndex.build(withNull, "vec_id", "embedding", npath,
        nLists = 8, attrCols = Seq("tag"), attrPartitionBy = Seq("tag"))
    }
    assert(eb.getMessage.contains("non-null"))
    val ea = intercept[IllegalArgumentException] {
      IvfIndex.append(withNull.withColumn("vec_id", col("vec_id") + 300000L),
        "vec_id", "embedding", path)
    }
    assert(ea.getMessage.contains("non-null"))
    // and the serve-path schema really is the recorded one
    val pinnedTree = IvfIndex.topK(spark, path, queries, "vec_id", "embedding",
      k = 2, nProbe = 8, predicate = Some(col("tag").isNotNull))
    assert(pinnedTree.count() > 0)
    val root = IvfIndex.dataRoot(spark, path)
    // raw inference WOULD have made it an int — prove the divergence is real
    val inferred = spark.read.parquet(s"$root/vectors").schema("tag").dataType
    assert(inferred != StringType,
      "fixture no longer triggers inference drift; pick labels that do")
  }

  test("append count: an Observation that never delivers falls back after the bounded wait, leaving no blocked thread") {
    import scala.concurrent.duration.DurationInt
    import scala.jdk.CollectionConverters._
    val delivered = org.apache.spark.sql.Observation("graft_spec_delivered")
    spark.range(7).observe(delivered, count(lit(1)).as("n")).collect()
    assert(IvfIndex.observedCount(delivered, 10.seconds)(-1L) == 7L)

    // never attached to a plan: its future never completes
    val stranded = org.apache.spark.sql.Observation("graft_spec_stranded")
    assert(IvfIndex.observedCount(stranded, 200.millis)(42L) == 42L)
    val blocked = Thread.getAllStackTraces.asScala.collect {
      case (t, stack) if t.isAlive && stack.exists(f =>
          f.getClassName == "org.apache.spark.sql.Observation" &&
            f.getMethodName.startsWith("get")) => t.getName
    }
    assert(blocked.isEmpty, s"threads left blocked in Observation.get: ${blocked.mkString(", ")}")
  }
}
