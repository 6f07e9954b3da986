package graft

import graft.queries.Registry
import graft.tools.Golden

/** Registry growth discipline: every registered query must be VERIFIED —
  * either it carries a DuckDB oracle (the driver's Verify pipeline
  * hash-checks it every round) or it is golden-pinned (GoldenSpec holds its
  * sf0.01 result hash). A query registered with neither would sail through
  * CI unchecked; this spec makes that a build-time failure instead.
  */
class RegistrySpec extends SparkTestBase {

  test("query names are unique (no silent shadowing in byName)") {
    val dup = Registry.all.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dup.isEmpty, s"duplicate query names: ${dup.mkString(", ")}")
  }

  test("every registered query is verified: oracle-checked or golden-pinned") {
    val unverified = Registry.all
      .filter(q => q.oracle.isEmpty && !Golden.names.contains(q.name))
      .map(_.name)
    assert(unverified.isEmpty,
      s"queries with neither a DuckDB oracle nor a golden pin: " +
        s"${unverified.mkString(", ")} — add an oracle or pin via runMain graft.tools.Golden")
  }

  test("golden list refers only to registered queries") {
    val ghost = Golden.names.filterNot(Registry.byName.contains)
    assert(ghost.isEmpty, s"golden pins for unregistered queries: ${ghost.mkString(", ")}")
  }

  test("SparkEntry mirrors the registry exactly (driver contract)") {
    assert(SparkEntry.queries.keySet == Registry.all.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet ==
      Registry.all.filter(_.oracle.nonEmpty).map(_.name).toSet)
  }

  test("no-oracle rows are tagged Terminal/Bound with resolving full-oracle companions (r14 #7)") {
    val noOracle = Registry.all.filter(_.oracle.isEmpty)
    // every rows-only row declares WHY it has no oracle
    val untagged = noOracle.filter(_.noOracle.isEmpty).map(_.name)
    assert(untagged.isEmpty, s"rows-only queries without a NoOracle tag: $untagged")
    // and every full-oracle row carries NO tag (the tag would be a lie)
    val misTagged = Registry.all
      .filter(q => q.oracle.nonEmpty && q.noOracle.nonEmpty).map(_.name)
    assert(misTagged.isEmpty, s"oracle-checked queries carrying a NoOracle tag: $misTagged")
    noOracle.foreach { q =>
      val tag = q.noOracle.get
      assert(tag.reason.trim.nonEmpty, s"${q.name}: empty NoOracle reason")
      assert(tag.companions.nonEmpty,
        s"${q.name}: a no-oracle row needs at least one full-oracle companion " +
          "that checks its guarantees (bound/md5-seam/parity row)")
      tag.companions.foreach { c =>
        val comp = Registry.byName.get(c)
        assert(comp.isDefined, s"${q.name}: companion '$c' is not registered")
        assert(comp.get.oracle.nonEmpty,
          s"${q.name}: companion '$c' has no oracle — a bound companion must " +
            "itself be driver-value-checked")
      }
    }
  }

  test("maxSf: known-quadratic baselines are capped and the guard fires at scale dirs (r13 #5)") {
    // the exact-O(N²) baselines and pair-set-recomputing bounds — every
    // entry here exists to CHECK a scalable kernel at the driver SF
    val quadratic = Set("q_dedup_embedding", "q_dedup_minhash_bound",
      "q_dedup_lsh_pairs_bound", "q_dedup_semantic",
      "q_dedup_semantic_ivf_bound", "q_pipeline_curation_v3_keep_bound")
    val unflagged = quadratic.filter(n => Registry.byName(n).maxSf.isInfinity)
    assert(unflagged.isEmpty, s"quadratic baselines without maxSf: $unflagged")
    // no benched headline query may be driver-SF-only
    val benchedCapped = Registry.benchQueries.filter(!_.maxSf.isInfinity)
    assert(benchedCapped.isEmpty,
      s"bench queries must be scale paths: ${benchedCapped.map(_.name)}")
    // dir-SF parsing: driver fixtures, ScaleGen replicas, unknown layouts
    assert(Registry.sfOf("/root/testdata/sf0.01") == 0.01)
    assert(Registry.sfOf("/root/testdata/sf0.1") == 0.1)
    assert(math.abs(Registry.sfOf("scaledata/sf10z") - 1.0) < 1e-12)
    assert(math.abs(Registry.sfOf("scaledata/sf100z") - 10.0) < 1e-12)
    assert(Registry.sfOf("scaledata/zipf100").isNaN)
    // the guard: flagged entries refuse scale dirs, pass driver dirs,
    // stay out of the way on unparseable dirs
    val q = Registry.byName("q_dedup_embedding")
    Registry.assertScaleSafe(Seq(q), "/root/testdata/sf0.1")
    Registry.assertScaleSafe(Seq(q), "scaledata/zipf100")
    val err = intercept[IllegalArgumentException] {
      Registry.assertScaleSafe(Seq(q), "scaledata/sf100z")
    }
    assert(err.getMessage.contains("q_dedup_embedding"))
  }

  test("graft.tools holds exactly the tools README's Tools list documents") {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val readme = try src.getLines().toList finally src.close()
    val listed = readme.dropWhile(_ != "## Tools").drop(1)
      .takeWhile(!_.startsWith("## "))
      .collect { case l if l.startsWith("- `") => l.drop(3).takeWhile(_ != '`') }
      .toSet
    val files = new java.io.File("src/main/scala/graft/tools").listFiles()
      .map(_.getName).filter(_.endsWith(".scala")).map(_.stripSuffix(".scala")).toSet
    assert(listed.nonEmpty, "README.md has no \"## Tools\" list")
    assert(files == listed,
      s"undocumented tools: ${(files -- listed).toSeq.sorted.mkString(", ")}; " +
        s"documented but missing: ${(listed -- files).toSeq.sorted.mkString(", ")}")
  }
}
