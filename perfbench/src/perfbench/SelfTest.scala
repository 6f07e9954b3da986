package perfbench

/** The benchmark's own tests.
  *  1. The same seed yields the same op list, another seed another one,
  *     for every workload and client.
  *  2. A corrupted expected digest is reported as failed ops: a short
  *     `tql_iot` window runs with the expected digests of one template
  *     corrupted; exactly that template's ops must fail. */
object SelfTest {

  def run(root: String): Boolean = {
    val results = seeded() :+ corrupted(root)
    results.foreach { case (name, ok) =>
      println(s"[perfbench selftest] ${if (ok) "PASS" else "FAIL"} $name") }
    results.forall(_._2)
  }

  private def ops(w: Workload, seed: Long, client: Int): Seq[Op] =
    Ops.stream(w, seed, client).take(300).toSeq

  def seeded(): Seq[(String, Boolean)] = Main.Workloads.flatMap { w =>
    (0 until w.clients).flatMap { c =>
      Seq(
        s"${w.name} client $c: same seed, same ops" -> (ops(w, 1L, c) == ops(w, 1L, c)),
        s"${w.name} client $c: other seed, other ops" -> (ops(w, 1L, c) != ops(w, 2L, c)),
        s"${w.name} client $c: warm pass covers every template" ->
          (Ops.warm(w, 1L).nextRound().map(_.template).toSet == w.templates.toSet))
    }
  }

  def corrupted(root: String): (String, Boolean) = {
    val w = TqlIot
    val victim = "tql_avg"
    val golden = Main.loadGolden(root, w).map { case (k, d) =>
      k -> (if (k.startsWith(victim + "#")) d.copy(digest = "0" * 16) else d)
    }
    val spark = Main.session(root)
    Corpus.ensure(spark, Main.dataRoot(root))
    val ctx = Main.newCtx(spark, new Tracer, 7L, root, golden)
    val inst = w.open(ctx, 1)
    val (recs, _) = Main.window(ctx, inst, Seq(Ops.stream(w, 7L, 0)), 6)
    spark.stop()
    val failed = recs.filterNot(_.ok)
    s"corrupted expected digest of $victim fails exactly its ${failed.size} ops " +
      s"of ${recs.size}" -> (failed.nonEmpty &&
      failed.forall(_.op.template.name == victim) &&
      recs.filter(_.op.template.name == victim).forall(!_.ok))
  }
}
