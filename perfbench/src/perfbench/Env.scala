package perfbench

import org.apache.spark.sql.SparkSession

/** The environment a run records next to its figures, and the run record
  * written to `.bench_out/` in the checkout. */
object Env {

  def fields(spark: SparkSession, w: Workload, seed: Long, seconds: Int, trace: Boolean,
             root: String): Seq[(String, Json.V)] = {
    val sizes = Corpus.sizes(Main.dataRoot(root)).map { case (t, rows, bytes) =>
      t -> Json.raw(s"""{"rows": $rows, "bytes": $bytes}""")
    }
    Seq(
      "workload" -> Json.str(w.name),
      "seed" -> Json.raw(seed.toString),
      "run_seconds" -> Json.raw(seconds.toString),
      "trace" -> Json.raw(trace.toString),
      "nproc" -> Json.raw(Runtime.getRuntime.availableProcessors().toString),
      "master" -> Json.str(spark.sparkContext.master),
      "clients" -> Json.raw(w.clients.toString),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1048576.0),
      "commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")),
      "spark" -> Json.str(spark.version),
      "corpus_version" -> Json.str(Corpus.Version),
      "corpus" -> Json.obj(sizes))
  }

  /** Every op of the untraced window: client, seq, template key, start
    * and end (ns from the first op's start), outcome. */
  def recordOps(root: String, w: Workload, seed: Long, trace: Boolean,
                recs: Seq[Main.Rec]): Unit = {
    val t0 = recs.map(_.startNs).minOption.getOrElse(0L)
    val pw = new java.io.PrintWriter(new java.io.File(s"$root/.bench_out",
      s"ops-${w.name}-seed$seed-trace${if (trace) 1 else 0}.tsv"), "UTF-8")
    try {
      pw.println("client\tseq\top\tstart_ns\tend_ns\tok")
      recs.foreach(r => pw.println(s"${r.op.client}\t${r.op.seq}\t${r.op.key}\t" +
        s"${r.startNs - t0}\t${r.endNs - t0}\t${r.ok}"))
    } finally pw.close()
  }

  def record(root: String, w: Workload, seed: Long, trace: Boolean,
             env: Seq[(String, Json.V)], figures: Seq[(String, Double, String)],
             result: Json.V): Unit = {
    val dir = new java.io.File(s"$root/.bench_out")
    dir.mkdirs()
    val out = Json.obj(Seq(
      "env" -> Json.obj(env),
      "figures" -> Json.obj(figures.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "result" -> result))
    val pw = new java.io.PrintWriter(
      new java.io.File(dir, s"run-${w.name}-seed$seed-trace${if (trace) 1 else 0}.json"), "UTF-8")
    try pw.println(out) finally pw.close()
  }
}
