package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnose the q3 sf100z bimodality (r12 scale rehearsal: iterations
  * swing 18-44 s at BOTH width 334 and 256). Two candidate causes with
  * different fixes:
  *  - AQE re-plan variance: the final physical plan differs across
  *    iterations (e.g. a borderline broadcast flip) -> plan problem;
  *  - GC/alloc pacing: same plan, wall tracks collector time -> memory
  *    problem (or just this host).
  * Runs q3 N times, recording wall, the FINAL adaptive plan's join
  * strategy counts (after execution, so AQE has re-planned), and the
  * JVM's GC-time delta per iteration. Usage:
  *   runMain graft.tools.ProbeQ3Variance [sfDir] [iters]
  */
object ProbeQ3Variance {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/scaledata/sf100z")
    val iters = args.lift(1).map(_.toInt).getOrElse(8)
    val width = graft.engine.GraftSession.shuffleWidthFor(
      graft.engine.TableStats.treeSize(sfDir), 32)
    val spark = graft.engine.GraftSession.configure(
      SparkSession.builder().master("local[32]"), shufflePartitions = width)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.GraftSession.prepare(spark)
    println(s"PROBE width=$width")

    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val q = graft.queries.Registry.byName("q3_join_agg_topk")
    q.build(spark, sfDir) // untimed pre-build: registration out of the loop

    for (i <- 1 to iters) {
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val df = q.build(spark, sfDir)
      df.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val gcD = gcMs - gc0
      val plan = df.queryExecution.executedPlan.toString
      def n(s: String) = s.r.findAllIn(plan).size
      println(f"PROBE iter=$i wall=$wall%6.2f s gc=${gcD}%5d ms " +
        f"BHJ=${n("BroadcastHashJoin")} SMJ=${n("SortMergeJoin")} " +
        f"SHJ=${n("ShuffledHashJoin")} skew=${n("isSkew=true")} " +
        f"AQEshuffleReads=${n("AQEShuffleRead")}")
    }
    spark.stop()
  }
}
