package graft.tools

import org.apache.spark.sql.{SparkSession, functions => F}
import graft.functions.Similarity

/** Dev harness: measure the two IVF assignment paths — exact bound-pruned
  * assignment (Similarity.assignProbes) and the recall-approximate
  * two-level path (assignProbesHier) — across centroid counts, to quantify
  * what the √k ladder still buys over exact assignment. Both paths spread
  * their input to all cores internally, so the comparison measures the
  * paths, not scan parallelism. Prints steady-state (run 2) execution
  * seconds AND the plan-build wall time per path. Usage:
  *   runMain graft.tools.AssignScale <sfDir> [k1,k2,...] [nProbe] [paths]
  * `paths` (csv of pruned,hier; default both) selects which paths to time.
  */
object AssignScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val ks = (if (args.length > 1) args(1) else "256,1024,4096,10240")
      .split(",").map(_.trim.toInt).toSeq
    val nProbeArg = if (args.length > 2) args(2).toInt else 2
    val paths = (if (args.length > 3) args(3) else "pruned,hier")
      .split(",").map(_.trim).toSet
    val known = Set("pruned", "hier")
    require((paths -- known).isEmpty,
      // fail fast: a typo would otherwise print an all-'not measured' row
      // that could be mistaken for a completed measurement
      s"AssignScale: unknown path(s) ${(paths -- known).mkString(",")}; " +
        s"valid: ${known.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Warmup.run(spark)
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(F.col("vec_id"), F.col("embedding"))
    emb.persist(); val n = emb.count()
    val nProbe = nProbeArg
    ks.foreach { k =>
      // synthetic deterministic centroids: this measures the ASSIGNMENT
      // machinery, not k-means quality
      val cents = Array.tabulate(k, 64)((i, j) => (((i * 64 + j) % 197) - 98) * 0.01f)
      def steady(build: () => org.apache.spark.sql.DataFrame): (Double, Double) = {
        val tb0 = System.nanoTime()
        val df = build()
        df.queryExecution.executedPlan // force analysis+optimization
        val tBuild = (System.nanoTime() - tb0) / 1e9
        var t = 0.0
        (1 to 2).foreach { _ =>
          val t0 = System.nanoTime()
          build().write.format("noop").mode("overwrite").save()
          t = (System.nanoTime() - t0) / 1e9
        }
        (tBuild, t)
      }
      val pruned =
        if (!paths("pruned")) "not measured"
        else {
          val (pb, pt) = steady(() => Similarity.assignProbes(
            emb, "vec_id", "embedding", cents, nProbe))
          f"build=$pb%.2fs steady=$pt%.2fs"
        }
      val hier =
        if (!paths("hier")) "not measured"
        else {
          val (hb, ht) = steady(() => Similarity.assignProbesHier(
            emb, "vec_id", "embedding", cents, nProbe))
          f"build=$hb%.2fs steady=$ht%.2fs"
        }
      println(s"[assignscale] n=$n k=$k pruned: $pruned | hier: $hier")
    }
    spark.stop()
  }
}
