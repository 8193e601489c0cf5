package graft.tools

import org.apache.spark.sql.{SparkSession, functions => F}
import graft.functions.Similarity
import graft.sources.Tables

/** Dev harness: measure SemDeDup's scaling contract — within-cluster pair
  * work is quadratic in cluster SIZE, so the cluster COUNT must grow with
  * the corpus (k ∝ n keeps the target cluster size, and therefore the
  * per-row pair budget, constant). Runs Similarity.semDedup on the base
  * fixture and on a ScaleUp'd directory with k scaled by the same factor,
  * steady-state timing (run 2 of 2), and prints rows/removed/time so the
  * SCALE.md row is reproducible, with the cluster shape the in-cluster
  * kernel sees: the largest cluster m_max (its m² work runs in one task)
  * and Σ m(m−1)/2 over the clusters, the most pairs the kernel scores.
  * An optional 4th arg `hier` runs the SCALED leg through the two-level
  * assignment (semDedup(hierAssign=true)) — the end-to-end form of the
  * assignment-stage decomposition. Training (ivfTrain, default iters) is
  * timed on its own and traced by a listener: `train_s`, `train_jobs`, and
  * per job the bytes its tasks sent back to the driver (the init draw,
  * then each iteration's partial sums). Usage:
  *   runMain graft.tools.SemDedupScale <baseDir> <scaledDir> <factor> [hier]
  */
object SemDedupScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: SemDedupScale <baseDir> <scaledDir> <factor>")
    val Array(base, scaled, factorS) = args.take(3)
    val factor = factorS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Warmup.run(spark)

    val hierScaled = args.length > 3 && args(3) == "hier"
    val sc = spark.sparkContext
    /** `body`'s wall seconds, and per job it started (in start order) the
      * task result bytes sent to the driver. */
    def traced[T](body: => T): (T, Double, Seq[Long]) = {
      import org.apache.spark.scheduler._
      val jobBytes = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      val fenced = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
            case Some("semscale-train") =>
              jobBytes.put(j.jobId, 0L)
              j.stageIds.foreach(stageJob.put(_, j.jobId))
            case Some("semscale-fence") => fenced.countDown()
            case _ =>
          }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null && stageJob.containsKey(t.stageId))
            jobBytes.merge(stageJob.get(t.stageId), t.taskMetrics.resultSize,
              (a: java.lang.Long, b: java.lang.Long) => a + b)
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("semscale-train", "training")
        val t0 = System.nanoTime()
        val out = try body finally sc.clearJobGroup()
        val s = (System.nanoTime() - t0) / 1e9
        // a later job's start proves every earlier event was delivered
        sc.setJobGroup("semscale-fence", "listener fence")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        fenced.await(60, java.util.concurrent.TimeUnit.SECONDS)
        import scala.jdk.CollectionConverters._
        (out, s, jobBytes.asScala.toSeq.sortBy(_._1).map(_._2.longValue))
      } finally sc.removeSparkListener(listener)
    }
    def one(dir: String, k: Int, hier: Boolean): Unit = {
      val emb = Tables.load(spark, dir, "embeddings")
        .select(F.col("vec_id"), F.col("embedding"))
      val n = emb.count()
      val (centroids, trainS, resultBytes) = traced(
        Similarity.ivfTrain(emb, "vec_id", "embedding", 64, nCentroids = k))
      println(f"[semscale] dir=$dir k=$k train_s=$trainS%.2f " +
        s"train_jobs=${resultBytes.size} init_bytes=${resultBytes.headOption.getOrElse(0L)} " +
        s"partial_bytes_per_iter=${resultBytes.drop(1).mkString("[", ",", "]")}")
      var removed = 0L
      var t = 0.0
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        removed = Similarity.semDedup(emb, "vec_id", "embedding", 64,
          tau = 0.9, trained = Some(centroids), hierAssign = hier)
          .where(F.col("removed")).count()
        t = (System.nanoTime() - t0) / 1e9
      }
      // the assignment semDedup scores (its default nProbe = 2)
      val sizes = (if (hier) Similarity.assignProbesHier(emb, "vec_id", "embedding",
          centroids, 2)
        else Similarity.assignProbes(emb, "vec_id", "embedding", centroids, 2))
        .groupBy("__cid").count()
        .agg(F.max("count"), F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .head()
      println(f"[semscale] dir=$dir k=$k hier=$hier n=$n removed=$removed " +
        f"steady=$t%.2fs max_cluster=${sizes.getLong(0)} " +
        f"pairs=${sizes.getDouble(1)}%.0f")
    }
    one(base, 64, hier = false)
    one(scaled, 64 * factor, hier = hierScaled)
    spark.stop()
  }
}
