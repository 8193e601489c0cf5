package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev harness: run one contract query and attribute its wall time to Spark
  * JOBS and STAGES (the empirical loop of guide §1.1 without the UI, which
  * the bench keeps disabled). Prints per-job wall time and, per stage, task
  * count + executor run time, so a slow query's cost lands on a named plan
  * region instead of a guess. Usage: JobProbe <query> [sfDir] [runs]. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    // hypothesis testing: SPARK_GRAFT_EXTRA_CONF="k=v,k2=v2" overlays confs
    graft.Bench.extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
      .foreach { case (k, v) => b = b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Warmup.run(spark)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(j.jobId, (0L, "?"))
        lines.add(f"  job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e3 / 1e6}%7.3fs  $desc")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val run = info.taskMetrics.executorRunTime
        if (run > 50) lines.add(f"    stage ${info.stageId}%4d tasks=${info.numTasks}%4d " +
          f"execRun=${run / 1e3}%7.2fs  ${info.name.take(90)}")
      }
    })
    names.foreach { name =>
      (1 to runs).foreach { i =>
        lines.clear()
        // -cold replicates Bench's pass hygiene (see Profile.scala)
        if (args.contains("-cold")) graft.functions.Caching.clearSession(spark)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener events drain
        println(f"[$name] run$i total=$dt%.2fs")
        if (i == runs) lines.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
