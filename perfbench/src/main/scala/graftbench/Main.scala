package graftbench

import java.io.{File, FileInputStream, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Internals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.{Caching, Dedup, Similarity}
import graft.kql.KqlParser
import graft.sources.Tables

/** Benchmark client: one JVM, one client thread, closed loop.
  *
  * Usage: `graftbench.Main <spec.properties>`; the spec is written by
  * `perfbench/run.py` and names the workload, the generated inputs and the
  * output directory. Results go to `<out_dir>/result.json` (plus query
  * results and spans); correctness is judged by run.py afterwards. */
object Main {
  def main(args: Array[String]): Unit = {
    val p = new Properties()
    val in = new FileInputStream(args(0))
    try p.load(in) finally in.close()
    new Bench(p).run()
  }
}

final class Bench(p: Properties) {
  private def s(k: String): String =
    Option(p.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"spec: missing $k"))
  private def i(k: String): Int = s(k).toInt

  val workload: String = s("workload")
  val traced: Boolean = s("trace") == "1"
  val cpus: Int = i("cpus")
  val seconds: Double = s("seconds").toDouble
  val dataDir: String = s("data_dir")
  val workDir: String = s("work_dir")
  val outDir: String = s("out_dir")

  val tracer = new Tracer(traced)
  val sched = new SchedulerProbe
  val planning = new PlanningProbe
  var spark: SparkSession = _

  /** latency samples in ms, by operation kind */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val parseMs = mutable.ArrayBuffer.empty[Double]
  val opKind = mutable.HashMap.empty[Long, String]
  var opSeq = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val out = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Largest retained heap seen at a checkpoint, and the wall and GC time
    * checkpoints took (both left out of the engine's figures). */
  var peakLiveBytes = 0L
  var checkpointS = 0.0
  var checkpointGcMs = 0L

  /** Between operations, outside every timed region: a full collection, then
    * the retained heap. The next operation starts on a clean heap. */
  def checkpoint(): Unit = {
    val t0 = nowS
    val gc0 = Jvm.gcMillis
    peakLiveBytes = math.max(peakLiveBytes, Jvm.liveBytes())
    checkpointGcMs += Jvm.gcMillis - gc0
    checkpointS += nowS - t0
  }

  private def sample(kind: String) = samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty)
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def nowS: Double = System.nanoTime() / 1e9

  // ------------------------------------------------------------------
  // set-up
  // ------------------------------------------------------------------

  /** The session settings of graft.Bench, with scratch space kept inside the
    * work directory. */
  def newSession(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    .getOrCreate()

  /** One set-up: session start, extension install, Warmup.run and the first
    * Tables.load of every table the workload reads. */
  def setUp(tables: Seq[String]): Double = {
    val t0 = nowS
    spark = newSession()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Warmup.run(spark)
    tables.foreach(t => Tables.load(spark, dataDir, t))
    nowS - t0
  }

  // ------------------------------------------------------------------
  // operations and layer calls
  // ------------------------------------------------------------------

  /** One client operation: timed, counted, failures caught and recorded. */
  def op[T](kind: String)(body: Long => T): Option[T] = {
    opSeq += 1
    val id = opSeq
    opKind(id) = kind
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"op.$kind", id)(body(id))
      sample(kind) += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: Throwable =>
        errors += s"$kind#$id: ${e.getClass.getName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** A call into one layer, under its own job group `op<id>:<phase>`. */
  def call[T](id: Long, phase: String, layerName: String)(body: => T): T = {
    val g = s"op$id:$phase"
    spark.sparkContext.setJobGroup(g, layerName, interruptOnCancel = false)
    try tracer.span(layerName, id, g)(body)
    finally spark.sparkContext.clearJobGroup()
  }

  def kql(kind: String, text: String, tables: String => DataFrame): Option[Array[Row]] =
    op(kind) { id =>
      val t0 = System.nanoTime()
      val df = call(id, "parse", "kql.parse")(KqlParser.parse(text, tables))
      parseMs += (System.nanoTime() - t0) / 1e6
      call(id, "exec", "spark.action")(df.collect())
    }

  private def lines(path: String): Vector[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toVector.filter(_.nonEmpty)

  private def countFiles(dir: File): (Int, Int) = {
    // (data files, partition directories)
    val parts = Option(dir.listFiles).getOrElse(Array.empty[File]).filter(_.isDirectory)
    (parts.map(d => Option(d.listFiles).getOrElse(Array.empty[File])
      .count(f => f.getName.startsWith("part-"))).sum, parts.length)
  }

  // ------------------------------------------------------------------
  // workloads
  // ------------------------------------------------------------------

  def kqlWarmup(rounds: Int): Unit = {
    val resolve = Tables.resolver(spark, dataDir)
    val texts = lines(s"$dataDir/warmup.txt")
    val templates = i("kql.templates")
    (0 until rounds * templates).foreach { n =>
      kql("query", texts(n % texts.length), resolve)
      if ((n + 1) % templates == 0) checkpoint()
    }
  }

  def kqlInteractive(): Unit = {
    val templates = i("kql.templates")
    val texts = lines(s"$dataDir/queries.txt")
    val resolve = Tables.resolver(spark, dataDir)
    val results = mutable.ArrayBuffer.empty[(Int, String, Array[Row])]
    val deadline = nowS + seconds
    val t0 = nowS
    var n = 0
    // whole rounds of the template cycle only, so every run has the same mix
    while (n == 0 || nowS < deadline || n % templates != 0) {
      val text = texts(n % texts.length)
      kql("query", text, resolve).foreach(rows => results += ((n, text, rows)))
      n += 1
      if (n % templates == 0) checkpoint()
    }
    out("loop_s") = nowS - t0 - checkpointS
    out("queries_issued") = n
    // outside the measured loop: first result of each distinct text goes to
    // the oracle, every repeat must reproduce it exactly
    val first = mutable.LinkedHashMap.empty[String, (Int, String)]
    var repeatMismatch = 0
    results.foreach { case (idx, text, rows) =>
      val enc = Json.rows(rows)
      first.get(text) match {
        case None => first(text) = (idx, enc)
        case Some((_, e)) => if (e != enc) repeatMismatch += 1
      }
    }
    out("repeat_mismatches") = repeatMismatch
    val w = new PrintWriter(s"$outDir/query_results.jsonl", "UTF-8")
    try first.foreach { case (text, (idx, enc)) =>
      w.println(s"""{"i":$idx,"text":${Json.str(text)},"rows":$enc}""")
    } finally w.close()
  }

  private lazy val ingestReads: Map[Int, Vector[String]] =
    lines(s"$dataDir/reads.tsv").map(_.split("\t", 2)).groupBy(_(0).toInt)
      .map { case (c, xs) => c -> xs.map(_(1)) }
  private var ackRows = 0L
  private var filesWritten = 0L
  private val filesPerBucket = mutable.ArrayBuffer.empty[Double]
  private var rowsReturned = 0L

  /** One ingest cycle: append every batch of input cycle `c` into a fresh
    * directory, compact it, then read the compacted table back through KQL. */
  def ingestCycle(c: Int, dir: String, batches: Int): Map[String, Any] = {
    val segDir = s"$dir/segments"
    val compactDir = s"$dir/compacted"
    (0 until batches).foreach { b =>
      val before = if (traced) countFiles(new File(segDir))._1 else 0
      // the client's own read of its batch (file listing, footer) stays
      // outside the sample, which times appendSegment alone
      val batch = spark.read.parquet(s"$dataDir/c$c/b$b.parquet")
      op("append") { id =>
        call(id, "exec", "sources.append")(Tables.appendSegment(batch, segDir))
      }.foreach(_ => ackRows += s("ingest.batch_rows").toLong)
      if (traced) filesWritten += countFiles(new File(segDir))._1 - before
    }
    val compacted = op("compact") { id =>
      call(id, "exec", "sources.compact")(Tables.compact(spark, segDir, compactDir))
    }.isDefined
    if (traced && compacted) {
      val (files, buckets) = countFiles(new File(compactDir))
      filesPerBucket += files.toDouble / math.max(1, buckets)
    }
    val texts = ingestReads.getOrElse(c, Vector.empty)
    val reads = texts.map { text =>
      val rows = kql("read", text, _ => spark.read.parquet(compactDir)).map { rows =>
        rowsReturned += rows.length
        rows.toSeq.map(_.toSeq.map(Json.cell))
      }
      Map("text" -> text, "rows" -> rows)
    }
    Map("input_cycle" -> c, "compact_dir" -> compactDir, "compacted" -> compacted, "reads" -> reads)
  }

  def ingestWarmup(cycles: Int): Unit =
    (0 until cycles).foreach { j =>
      ingestCycle(j % i("ingest.cycles"), s"$workDir/ingest/warmup$j", i("ingest.batches"))
      checkpoint()
    }

  def segmentIngest(): Unit = {
    val nCycles = i("ingest.cycles")
    ackRows = 0L
    filesWritten = 0L
    filesPerBucket.clear()
    rowsReturned = 0L
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = nowS + seconds
    val t0 = nowS
    while (cycles.isEmpty || nowS < deadline) {
      cycles += ingestCycle(cycles.size % nCycles, s"$workDir/ingest/${cycles.size}",
        i("ingest.batches"))
      checkpoint()
    }
    out("loop_s") = nowS - t0 - checkpointS
    out("ack_rows") = ackRows
    out("cycles") = cycles
  }

  private var cachedRdds = 0.0
  private var cachedBytes = 0.0
  private var minhashPairs = Option.empty[Int]

  /** One curation pass over a corpus: the five dedup operators, each one a
    * timed operation that collects its result. */
  def curationPass(dir: String): Map[String, Any] = {
    val docs = Tables.load(spark, dir, "documents")
    val emb = Tables.load(spark, dir, "embeddings")
    def ids(df: DataFrame): Array[Long] = df.collect().map(_.getLong(0)).sorted
    def pairs(df: DataFrame): Seq[Seq[Long]] =
      df.select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
        .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq.sortBy(p => (p(0), p(1)))
    def step[T](kind: String)(body: => T): Option[T] = {
      val r = op(kind)(id => call(id, "exec", s"functions.$kind")(body))
      if (traced) {
        val info = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
        cachedRdds = math.max(cachedRdds, info.length.toDouble)
        cachedBytes = math.max(cachedBytes, info.map(r => r.memSize + r.diskSize).sum.toDouble)
      }
      r
    }
    def sem(k: Int) = ids(Similarity.semDedup(emb, "vec_id", "embedding", i("curation.dim"),
      s("curation.tau").toDouble, nCentroids = k, nProbe = 2, iters = i("curation.iters"))
      .where(col("removed")).select("vec_id"))
    Caching.clearSession(spark)
    Map(
      "exact_kept" -> step("exact_dedup")(
        ids(Dedup.exactDedup(docs, "text", "doc_id").select("doc_id"))).orNull,
      "minhash_pairs" -> step("minhash")(
        pairs(Dedup.minHashNearDupPairs(docs, "text", "doc_id"))).map { p =>
          minhashPairs = Some(p.size)
          p
        }.orNull,
      "simhash_pairs" -> step("simhash")(
        pairs(Dedup.simHashNearDupPairs(docs, "text", "doc_id"))).orNull,
      "semdedup_small_k_removed" -> step("semdedup_small_k")(sem(i("curation.small_k"))).orNull,
      "semdedup_large_k_removed" -> step("semdedup_large_k")(sem(i("curation.large_k"))).orNull)
  }

  def curationWarmup(passes: Int): Unit =
    (0 until passes).foreach { _ =>
      curationPass(s"$dataDir/warmup")
      checkpoint()
    }

  def curationBatch(): Unit = {
    cachedRdds = 0.0
    cachedBytes = 0.0
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passS = mutable.ArrayBuffer.empty[Double]
    val deadline = nowS + seconds
    val t0 = nowS
    while (passes.isEmpty || nowS < deadline) {
      val ps = nowS
      passes += curationPass(dataDir)
      passS += nowS - ps
      checkpoint()
    }
    out("loop_s") = nowS - t0 - checkpointS
    out("pass_s") = passS
    out("items_per_pass") = s("curation.items").toLong
    out("passes") = passes
  }

  /** MinHash pairs kept over LSH candidate pairs, with the defaults
    * minHashNearDupPairs uses; run after the measured loop. */
  def lshUsefulRatio(): Double = {
    val found = minhashPairs.getOrElse(0)
    val docs = Tables.load(spark, dataDir, "documents")
    val cand = Dedup.lshCandidatePairs(
      Dedup.minHashSignatures(docs, "text", "doc_id", 128, 3), 32, 4).count()
    found.toDouble / math.max(1L, cand)
  }

  // ------------------------------------------------------------------
  // per-layer totals
  // ------------------------------------------------------------------

  private def aggOf(kinds: Set[String], phase: String = null): Agg = {
    val a = new Agg
    sched.byGroup.foreach { case (g, x) =>
      g.split(":") match {
        case Array(o, ph) if o.startsWith("op") =>
          if (kinds(opKind.getOrElse(o.drop(2).toLong, "")) && (phase == null || ph == phase)) a += x
        case _ =>
      }
    }
    a
  }

  private def layerTotals(codegen0: Long, compiles0: Long, gc0: Long): Unit = {
    val nOps = math.max(1L, opSeq).toDouble
    val all = new Agg
    sched.byGroup.values.foreach(all += _)
    val opMs = samples.values.flatten.sum
    val nParsed = math.max(1, parseMs.size).toDouble
    def per(kind: String, v: Double) = v / math.max(1, sample(kind).size)
    layer("kql.parse_ms") = mean(parseMs)
    layer("kql.construction_jobs") = aggOf(Set("query", "read"), "parse").jobs / nParsed
    Seq("analysis", "optimization", "planning").foreach(ph =>
      layer(s"spark.${ph}_ms") = planning.phaseMs(ph) / nOps)
    layer("spark.codegen_ms") = (Internals.codegenNanos - codegen0) / 1e6 / nOps
    layer("spark.codegen_compiles") = (Internals.codegenCompiles - compiles0) / nOps
    layer("spark.jobs") = all.jobs / nOps
    layer("spark.stages") = all.stages / nOps
    layer("spark.tasks") = all.tasks / nOps
    layer("spark.task_wait_ms") = all.taskWaitMs / nOps
    layer("spark.task_run_ms") = all.runMs / nOps
    layer("spark.task_cpu_ms") = all.cpuNs / 1e6 / nOps
    layer("spark.busy_cores") = if (opMs > 0) all.runMs / opMs else 0.0
    layer("spark.shuffle_write_bytes") = all.shuffleWrite / nOps
    layer("spark.shuffle_read_bytes") = all.shuffleRead / nOps
    layer("spark.spill_bytes") = all.spill / nOps
    layer("spark.failed_tasks") = all.failedTasks / nOps
    val app = aggOf(Set("append"))
    layer("sources.append_ms") = mean(sample("append"))
    layer("sources.bytes_written") = per("append", app.bytesWritten.toDouble)
    layer("sources.records_written") = per("append", app.recordsWritten.toDouble)
    layer("sources.files_written") = per("append", filesWritten.toDouble)
    layer("sources.compact_ms") = mean(sample("compact"))
    layer("sources.compact_bytes_rewritten") = per("compact", aggOf(Set("compact")).bytesWritten.toDouble)
    layer("sources.files_per_bucket") = mean(filesPerBucket)
    layer("sources.bytes_read_per_row_returned") =
      if (rowsReturned > 0) aggOf(Set("read")).bytesRead.toDouble / rowsReturned else 0.0
    Seq("exact_dedup", "minhash", "simhash", "semdedup_small_k", "semdedup_large_k")
      .foreach(k => layer(s"functions.${k}_ms") = mean(sample(k)))
    layer("functions.cached_rdds") = cachedRdds
    layer("functions.cached_bytes") = cachedBytes
    layer("jvm.gc_ms") = (Jvm.gcMillis - gc0 - checkpointGcMs) / nOps
  }

  // ------------------------------------------------------------------

  def run(): Unit = {
    new File(outDir).mkdirs()
    val tables = workload match {
      case "kql_interactive" => Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")
      case "segment_ingest" => Seq.empty
      case "curation_batch" => Seq("documents", "embeddings")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = (1 to i("setup_repeats")).map { k =>
      if (k > 1) spark.stop()
      setUp(tables)
    }
    // warm-up: run a fixed number of the workload's operations on inputs of
    // their own, so the measured loop sees a JIT-compiled, cache-filled engine;
    // it takes the loop's full collections too, so the first measured
    // operation does not pay for collecting (and cleaning up after) the
    // whole warm-up
    workload match {
      case "kql_interactive" => kqlWarmup(i("warmup_ops"))
      case "segment_ingest" => ingestWarmup(i("warmup_ops"))
      case "curation_batch" => curationWarmup(i("warmup_ops"))
    }
    checkpoint()
    peakLiveBytes = 0L
    checkpointS = 0.0
    checkpointGcMs = 0L
    samples.clear()
    parseMs.clear()
    opKind.clear()
    opSeq = 0L
    tracer.spans.clear()
    tracer.groupSpan.clear()
    if (traced) {
      spark.sparkContext.addSparkListener(sched)
      spark.listenerManager.register(planning)
    }
    val codegen0 = Internals.codegenNanos
    val compiles0 = Internals.codegenCompiles
    val gc0 = Jvm.gcMillis
    Jvm.resetPeaks()
    workload match {
      case "kql_interactive" => kqlInteractive()
      case "segment_ingest" => segmentIngest()
      case "curation_batch" => curationBatch()
    }
    val poolPeakMb = Jvm.poolPeakBytes / 1048576.0
    if (traced) {
      Internals.drainListenerBus(spark.sparkContext)
      layerTotals(codegen0, compiles0, gc0)
      layer("jvm.heap_peak_mb") = poolPeakMb
      layer("functions.lsh_useful_ratio") =
        if (workload == "curation_batch") lshUsefulRatio() else 0.0
      tracer.addSchedulerSpans(sched)
      val w = new PrintWriter(s"$outDir/spans.jsonl", "UTF-8")
      try tracer.spans.foreach { sp =>
        w.println(Json(mutable.LinkedHashMap("id" -> sp.id, "parent" -> sp.parent,
          "name" -> sp.name, "op" -> sp.op, "start_us" -> sp.startUs, "end_us" -> sp.endUs)))
      } finally w.close()
    }
    val result = mutable.LinkedHashMap[String, Any](
      "cpus" -> cpus, "setup_s" -> setups, "ops" -> opSeq, "errors" -> errors,
      "samples_ms" -> samples, "peak_live_mb" -> peakLiveBytes / 1048576.0, "layers" -> layer)
    result ++= out
    val w = new PrintWriter(s"$outDir/result.json", "UTF-8")
    try w.println(Json(result)) finally w.close()
    spark.stop()
  }
}
