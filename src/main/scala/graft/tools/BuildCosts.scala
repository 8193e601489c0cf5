package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.functions.Similarity

/** Dev harness: COLD build cost of the session artifacts — the builds the
  * driver bench amortizes per (session, sf) like real index/build
  * lifecycles. The artifacts of the query registry (full-text index,
  * pagerank rank table, minhash near-dup pipeline + CC labels) are priced
  * by running their owning queries once and printing the
  * SessionArtifacts ledger; the stored ANN index lanes time its build and
  * its append/compact/split/rebuild/merge maintenance directly. BENCH_NOTES
  * records one row per artifact per round from this harness so the
  * memoization pattern's spread stays priced (r13 verdict observation #1).
  * Usage: runMain graft.tools.BuildCosts [sfDir]
  */
object BuildCosts {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Warmup.run(spark)
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[buildcost] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val root = java.nio.file.Files.createTempDirectory("graft_buildcost").toString
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val corpus = emb.select(F.col("vec_id").as("corpus_id"), F.col("embedding"))

    // the session artifacts (full-text index, rank table, MinHash
    // signatures, LSH candidates, verified pairs, CC labels), built by their
    // owning queries on this fresh session. A query's cold wall time holds
    // the first compute of the frames it persists; the ledger's build ms is
    // the build closure alone (a persisted frame's construction).
    Seq("q_search_indexed", "q_host_pagerank", "q_minhash_pairs",
        "q_near_dedup_clusters").foreach { q =>
      time(q)(graft.SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    }
    graft.SessionArtifacts.ledger.foreach { case (kind, a) =>
      println(f"[buildcost] artifact $kind%-18s builds=${a.builds} " +
        f"hits=${a.hits} build_ms=${a.buildMs}%.0f")
    }
    val cents = time("ann_ivf_train") {
      Similarity.ivfTrain(corpus, "corpus_id", "embedding", 64)
    }
    val books = time("ann_pq_train") {
      Similarity.pqTrain(corpus, "corpus_id", "embedding", 64)
    }
    time("ann_index_write") {
      Similarity.writeIndex(corpus, s"$root/annidx", "corpus_id", "embedding",
        64, trainedIvf = Some(cents), trainedPq = Some(books))
    }
    time("ann_index_append_half") {
      Similarity.appendToIndex(corpus.filter(F.col("corpus_id") % 2 === 1),
        s"$root/annidx", "corpus_id", "embedding", 64)
    }
    time("ann_index_compact") {
      Similarity.compactIndex(spark, s"$root/annidx")
    }
    time("ann_index_split_hot") {
      // the q_ann_index_split maintenance op: split the fattest list
      val hot = Similarity.indexStats(spark, s"$root/annidx")
        .orderBy(F.col("rows").desc, F.col("__cid")).limit(1)
        .collect()(0).getInt(0)
      Similarity.splitList(spark, s"$root/annidx", hot)
    }
    time("ann_index_rebuild_full") {
      // the retrain escape hatch: full train + encode + swap (the priciest
      // maintenance op by design — what splits exist to avoid)
      Similarity.rebuildIndex(spark, s"$root/annidx", corpus, "corpus_id",
        "embedding", 64)
    }
    // the r17 parallel-build composition, priced against the append it
    // replaces: the same odd half arrives as a SHARD built with the frozen
    // models (the encode cost moves to the shard build, parallelizable
    // across builders) and folds in by file moves only — merge-time cost
    // is metadata, not assign+encode. Fresh destination: the rebuild above
    // retrained annidx's models, and merge refuses mixed models by design.
    Similarity.writeIndex(corpus.filter(F.col("corpus_id") % 2 === 0),
      s"$root/annmrg", "corpus_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    time("ann_shard_build_half") {
      Similarity.writeIndex(corpus.filter(F.col("corpus_id") % 2 === 1),
        s"$root/annshard", "corpus_id", "embedding", 64,
        trainedIvf = Some(cents), trainedPq = Some(books))
    }
    time("ann_index_merge_half") {
      Similarity.mergeIndex(spark, s"$root/annmrg", s"$root/annshard")
    }
    // the r18 N-ARY fold, priced against S sequential pairwise merges it
    // replaces: 3 quarter-shards validate under ONE destination marker
    // cycle and fold in one (parallel) move loop — the shape a sharded
    // 100 TB build runs (train once, build S shards anywhere, fold once)
    Similarity.writeIndex(corpus.filter(F.col("corpus_id") % 4 === 0),
      s"$root/annmrgN", "corpus_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    val quarterShards = (1 to 3).map { r =>
      Similarity.writeIndex(corpus.filter(F.col("corpus_id") % 4 === r),
        s"$root/annshard$r", "corpus_id", "embedding", 64,
        trainedIvf = Some(cents), trainedPq = Some(books))
      s"$root/annshard$r"
    }
    time("ann_index_merge_nary3") {
      Similarity.mergeIndexAll(spark, s"$root/annmrgN", quarterShards)
    }
    // move-loop scaling with FILE COUNT (the r17 What's-wrong #2 lane):
    // merge cost is per-FILE metadata, so a fragmented source (many small
    // appended files, pre-compaction) prices the rename loop itself. The
    // fragmented source carries the same ROWS as the 1-file shard above —
    // only the file count differs; the parallel pool is what keeps the
    // wall-clock from scaling 1:1 with files.
    Similarity.writeIndex(corpus.filter(F.col("corpus_id") % 4 === 0),
      s"$root/annmrgF", "corpus_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    val frag = corpus.filter(F.col("corpus_id") % 4 === 1)
    Similarity.writeIndex(frag.filter(F.col("corpus_id") % 64 === 1),
      s"$root/annshardF", "corpus_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    for (c <- 5 until 64 by 4) // 15 small appends — segment fragmentation
      Similarity.appendToIndex(frag.filter(F.col("corpus_id") % 64 === c),
        s"$root/annshardF", "corpus_id", "embedding", 64,
        models = Some((cents, books)))
    val fragFiles = spark.read.parquet(s"$root/annshardF/lists")
      .select(F.input_file_name()).distinct().count()
    time(s"ann_index_merge_frag${fragFiles}f") {
      Similarity.mergeIndex(spark, s"$root/annmrgF", s"$root/annshardF")
    }
    spark.stop()
  }
}
