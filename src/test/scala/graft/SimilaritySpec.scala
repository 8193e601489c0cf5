package graft

import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.sources.Tables
import graft.kql.Kql._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f)), (Array(1f, 1f), Array(1f, 1f)))
      .toDF("a", "b")
    val cos = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(cos(0)) < 1e-12)
    assert(math.abs(cos(1) - 1.0) < 1e-12)
  }

  test("brute-force topk ranks the nearest vector first") {
    val emb = Tables.load(spark, sf, "embeddings")
    val res = Similarity.bruteForceTopK(
      emb.where_(col("vec_id") < 3).projectRename("query_id" -> "vec_id"),
      emb.projectRename("corpus_id" -> "vec_id"), k = 5)
    assert(res.count() == 15)
    // rank-1 neighbor has the max cosine among the 5
    val byQ = res.groupBy("query_id")
      .agg(max(when(col("rank") === 1, col("cosine"))).as("first"),
        max(col("cosine")).as("best"))
      .select(col("first") === col("best")).as[Boolean].collect()
    assert(byQ.forall(identity))
  }

  test("LSH topk achieves reasonable recall vs brute force") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.where_(col("vec_id") < 10).projectRename("query_id" -> "vec_id")
    val c = emb.projectRename("corpus_id" -> "vec_id")
    val exact = Similarity.bruteForceTopK(q, c, k = 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, c, k = 5, dim = 64)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("recall@k anchors for the approximate tier at headline settings") {
    // the measured recall table lives in SCALE.md (tools/RecallScale, both
    // sf decades); this anchors the HEADLINE settings at the unit fixture
    // so a recall regression in any approximate path fails loudly. The
    // chain is fully deterministic (hash-derived planes, seeded k-means),
    // so these are stable floors under the measured values (0.915 / 0.840 /
    // 0.705 at this fixture), not flaky statistical bounds.
    val emb = Tables.load(spark, sf, "embeddings")
    val k = 10
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      exact.intersect(pairs(df)).size.toDouble / exact.size
    assert(recall(Similarity.lshTopK(queries, corpus, k, 64,
      numTables = 32)) >= 0.8, "lsh@32 tables below anchor")
    val r1 = recall(Similarity.ivfTopK(queries, corpus, k, 64, nProbe = 1))
    val r8 = recall(Similarity.ivfTopK(queries, corpus, k, 64, nProbe = 8))
    assert(r8 >= 0.7, s"ivf@nProbe=8 below anchor: $r8")
    assert(r8 > r1, "recall must rise with probe count")
    assert(recall(Similarity.ivfPqTopK(queries, corpus, k, 64,
      nProbe = 8, shortlist = 64)) >= 0.55, "ivfpq@8/64 below anchor")
    // the STORED SERVE PATH at its serving defaults (nProbe=4,
    // shortlist=32) — the r14 honesty gap: the serve default must not
    // quietly inherit PQ's recall-falls-with-n without a floor watching it.
    // Same frozen models as above so the lane isolates the serve path.
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_recall_anchor").toString
    val cents16 = Similarity.ivfTrain(corpus, "corpus_id", "embedding", 64)
    val books16 = Similarity.pqTrain(corpus, "corpus_id", "embedding", 64)
    Similarity.writeIndex(corpus, idxDir, "corpus_id", "embedding", 64,
      trainedIvf = Some(cents16), trainedPq = Some(books16))
    val atDefaults = recall(Similarity.indexTopKDistributed(spark, idxDir,
      queries, corpus, k, dim = 64))
    assert(atDefaults >= 0.25, s"stored serve @defaults below floor: $atDefaults")
    // shortlist is the recall lever at fixed probes — must be monotone here
    val wide = recall(Similarity.indexTopKDistributed(spark, idxDir,
      queries, corpus, k, dim = 64, shortlist = 128))
    assert(wide >= atDefaults, s"shortlist widening lowered recall: $wide < $atDefaults")
    assert(wide >= 0.5, s"stored serve @nProbe=4/shortlist=128 below floor: $wide")
  }

  test("lsh table keys are deterministic across partitionings") {
    def keys(parts: Int): Map[Long, Seq[Long]] = Tables.load(spark, sf, "embeddings")
      .repartition(parts)
      .select(col("vec_id"), Similarity.lshProjections(col("embedding"), 64, 40).as("__p"))
      .select(col("vec_id"), Similarity.lshTableKeys(col("__p"), 8, 5).as("k"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys(1) == keys(4))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val emb = Tables.load(spark, sf, "embeddings")
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 64, 0.9)
    val rows = pairs.select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    assert(rows.forall(r => r._1 < r._2))
    assert(rows.forall(_._3 >= 0.9))
  }

  test("ivf trains k centroids and retrieves planted near-copies as top-1") {
    val emb = Tables.load(spark, sf, "embeddings")
    val centroids = Similarity.ivfTrain(emb, "vec_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    assert(centroids.length == 8 && centroids.forall(_.length == 64))
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val top1 = Similarity.ivfTopK(queries, corpus, k = 1, dim = 64,
        nCentroids = 8, nProbe = 3, iters = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
  }

  test("ivf-pq composed ANN retrieves planted near-copies through lists + codes") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val top1 = Similarity.ivfPqTopK(queries, corpus, k = 1, dim = 64,
        nCentroids = 8, nProbe = 3, iters = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
  }

  test("stored index round-trip: write, reopen models, serve planted queries") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_spec")
      .toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    // models reopen bit-identically (ordering through the parquet round-trip)
    val (cents, books) = Similarity.readIndexModels(spark, dir)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    assert(books.length == 8 && books.forall(_.length == 16))
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.indexTopK(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
  }

  test("distributed stored-index serve equals the driver-bounded path and prunes dynamically") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_dist").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val drv = Similarity.indexTopK(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val dist = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
      k = 1, dim = 64, nProbe = 3)
    val got = dist.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == drv, "distributed serve disagrees with the driver-bounded path")
    assert(got.forall { case (q, c) => c == q - 1000L })
    // the lists scan must be pruned at RUNTIME by the broadcast probe join —
    // no driver collect of probes anywhere in this path
    val plan = dist.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the lists scan:\n$plan")
  }

  test("index append + compaction: appended half searchable, one file per list") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_app").toString
    // models frozen over the FULL corpus; segments built even-half first
    val cents = Similarity.ivfTrain(corpus, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val books = Similarity.pqTrain(corpus, "corpus_id", "embedding", 64, iters = 3)
    Similarity.writeIndex(corpus.filter(col("corpus_id") % 2 === 0), dir,
      "corpus_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    Similarity.appendToIndex(corpus.filter(col("corpus_id") % 2 === 1), dir,
      "corpus_id", "embedding", 64)
    // indexStats sees the append: full corpus rows, and at least one list
    // carries the extra per-append file (the maintenance signal)
    val statsAfterAppend = Similarity.indexStats(spark, dir)
      .select("rows", "files").as[(Long, Long)].collect()
    assert(statsAfterAppend.map(_._1).sum == corpus.count())
    assert(statsAfterAppend.exists(_._2 >= 2), "append left no multi-file list")
    // the append added files; compaction merges each list back to ONE file
    Similarity.compactIndex(spark, dir)
    assert(Similarity.indexStats(spark, dir)
      .select("files").as[Long].collect().forall(_ == 1L),
      "compaction left a multi-file list")
    val listDirs = new java.io.File(s"$dir/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__cid="))
    assert(listDirs.nonEmpty)
    for (ld <- listDirs) {
      val parts = ld.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${ld.getName}: $parts files after compaction")
    }
    // planted queries over BOTH halves must find their originals
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
  }

  test("index delete rewrites only hit lists; deleted ids leave every shortlist") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_del").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val doomed = corpus.filter(col("corpus_id") < 5).select("corpus_id")
    Similarity.deleteFromIndex(spark, dir, doomed, "corpus_id")
    // the deleted ids are gone from the lists table; everyone else remains
    val remaining = spark.read.parquet(s"$dir/lists")
      .select("corpus_id").as[Long].collect().toSet
    assert(remaining.intersect(Set(0L, 1L, 2L, 3L, 4L)).isEmpty)
    assert(remaining.size == corpus.count() - 5)
    // planted queries: deleted originals cannot be found; others still are
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    for ((q, c) <- top1) {
      val orig = q - 1000L
      if (orig < 5) assert(c != orig, s"deleted $orig still served for $q")
      else assert(c == orig, s"survivor $orig lost for $q")
    }
    // a delete with no matching ids is a no-op (no staged dir left behind)
    Similarity.deleteFromIndex(spark, dir,
      corpus.filter(col("corpus_id") < 0).select("corpus_id"), "corpus_id")
    assert(!new java.io.File(s"$dir/lists__deleting").exists())
    // SIMULATED mid-delete crash: a live list stranded in a retired dir
    // must make serving fail LOUDLY (a silent read would just lose that
    // list's candidates), and recoverIndex must restore it exactly
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val someCid = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("__cid=")).head.getName.stripPrefix("__cid=")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/lists/__cid=$someCid"),
      new org.apache.hadoop.fs.Path(s"$dir/lists__retired_$someCid")))
    intercept[IllegalArgumentException] {
      Similarity.readIndexModels(spark, dir)
    }
    Similarity.recoverIndex(spark, dir)
    val afterRecover = Similarity.indexTopKDistributed(spark, dir, queries,
        corpus, k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(afterRecover == top1, "recovery changed serving results")
  }

  test("streaming stored-index shortlist serves the planted contract like batch") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_str").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val short = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_ann_stream",
      Similarity.indexShortlistStream(spark, dir, qStream, 64, nProbe = 3))
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.rerankTopK(short, queries, corpus, k = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
    // and the streaming shortlist must MATCH the batch serve exactly
    val batch = Similarity.indexTopK(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1 == batch)
  }

  test("streaming shortlist honors the allowed-set pre-filter like the batch path") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"),
      col("label"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_sfilt").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val allowed = corpus.filter(col("label") % 2 === 0).select("corpus_id")
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 20)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val short = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_ann_sfilt",
      Similarity.indexShortlistStream(spark, dir, qStream, 64, nProbe = 3,
        allowed = Some(allowed)))
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val got = Similarity.rerankTopK(short, queries, corpus, k = 1)
      .join(corpus.select(col("corpus_id"), col("label")), Seq("corpus_id"))
      .select("query_id", "corpus_id", "label")
      .as[(Long, Long, Int)].collect()
    // k contract under the filter, every hit allowed, planted verdicts
    assert(got.length == 20, s"expected 20 rows, got ${got.length}")
    assert(got.forall(_._3 % 2 == 0), got.mkString(","))
    val labelOf = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    for ((q, c, _) <- got) {
      val orig = q - 1000L
      if (labelOf(orig) % 2 == 0) assert(c == orig, s"allowed $orig lost for $q")
      else assert(c != orig, s"excluded $orig returned for $q")
    }
  }

  test("streaming shortlist serves PAST the literal regime via group-granular probes") {
    // k = 2176 centroids (≥ centroidTableThreshold): the flat literal probe
    // would blow the plan regime, so the stream probes its groupProbe
    // nearest √k literal SUPERS and one stateless stream-static broadcast
    // join fans each group out to member cids — candidates a superset of
    // the two-level frontier. The planted contract must still hold.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_bigk").toString
    // synthetic deterministic coarse quantizer — at k ≫ n most lists are
    // empty, which is exactly the k ∝ n regime's shape; PQ books train real
    val cents = Array.tabulate(2176, 64)((i, j) =>
      (((i * 131 + j * 17) % 997) / 997.0f) - 0.5f)
    val books = Similarity.pqTrain(corpus, "corpus_id", "embedding", 64, iters = 2)
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val short = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_ann_bigk",
      Similarity.indexShortlistStream(spark, dir, qStream, 64,
        nProbe = 4, groupProbe = 6))
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.rerankTopK(short, queries, corpus, k = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
    // SUPERSET anchor (the claim the streaming path's comment makes): at a
    // NON-BINDING shortlist the streaming group-probe candidates contain
    // every list of every probed group, a superset of the hier path's
    // top-nProbe frontier at EQUAL groupProbe (same shared superGroups
    // structure), so honest recall@10 vs brute force must come out ≥ —
    // deterministic, not statistical: a true top-k member in the smaller
    // candidate set is in the larger one too.
    val rq = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(rq, corpus, k = 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      exact.intersect(df.select("query_id", "corpus_id")
        .as[(Long, Long)].collect().toSet).size.toDouble / exact.size
    val sStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 30)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val sRec = recallOf(Similarity.rerankTopK(
      graft.streaming.StreamingIngest.runBoundedAggregation(spark,
        "simspec_ann_bigk_sup",
        Similarity.indexShortlistStream(spark, dir, sStream, 64,
          nProbe = 4, shortlist = 512, groupProbe = 6)),
      rq, corpus, k = 10))
    val hRec = recallOf(Similarity.indexTopKDistributed(spark, dir, rq,
      corpus, k = 10, dim = 64, nProbe = 4, shortlist = 512,
      hierProbe = Some(6)))
    assert(sRec >= hRec,
      s"streaming group-probe recall $sRec must be >= hier recall $hRec " +
        "at equal groupProbe and a non-binding shortlist (superset claim)")
  }

  test("in-flight appends exclude maintenance for their whole duration (leases)") {
    // the r15 weak window: the marker stopped an append from STARTING
    // during maintenance, but an append whose write job was mid-flight when
    // maintenance began could still have its files silently swapped away.
    // Now the append holds a lease for its whole run and maintenance's
    // marker acquisition refuses while any live lease exists.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_lease").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 300), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    var compactErr: Throwable = null
    var deleteErr: Throwable = null
    // drive a compact AND a delete attempt WHILE the append's lease is held
    Similarity.appendToIndexImpl(
      corpus.filter(col("corpus_id") >= 300), dir, "corpus_id", "embedding",
      64, None, onStep = {
        case "leased" =>
          compactErr = intercept[IllegalStateException] {
            Similarity.compactIndex(spark, dir)
          }
          deleteErr = intercept[IllegalStateException] {
            Similarity.deleteFromIndex(spark, dir,
              corpus.limit(1).select("corpus_id"), "corpus_id")
          }
          // refused maintenance must NOT leave its marker behind
          assert(!fs.exists(p(s"$dir/lists__maintenance")),
            "refused maintenance left the marker")
        case _ => ()
      })
    assert(compactErr.getMessage.contains("in flight"), compactErr.getMessage)
    assert(deleteErr.getMessage.contains("in flight"), deleteErr.getMessage)
    // the append completed despite the refused maintenance: every row there
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
    // lease released: maintenance now proceeds cleanly
    Similarity.compactIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
    // a STALE lease (crashed append) must not block maintenance forever:
    // reclaimed at marker acquisition past the age threshold
    val stale = s"$dir/lists__appending_deadbeef"
    val out = fs.create(p(stale), true)
    out.write("""{"op":"append"}""".getBytes("UTF-8")); out.close()
    fs.setTimes(p(stale), System.currentTimeMillis() - 2L * 3600L * 1000L, -1)
    Similarity.compactIndex(spark, dir) // stale lease reclaimed, no refusal
    assert(!fs.exists(p(stale)), "stale lease must be reclaimed")
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
  }

  test("a slow LIVE append heartbeats its lease: maintenance refuses past staleLeaseMs; a dead lease still reclaims") {
    // the r16 hole: staleness judged on the lease's WRITE time reclaimed
    // any live append merely SLOWER than the threshold — here the append
    // stalls far past a tiny staleLeaseMs while a concurrent maintainer
    // keeps trying, and every attempt must refuse on the FRESH heartbeat
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_hb").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 300), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val staleMs = 250L
    var refusals = 0
    Similarity.appendToIndexImpl(
      corpus.filter(col("corpus_id") >= 300), dir, "corpus_id", "embedding",
      64, None, onStep = {
        case "leased" =>
          // stall 5x past staleLeaseMs; the 62 ms heartbeat keeps the lease
          // provably alive through every maintenance attempt
          val deadline = System.currentTimeMillis() + 5 * staleMs
          while (System.currentTimeMillis() < deadline) {
            val e = intercept[IllegalStateException] {
              Similarity.compactIndex(spark, dir, staleLeaseMs = staleMs)
            }
            assert(e.getMessage.contains("in flight"), e.getMessage)
            refusals += 1
            Thread.sleep(staleMs / 2)
          }
        case _ => ()
      }, staleLeaseMs = staleMs)
    assert(refusals >= 3, s"expected repeated refusals, got $refusals")
    // the slow append's rows all landed — nothing was swapped away
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
    // a genuinely DEAD lease (heartbeat stopped) at the SAME tiny threshold
    // is still reclaimed — staleness now means "no heartbeat", not "old"
    val stale = s"$dir/lists__appending_nobeat"
    val out = fs.create(p(stale), true)
    out.write("""{"op":"append","epoch_ms":0}""".getBytes("UTF-8")); out.close()
    Thread.sleep(2 * staleMs)
    Similarity.compactIndex(spark, dir, staleLeaseMs = staleMs)
    assert(!fs.exists(p(stale)), "dead (beat-less) lease must be reclaimed")
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
  }

  test("mergeIndex folds shard-built trees by file moves: equals one whole build, crash resumes, mixed models refuse") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    // train ONCE, build anywhere: the same frozen models encode both
    // shards and the whole-corpus reference tree
    val cents = Similarity.ivfTrain(corpus, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val books = Similarity.pqTrain(corpus, "corpus_id", "embedding", 64,
      iters = 2)
    def build(df: org.apache.spark.sql.DataFrame, tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_mrg_$tag").toString
      Similarity.writeIndex(df, d, "corpus_id", "embedding", 64,
        trainedIvf = Some(cents), trainedPq = Some(books),
        corpusSnapshot = s"emb@$tag")
      d
    }
    val whole = build(corpus, "whole")
    val dest = build(corpus.filter(col("corpus_id") % 2 === 0), "even")
    val src = build(corpus.filter(col("corpus_id") % 2 === 1), "odd")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    Similarity.mergeIndex(spark, dest, src)
    // the source tree is CONSUMED; the merged tree equals the whole build
    // list-by-list (assignment depends only on the shared frozen models)
    assert(!fs.exists(p(src)), "merge must consume the source tree")
    def perCid(d: String) = spark.read.parquet(s"$d/lists")
      .groupBy("__cid").count().as[(Int, Long)].collect().toMap
    assert(perCid(dest) == perCid(whole),
      s"merged lists differ from the whole build: ${perCid(dest)} vs ${perCid(whole)}")
    // planted serve across BOTH halves through the merged tree
    val queries = emb.filter(col("vec_id") < 25)
      .select((col("vec_id") + 1000000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val got = Similarity.indexTopKDistributed(spark, dest, queries, corpus,
        k = 1).select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(got.size == 25)
    assert(got.forall { case (q, c) => c == q - 1000000L }, got.toString)
    // crash mid-merge: the marker records the source, every file lives in
    // exactly one tree — recovery RESUMES the move loop and consumes src.
    // Deliberately the LEGACY (pre-r18, single-`src`, no validated fence)
    // marker shape: resuming it must first RE-validate models/manifest
    // (they match here) — the r18 marker form is covered by the
    // unvalidated-rollback and n-ary units
    val dest2 = build(corpus.filter(col("corpus_id") % 2 === 0), "even2")
    val src2 = build(corpus.filter(col("corpus_id") % 2 === 1), "odd2")
    val out = fs.create(p(s"$dest2/lists__maintenance"), true)
    out.write(s"""{"op":"merge","src":"$src2"}""".getBytes("UTF-8")); out.close()
    val out2 = fs.create(p(s"$src2/lists__maintenance"), true)
    out2.write(s"""{"op":"merge_src","dest":"$dest2"}""".getBytes("UTF-8"))
    out2.close()
    // under the markers, appends and serve opens refuse on BOTH trees —
    // the source is locked for the whole move loop too (an append landing
    // after a partition's listing would be deleted with the consumed tree)
    intercept[IllegalArgumentException] {
      Similarity.readIndexModels(spark, dest2)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToIndex(corpus.limit(1), src2, "corpus_id",
        "embedding", 64)
    }
    // recovering the SOURCE while the destination's merge is in flight is
    // refused toward the destination (whose resume consumes this tree)
    val eSrc = intercept[IllegalStateException] {
      Similarity.recoverIndex(spark, src2)
    }
    assert(eSrc.getMessage.contains("DESTINATION"), eSrc.getMessage)
    Similarity.recoverIndex(spark, dest2)
    assert(!fs.exists(p(src2)), "recovery must finish consuming the source")
    assert(!fs.exists(p(s"$dest2/lists__maintenance")))
    assert(spark.read.parquet(s"$dest2/lists").count() == corpus.count())
    // an ORPHAN source marker (crash between the two acquisitions — no
    // move started) recovers in place: marker dropped, tree intact
    val src3 = build(corpus.filter(col("corpus_id") % 2 === 1), "odd3")
    val out3 = fs.create(p(s"$src3/lists__maintenance"), true)
    out3.write(s"""{"op":"merge_src","dest":"$dest2"}""".getBytes("UTF-8"))
    out3.close()
    Similarity.recoverIndex(spark, src3)
    assert(!fs.exists(p(s"$src3/lists__maintenance")))
    assert(Similarity.readIndexModels(spark, src3)._1.length == 8)
    // equal GEOMETRY but independently-trained models: bit-compare refuses
    val foreignDest = build(corpus.filter(col("corpus_id") % 2 === 0), "fd")
    val foreign = java.nio.file.Files.createTempDirectory("graft_mrg_f").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") % 2 === 1), foreign,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val eModels = intercept[IllegalArgumentException] {
      Similarity.mergeIndex(spark, foreignDest, foreign)
    }
    assert(eModels.getMessage.contains("models differ"), eModels.getMessage)
    // merging a tree into itself is refused
    val eSelf = intercept[IllegalArgumentException] {
      Similarity.mergeIndex(spark, whole, whole)
    }
    assert(eSelf.getMessage.contains("same tree"), eSelf.getMessage)
  }

  test("merge vs append race on the SOURCE under REAL concurrency: rows are never silently lost") {
    // the hole the op=merge_src marker closes, driven by actual racing
    // threads: an append into the source while the merge's move loop
    // lists partitions would have its files deleted with the consumed
    // tree. Every schedule must end with either side refusing loudly or
    // both succeeding in an order that keeps every acknowledged row.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val cents = Similarity.ivfTrain(corpus, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val books = Similarity.pqTrain(corpus, "corpus_id", "embedding", 64,
      iters = 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val evens = corpus.filter(col("corpus_id") % 2 === 0)
    val srcBase = corpus.filter(col("corpus_id") % 2 === 1 &&
      col("corpus_id") < 400)
    val extra = corpus.filter(col("corpus_id") % 2 === 1 &&
      col("corpus_id") >= 400)
    val nEvens = evens.count(); val nBase = srcBase.count()
    val nExtra = extra.count()
    for (round <- 1 to 3) {
      val dest = java.nio.file.Files
        .createTempDirectory(s"graft_mrr_d$round").toString
      val src = java.nio.file.Files
        .createTempDirectory(s"graft_mrr_s$round").toString
      Similarity.writeIndex(evens, dest, "corpus_id", "embedding", 64,
        trainedIvf = Some(cents), trainedPq = Some(books))
      Similarity.writeIndex(srcBase, src, "corpus_id", "embedding", 64,
        trainedIvf = Some(cents), trainedPq = Some(books))
      @volatile var appendOk = false; @volatile var appendErr: Throwable = null
      @volatile var mergeOk = false; @volatile var mergeErr: Throwable = null
      val t1 = new Thread(() =>
        try { Similarity.appendToIndex(extra, src, "corpus_id", "embedding",
            64, models = Some((cents, books))); appendOk = true }
        catch { case e: Throwable => appendErr = e })
      val t2 = new Thread(() =>
        try { Similarity.mergeIndex(spark, dest, src); mergeOk = true }
        catch { case e: Throwable => mergeErr = e })
      if (round % 2 == 0) { t1.start(); t2.start() }
      else { t2.start(); t1.start() }
      t1.join(120000); t2.join(120000)
      // refusals must be the protocol's loud ones, never silent weirdness
      if (!appendOk) assert(appendErr != null &&
        (appendErr.isInstanceOf[IllegalStateException] ||
          appendErr.isInstanceOf[IllegalArgumentException]),
        s"round $round append died oddly: $appendErr")
      if (!mergeOk) assert(mergeErr != null &&
        (mergeErr.isInstanceOf[IllegalStateException] ||
          mergeErr.isInstanceOf[IllegalArgumentException]),
        s"round $round merge died oddly: $mergeErr")
      // the invariant: every ACKNOWLEDGED row is present in the surviving
      // trees — base rows always, extra rows iff the append reported
      // success; nothing is ever silently lost on any schedule
      // survivor test on src/LISTS, not the src dir: a losing append's
      // lease creation can recreate the consumed source DIR (fs.create
      // makes parents) before failing loudly at the manifest read — an
      // empty shell, not a surviving tree
      val srcSurvives = fs.exists(p(s"$src/lists"))
      val present =
        spark.read.parquet(s"$dest/lists").select("corpus_id") unionByName
          (if (srcSurvives)
            spark.read.parquet(s"$src/lists").select("corpus_id")
          else spark.emptyDataFrame.selectExpr("CAST(NULL AS long) AS corpus_id")
            .limit(0))
      val n = present.count()
      val expected = nEvens + nBase + (if (appendOk) nExtra else 0L)
      assert(n == expected,
        s"round $round: $n rows present, expected $expected " +
          s"(appendOk=$appendOk mergeOk=$mergeOk)")
      // nothing left held on either surviving tree
      assert(!fs.exists(p(s"$dest/lists__maintenance")),
        s"round $round left the dest marker")
      if (srcSurvives) {
        // a surviving source means the merge refused (or lost the race
        // entirely) — every refusal path releases its markers
        assert(!fs.exists(p(s"$src/lists__maintenance")),
          s"round $round left the src marker behind")
        assert(Similarity.appendLeases(fs, src).isEmpty,
          s"round $round left a lease on src")
      }
      assert(Similarity.appendLeases(fs, dest).isEmpty,
        s"round $round left a lease on dest")
    }
  }

  test("a reclaim and a racing heartbeat observe each other (tombstone fence)") {
    // the r17 hairline, injected EXACTLY: a beat passes its fs.exists
    // check → the maintainer reclaims the (stale) lease and re-lists
    // (empty) → the beat's write RECREATES the lease — under the old
    // bare-delete reclaim, maintenance then rewrote the tree while the
    // append beat its own recreation and reported success. The reclaim is
    // now a RENAME to a tombstone and every beat re-checks the tombstone
    // after its write: the beat must delete its recreation and the append
    // must fail LOUDLY at commit, while maintenance proceeds undisturbed.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_fence").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 300), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val staleMs = 200L
    val beatAtWindow = new java.util.concurrent.CountDownLatch(1)
    val reclaimDone = new java.util.concurrent.CountDownLatch(1)
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var compacted = false
    @volatile var beatCleaned = false
    val e = intercept[IllegalStateException] {
      Similarity.appendToIndexImpl(
        corpus.filter(col("corpus_id") >= 300), dir, "corpus_id",
        "embedding", 64, None,
        onStep = {
          case "leased" =>
            // wait for the beat to pass its exists-check and BLOCK in the
            // race window (pre-write)
            assert(beatAtWindow.await(30,
              java.util.concurrent.TimeUnit.SECONDS), "beat never arrived")
            // the lease is now un-renewable (the beat is parked): age it
            // past staleness and run the maintainer — it reclaims by
            // rename-to-tombstone, re-lists (nothing), and proceeds
            Similarity.appendLeases(fs, dir).foreach(st => fs.setTimes(
              st.getPath, System.currentTimeMillis() - 5 * staleMs, -1))
            Similarity.compactIndex(spark, dir, staleLeaseMs = staleMs)
            compacted = true
            // release the parked beat: it writes (recreating the lease),
            // must observe the tombstone, and must undo its own write
            reclaimDone.countDown()
            val deadline = System.currentTimeMillis() + 10000
            while (!beatCleaned && System.currentTimeMillis() < deadline) {
              beatCleaned = Similarity.appendLeases(fs, dir).isEmpty
              Thread.sleep(20)
            }
          case _ => ()
        },
        staleLeaseMs = staleMs,
        onBeat = {
          case "pre_write" if injected.compareAndSet(false, true) =>
            beatAtWindow.countDown()
            reclaimDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
          case _ => ()
        })
    }
    assert(e.getMessage.contains("reclaimed"), e.getMessage)
    assert(compacted, "maintenance must proceed over the reclaimed lease")
    assert(beatCleaned,
      "the racing beat must observe the tombstone and delete its recreation")
    assert(Similarity.reclaimTombstones(fs, dir).nonEmpty,
      "the reclaim must leave its tombstone as the observable fence")
    // the tree still serves: the base rows survived the compact; the
    // failed append's caller reconciles per the error's instruction
    assert(spark.read.parquet(s"$dir/lists").count() >= 300)
  }

  test("a GC'd tombstone cannot un-fence a reclaimed append (maintenance fence token)") {
    // the whole-process-pause class the tombstone alone cannot close: one
    // pause spanning reclaim → tombstone GC → resume lets the beat
    // recreate the lease with NO tombstone to observe, so the commit's
    // flag/tombstone/lease checks would all pass — simulated by deleting
    // the tombstone (as GC would) before releasing the parked beat. The
    // FENCE token (rewritten at every maintenance entry that passes the
    // live-lease check) must still fail the commit: maintenance inside a
    // live append's window is only possible by judging it dead.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_fence2").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 300), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val staleMs = 200L
    val beatAtWindow = new java.util.concurrent.CountDownLatch(1)
    val reclaimDone = new java.util.concurrent.CountDownLatch(1)
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var compacted = false
    val e = intercept[IllegalStateException] {
      Similarity.appendToIndexImpl(
        corpus.filter(col("corpus_id") >= 300), dir, "corpus_id",
        "embedding", 64, None,
        onStep = {
          case "leased" =>
            assert(beatAtWindow.await(30,
              java.util.concurrent.TimeUnit.SECONDS), "beat never arrived")
            Similarity.appendLeases(fs, dir).foreach(st => fs.setTimes(
              st.getPath, System.currentTimeMillis() - 5 * staleMs, -1))
            Similarity.compactIndex(spark, dir, staleLeaseMs = staleMs)
            compacted = true
            // simulate tombstone GC before the beat ever sees it
            Similarity.reclaimTombstones(fs, dir)
              .foreach(ts => fs.delete(ts.getPath, false))
            reclaimDone.countDown()
            // give the beat time to recreate the lease un-observed — the
            // worst case this unit exists to pin down
            Thread.sleep(500)
          case _ => ()
        },
        staleLeaseMs = staleMs,
        onBeat = {
          case "pre_write" if injected.compareAndSet(false, true) =>
            beatAtWindow.countDown()
            reclaimDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
          case _ => ()
        })
    }
    assert(e.getMessage.contains("reclaimed"), e.getMessage)
    assert(compacted, "maintenance must proceed over the reclaimed lease")
    assert(spark.read.parquet(s"$dir/lists").count() >= 300)
  }

  test("a format-1 manifest resolves ownership from the lists schema (memoized), and maintenance upgrades it in place") {
    // pre-r17 manifests carry no has_owner: the read sniffs the lists
    // schema ONCE per index path (r17 ADVICE: the un-memoized sniff paid a
    // lists file-listing per micro-batch), never defaults to false (which
    // would silently demote an owner index), and the next maintenance
    // rewrite records ownership under the current format
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"),
      (col("vec_id") % 7).as("own"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_f1").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2, ownerCol = "own")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // rewrite the manifest as its format-1 (pre-has_owner) shape
    val mf2 = Similarity.readIndexManifest(spark, dir)
    val o = fs.create(new org.apache.hadoop.fs.Path(s"$dir/manifest.json"), true)
    o.write((s"""{"format":"graft-ivfpq-1","dim":${mf2.dim},""" +
      s""""n_centroids":${mf2.nCentroids},"m":${mf2.m},"ksub":${mf2.ksub},""" +
      s""""seed":${mf2.seed},"corpus_snapshot":"f1"}""").getBytes("UTF-8"))
    o.close()
    // sniffed from the lists schema, not demoted — and stable across reads
    // (the second read serves from the memo, same value)
    val r1 = Similarity.readIndexManifest(spark, dir)
    assert(r1.format == "graft-ivfpq-1" && r1.hasOwner,
      s"format-1 owner index must sniff hasOwner=true, got $r1")
    assert(Similarity.readIndexManifest(spark, dir).hasOwner)
    // an ownerless append is still refused (the sniffed value gates it)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIndex(corpus.limit(1), dir, "corpus_id",
        "embedding", 64)
    }
    assert(e.getMessage.contains("owner"), e.getMessage)
    // a manifest-rewriting maintenance op (split — compact leaves the
    // manifest untouched) upgrades to the current format WITH ownership
    // recorded — the sniff never runs again for this index
    Similarity.splitList(spark, dir, Similarity.hottestList(spark, dir))
    val r2 = Similarity.readIndexManifest(spark, dir)
    assert(r2.format == "graft-ivfpq-2" && r2.hasOwner, r2.toString)
  }

  test("an UNVALIDATED merge marker rolls back both trees intact; a legacy marker re-validates before resuming") {
    // r17 ADVICE (medium): mergeIndex wrote its op=merge marker BEFORE the
    // under-lock validation, so a crash in that window left a marker for a
    // merge that was never validated — and recovery rolled the move loop
    // forward blind, folding a mixed-models source (silently wrong ADC).
    // Now the marker is only stamped validated:true after every check
    // passes; recovery rolls an unvalidated marker BACK, and re-validates
    // legacy (pre-r18, fence-less) markers before resuming them.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def mark(d: String, body: String): Unit = {
      val o = fs.create(p(s"$d/lists__maintenance"), true)
      o.write(body.getBytes("UTF-8")); o.close()
    }
    // INDEPENDENTLY trained trees: equal geometry, different models — the
    // exact pair the validation exists to refuse
    val dest = java.nio.file.Files.createTempDirectory("graft_mrg_uv_d").toString
    val src = java.nio.file.Files.createTempDirectory("graft_mrg_uv_s").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") % 2 === 0), dest,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    Similarity.writeIndex(corpus.filter(col("corpus_id") % 2 === 1), src,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val destRows = spark.read.parquet(s"$dest/lists").count()
    val srcRows = spark.read.parquet(s"$src/lists").count()
    // crash inside the validation window: both markers down, no fence
    mark(dest, s"""{"op":"merge","srcs":["$src"],"validated":false}""")
    mark(src, s"""{"op":"merge_src","dest":"$dest"}""")
    Similarity.recoverIndex(spark, dest)
    // rolled BACK: both markers gone, both trees intact, source NOT folded
    assert(!fs.exists(p(s"$dest/lists__maintenance")))
    assert(!fs.exists(p(s"$src/lists__maintenance")),
      "rollback must release the source's merge_src marker too")
    assert(spark.read.parquet(s"$dest/lists").count() == destRows)
    assert(spark.read.parquet(s"$src/lists").count() == srcRows)
    // both trees serve again after the rollback
    assert(Similarity.readIndexModels(spark, dest)._1.length == 8)
    assert(Similarity.readIndexModels(spark, src)._1.length == 8)
    // a LEGACY (pre-r18, single-src, no fence) marker cannot prove its
    // validation ran: recovery re-runs the model bit-compare and must
    // REFUSE this mixed-models pair instead of folding it
    mark(dest, s"""{"op":"merge","src":"$src"}""")
    mark(src, s"""{"op":"merge_src","dest":"$dest"}""")
    val eLegacy = intercept[IllegalArgumentException] {
      Similarity.recoverIndex(spark, dest)
    }
    assert(eLegacy.getMessage.contains("models differ"), eLegacy.getMessage)
    assert(spark.read.parquet(s"$src/lists").count() == srcRows,
      "a refused legacy resume must not consume the source")
    fs.delete(p(s"$dest/lists__maintenance"), false)
    fs.delete(p(s"$src/lists__maintenance"), false)
  }

  test("mergeIndexAll folds N shards under ONE marker cycle; a crashed n-ary fold resumes past consumed sources") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val cents = Similarity.ivfTrain(corpus, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val books = Similarity.pqTrain(corpus, "corpus_id", "embedding", 64,
      iters = 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def build(df: org.apache.spark.sql.DataFrame, tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_nmrg_$tag").toString
      Similarity.writeIndex(df, d, "corpus_id", "embedding", 64,
        trainedIvf = Some(cents), trainedPq = Some(books))
      d
    }
    val whole = build(corpus, "whole")
    val dest = build(corpus.filter(col("corpus_id") % 4 === 0), "m0")
    val shards = (1 to 3).map(r =>
      build(corpus.filter(col("corpus_id") % 4 === r), s"m$r"))
    Similarity.mergeIndexAll(spark, dest, shards)
    shards.foreach(s =>
      assert(!fs.exists(p(s)), s"n-ary merge must consume shard $s"))
    def perCid(d: String) = spark.read.parquet(s"$d/lists")
      .groupBy("__cid").count().as[(Int, Long)].collect().toMap
    assert(perCid(dest) == perCid(whole),
      "3-shard fold must equal the whole build list-by-list")
    // planted serve across all four quarters through the folded tree
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val got = Similarity.indexTopKDistributed(spark, dest, queries, corpus,
      k = 1).select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(got.size == 20 && got.forall { case (q, c) => c == q - 1000000L },
      got.toString)
    // duplicate / self sources refuse loudly before any lock is taken
    val d2 = build(corpus.filter(col("corpus_id") % 4 === 0), "m0b")
    val s2 = build(corpus.filter(col("corpus_id") % 4 === 1), "m1b")
    val eDup = intercept[IllegalArgumentException] {
      Similarity.mergeIndexAll(spark, d2, Seq(s2, s2))
    }
    assert(eDup.getMessage.contains("duplicate"), eDup.getMessage)
    assert(!fs.exists(p(s"$s2/lists__maintenance")),
      "a refused n-ary merge must not leave source markers")
    // crash mid-fold: a VALIDATED n-ary marker whose first source is
    // already consumed (dir gone) and whose others still hold their
    // merge_src markers — recovery must skip the consumed one and fold
    // the rest, then release everything
    val s3 = build(corpus.filter(col("corpus_id") % 4 === 2), "m2b")
    val consumed = s"${s2}__already_consumed"
    def mark(d: String, body: String): Unit = {
      val o = fs.create(p(s"$d/lists__maintenance"), true)
      o.write(body.getBytes("UTF-8")); o.close()
    }
    mark(d2,
      s"""{"op":"merge","srcs":["$consumed","$s2","$s3"],"validated":true}""")
    mark(s2, s"""{"op":"merge_src","dest":"$d2"}""")
    mark(s3, s"""{"op":"merge_src","dest":"$d2"}""")
    Similarity.recoverIndex(spark, d2)
    assert(!fs.exists(p(s2)) && !fs.exists(p(s3)),
      "resume must consume the remaining sources")
    assert(!fs.exists(p(s"$d2/lists__maintenance")))
    val expect = corpus.filter(col("corpus_id") % 4 <= 2).count()
    assert(spark.read.parquet(s"$d2/lists").count() == expect)
  }

  test("an append whose lease was reclaimed mid-run fails LOUDLY instead of reporting success") {
    // the residual window even WITH heartbeats: an append stalled past
    // staleLeaseMs between two beats is judged dead and reclaimed; when it
    // resumes, its rows may be swapped away by the maintenance that
    // reclaimed it — the append must surface that as an ERROR (re-run),
    // never as success. Simulated by deleting the lease while the append
    // runs (the beat never RECREATES a missing lease — recreating would
    // silently overtake the reclaim).
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_rcl").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 300), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalStateException] {
      Similarity.appendToIndexImpl(
        corpus.filter(col("corpus_id") >= 300), dir, "corpus_id",
        "embedding", 64, None, onStep = {
          case "leased" =>
            Similarity.appendLeases(fs, dir)
              .foreach(st => fs.delete(st.getPath, false))
          case _ => ()
        })
    }
    assert(e.getMessage.contains("reclaimed"), e.getMessage)
  }

  test("rebuild commit gate acquires the marker before the snapshot and refuses live leases") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_rgate").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") % 2 === 0), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 2)
    val evenCount = corpus.filter(col("corpus_id") % 2 === 0).count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // an append IN FLIGHT at commit time (lease on disk, files not yet
    // landed — the r15 TOCTOU's invisible case): the gate must refuse on
    // the LEASE, before the file-set comparison could be fooled
    val lease = s"$dir/lists__appending_inflight"
    val e = intercept[IllegalStateException] {
      Similarity.rebuildIndexImpl(spark, dir, corpus, "corpus_id",
        "embedding", 64, 16, 8, 16, 2, 42L, "", {
          case "staged" =>
            val out = fs.create(p(lease), true)
            out.write("""{"op":"append"}""".getBytes("UTF-8")); out.close()
          case _ => ()
        })
    }
    assert(e.getMessage.contains("in flight"), e.getMessage)
    // refusal left nothing held and the old index servable as-is
    assert(!fs.exists(p(s"$dir/lists__maintenance")), "marker left behind")
    assert(!fs.exists(p(s"${dir}__rebuild_staging")), "staging left behind")
    fs.delete(p(lease), false)
    assert(Similarity.readIndexModels(spark, dir)._1.length == 8)
    assert(spark.read.parquet(s"$dir/lists").count() == evenCount)
    // lease gone: the rebuild now commits
    Similarity.rebuildIndex(spark, dir, corpus, "corpus_id", "embedding",
      64, nCentroids = 16, iters = 2)
    assert(Similarity.readIndexManifest(spark, dir).nCentroids == 16)
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
  }

  test("writeIndex guards: refuses mid-maintenance trees and live-lease overwrites; manifest written last") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_wg").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // a crashed-maintenance marker means recoverIndex owns this dir — a
    // blind writeIndex over it was the r15 'unknown writer' hole
    val out = fs.create(p(s"$dir/lists__maintenance"), true)
    out.write("""{"op":"compact"}""".getBytes("UTF-8")); out.close()
    val e1 = intercept[IllegalArgumentException] {
      Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64)
    }
    assert(e1.getMessage.contains("recoverIndex"), e1.getMessage)
    fs.delete(p(s"$dir/lists__maintenance"), false)
    // a live append lease: overwriting the tree under it would lose rows
    val lease = s"$dir/lists__appending_live"
    val out2 = fs.create(p(lease), true)
    out2.write("""{"op":"append"}""".getBytes("UTF-8")); out2.close()
    val e2 = intercept[IllegalStateException] {
      Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64)
    }
    assert(e2.getMessage.contains("in flight"), e2.getMessage)
    fs.delete(p(lease), false)
    // manifest-last: a torn overwrite (crash before the manifest write)
    // reads as a MISSING manifest — loud at every open, never a fresh
    // manifest over half-old components (silently wrong ADC)
    fs.delete(p(s"$dir/manifest.json"), false)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.readIndexModels(spark, dir)
    }
    assert(e3.getMessage.contains("manifest"), e3.getMessage)
    // a clean re-write restores the manifest as the final step
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2)
    assert(Similarity.readIndexManifest(spark, dir).nCentroids == 8)
  }

  test("recoverIndex leaves a rebuild's sibling staging tree unless told to reclaim it") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_rs").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // a sibling staging tree is indistinguishable from a rebuild RUNNING
    // right now (staging is unmarked by design) — default recovery must
    // not destroy the corpus-scale train+encode work
    fs.mkdirs(p(s"${dir}__rebuild_staging/lists"))
    Similarity.recoverIndex(spark, dir)
    assert(fs.exists(p(s"${dir}__rebuild_staging")),
      "default recovery must not reclaim a possibly-live staging tree")
    Similarity.recoverIndex(spark, dir, reclaimRebuildStaging = true)
    assert(!fs.exists(p(s"${dir}__rebuild_staging")),
      "explicit reclaim must remove the orphan staging tree")
  }

  test("manifest-default dim and AUTO shortlist derive from the index's own geometry") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_auto").toString
    // 2 lists over 500 rows: auto shortlist = ceil(n/k) = 250 > the 32 floor
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 2, iters = 3)
    val n = corpus.count()
    val expected = math.max(32, math.ceil(n.toDouble / 2).toInt)
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    // dim OMITTED (manifest-resolved) + shortlist = 0 (auto)
    val auto = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, shortlist = 0)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    // must equal the hand-passed grid point the rule resolves to
    val explicit = Similarity.indexTopKDistributed(spark, dir, queries,
        corpus, k = 1, dim = 64, shortlist = expected)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(auto == explicit, s"auto shortlist must equal explicit $expected")
    assert(auto.size == 10)
    assert(auto.forall { case (q, c) => c == q - 1000L }, auto.toString)
    // the streaming path resolves both the same way
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val short = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_ann_auto",
      Similarity.indexShortlistStream(spark, dir, qStream, shortlist = 0))
    val top1 = Similarity.rerankTopK(short,
      emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000L).as("query_id"),
          transform(col("embedding"), x => x + lit(0.02f)).as("embedding")),
      corpus, k = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1 == auto)
    // AUTO nProbe (≤ 0 ⇒ ceil(√nCentroids)) — resolveShortlist's companion:
    // a 16-list index resolves to the hand-tuned nProbe=4 grid point, so
    // auto-vs-explicit results are IDENTICAL by construction
    val dir16 = java.nio.file.Files.createTempDirectory("graft_annidx_ap").toString
    Similarity.writeIndex(corpus, dir16, "corpus_id", "embedding", 64,
      nCentroids = 16, iters = 3)
    val autoProbe = Similarity.indexTopKDistributed(spark, dir16, queries,
        corpus, k = 1, nProbe = 0)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    val explicitProbe = Similarity.indexTopKDistributed(spark, dir16, queries,
        corpus, k = 1, nProbe = 4)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(autoProbe == explicitProbe,
      "auto nProbe must equal the explicit √k grid point")
    assert(autoProbe.forall { case (q, c) => c == q - 1000L }, autoProbe.toString)
  }

  test("streaming ingest holds the lease: maintenance mid-batch refuses, stream completes, rows exact") {
    // the composition the leases exist for: drainForeach appends per
    // micro-batch while a maintenance attempt lands mid-batch — it must
    // refuse LOUDLY, the stream must complete, and every row must be there
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_sing").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 250), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val models = Similarity.readIndexModels(spark, dir)
    val refused = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") >= 250)
      .select(col("vec_id").as("corpus_id"), col("embedding"))
    graft.streaming.StreamingIngest.drainForeach(stream, batch =>
      Similarity.appendToIndexImpl(batch, dir, "corpus_id", "embedding", 64,
        Some(models), onStep = {
          case "leased" if refused.get() == null =>
            refused.set(intercept[IllegalStateException] {
              Similarity.compactIndex(spark, dir)
            })
          case _ => ()
        }))
    assert(refused.get() != null, "maintenance attempt never ran mid-batch")
    assert(refused.get().getMessage.contains("in flight"),
      refused.get().getMessage)
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count(),
      "stream must complete with every row present")
    // stream done, leases released: the same maintenance now succeeds
    Similarity.compactIndex(spark, dir)
    val queries = emb.filter(col("vec_id") >= 490)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
  }

  test("MaxSim late-interaction retrieval: exact contract, pruned degeneracy, planted top-1") {
    val emb = Tables.load(spark, sf, "embeddings")
    // multi-vector documents: 4 token vectors per doc (125 docs over the
    // 500-vector fixture); queries are the first 10 docs' token bags,
    // perturbed — MaxSim must rank each query's ORIGINAL doc first
    val corpusTok = emb.select((col("vec_id") / 4).cast("long").as("corpus_id"),
      col("embedding"))
    val queryTok = emb.filter(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val exact = Similarity.maxSimTopK(queryTok, corpusTok, k = 3)
    val top1 = exact.filter(col("rank") === 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000000L }, top1.toString)
    // the score is a true MaxSim: ~4 near-perfect token matches per planted pair
    val s1 = exact.filter(col("rank") === 1).select("maxsim")
      .as[Double].collect()
    assert(s1.forall(s => s > 3.9 && s <= 4.0001), s1.mkString(","))
    // pruned path at full nProbe degenerates to EXACT (every list probed
    // ⇒ every doc with any token a candidate ⇒ identical top-k sets)
    val cents = Similarity.ivfTrain(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      64, nCentroids = 16, iters = 3)
    val prunedFull = Similarity.maxSimTopKPruned(queryTok, corpusTok,
      k = 3, dim = 64, nProbe = 16, trained = Some(cents))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(rows(prunedFull) == rows(exact),
      "full-probe pruned MaxSim must equal the exact path")
    // pruned at serving nProbe keeps the planted contract (the near-copy
    // tokens share their originals' probe sets within the margin)
    val pruned = Similarity.maxSimTopKPruned(queryTok, corpusTok,
      k = 1, dim = 64, nProbe = 4, trained = Some(cents))
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(pruned.size == 10)
    assert(pruned.forall { case (q, c) => c == q - 1000000L }, pruned.toString)
    // a large token quantizer runs through the same exact kernel: probing
    // every list still equals the exact path
    val bigCents = Array.tabulate(2176, 64)((i, j) =>
      (((i * 131 + j * 17) % 997) / 997.0f))
    assert(rows(Similarity.maxSimTopKPruned(queryTok, corpusTok, k = 3,
      dim = 64, nProbe = bigCents.length, trained = Some(bigCents))) == rows(exact),
      "full-probe pruned MaxSim at k = 2176 must equal the exact path")
    // STORED-token-index first stage: same frozen coarse model ⇒ identical
    // results to the in-memory pruned path by construction, and the lists
    // scan is DPP-pruned like every stored serve
    val corpusTokId = emb.select(
      col("vec_id").as("token_id"),
      (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_maxsim_idx").toString
    Similarity.writeIndex(corpusTokId, dir, "token_id", "embedding", 64,
      trainedIvf = Some(cents),
      trainedPq = Some(Similarity.pqTrain(corpusTokId, "token_id",
        "embedding", 64, iters = 2)))
    val indexed = Similarity.maxSimTopKIndexed(spark, dir, queryTok,
      corpusTokId, k = 3, nProbe = 4)
    val prunedSame = Similarity.maxSimTopKPruned(queryTok, corpusTok,
      k = 3, dim = 64, nProbe = 4, trained = Some(cents))
    assert(rows(indexed) == rows(prunedSame),
      "stored-index MaxSim first stage must equal the in-memory pruned path")
    val plan = indexed.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"indexed MaxSim lost dynamic partition pruning:\n$plan")
    // per-query POSITIONAL token ids (0..3 repeated across queries) yield
    // IDENTICAL results — probes are keyed on (queryId, tokenId), never
    // re-joined on tokenId alone (the cross-query probe fanout)
    val queryTokPos = queryTok.withColumn("token_id", col("token_id") % 4)
    val prunedPos = Similarity.maxSimTopKPruned(queryTokPos, corpusTok,
      k = 3, dim = 64, nProbe = 4, trained = Some(cents))
    assert(rows(prunedPos) == rows(prunedSame),
      "positional token ids changed the pruned path's results")
    val indexedPos = Similarity.maxSimTopKIndexed(spark, dir, queryTokPos,
      corpusTokId, k = 3, nProbe = 4)
    assert(rows(indexedPos) == rows(indexed),
      "positional token ids changed the indexed path's results")
  }

  test("MaxSim recall on STRUCTURED token geometry is >= the structureless floor at equal nProbe") {
    // the SCALE.md grids run on structureless random embeddings — the
    // honest floor for data-adaptive pruning. This anchors the claim
    // "real token distributions sit above": tokens drawn around per-topic
    // base directions (doc topic = id % 12, deterministic bases, the
    // fixture vector as noise) give the trained quantizer real cluster
    // signal, so pruned recall at the SAME nProbe must come out >= the
    // structureless lane's. Everything is seeded — the compare is stable.
    val emb = Tables.load(spark, sf, "embeddings")
    val dim = 64; val k = 5; val nQ = 40
    def prunedRecall(tok: org.apache.spark.sql.DataFrame): Double = {
      val q = tok.filter(col("token_id") < nQ)
        .select((col("corpus_id") + 1000000L).as("query_id"),
          col("token_id"), col("embedding"))
      val corpusTok = tok.select(col("corpus_id"), col("embedding"))
      val exact = Similarity.maxSimTopK(q, corpusTok, k)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      val cents = Similarity.ivfTrain(tok, "token_id", "embedding", dim,
        nCentroids = 16, iters = 3)
      val pruned = Similarity.maxSimTopKPruned(q, corpusTok, k, dim,
        nProbe = 1, trained = Some(cents))
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      exact.intersect(pruned).size.toDouble / exact.size
    }
    val flat = emb.select((col("vec_id") / 4).cast("long").as("corpus_id"),
      col("vec_id").as("token_id"), col("embedding"))
    val nTopics = 12
    val bases = Array.tabulate(nTopics, dim)((t, j) =>
      (((t * 37 + j * 101) % 211) / 211.0f) - 0.5f)
    val baseLit = typedlit(bases.map(_.toSeq).toSeq)
    val clustered = flat
      .withColumn("__t", (col("corpus_id") % nTopics).cast("int"))
      .withColumn("embedding", zip_with(
        element_at(baseLit, col("__t") + 1), col("embedding"),
        (b, e) => b + e * lit(0.35f)))
      .drop("__t")
    val rFlat = prunedRecall(flat)
    val rClus = prunedRecall(clustered)
    assert(rClus >= rFlat,
      f"clustered recall $rClus%.3f fell below the structureless floor $rFlat%.3f")
  }

  test("owner-carrying token index: candidates from the index tree alone, ownership survives the lifecycle") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpusTok = emb.select(col("vec_id").as("token_id"),
      (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
    val queryTok = emb.filter(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val cents = Similarity.ivfTrain(corpusTok, "token_id", "embedding", 64,
      nCentroids = 16, iters = 3)
    val books = Similarity.pqTrain(corpusTok, "token_id", "embedding", 64,
      iters = 2)
    val dirO = java.nio.file.Files.createTempDirectory("graft_msown_o").toString
    val dirN = java.nio.file.Files.createTempDirectory("graft_msown_n").toString
    Similarity.writeIndex(corpusTok, dirO, "token_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books),
      ownerCol = "corpus_id")
    Similarity.writeIndex(corpusTok, dirN, "token_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    // identical results whether ownership is stored or re-attached
    val viaOwner = Similarity.maxSimTopKIndexed(spark, dirO, queryTok,
      corpusTok, k = 3, nProbe = 4)
    val viaJoin = Similarity.maxSimTopKIndexed(spark, dirN, queryTok,
      corpusTok, k = 3, nProbe = 4)
    assert(rows(viaOwner) == rows(viaJoin),
      "stored ownership changed the indexed MaxSim results")
    // the candidate stage of the OWNER index scans the query tokens and
    // the index tree ONLY — the ownerless form needs a second scan of the
    // corpus-token source to re-attach ownership (the 100 TB cost)
    def srcScans(df: org.apache.spark.sql.DataFrame): Int =
      "embeddings".r.findAllIn(df.queryExecution.executedPlan.toString()).length
    val candO = Similarity.maxSimIndexedCandidates(spark, dirO, queryTok,
      corpusTok, cents, 4, "query_id", "token_id", "corpus_id", "token_id",
      "embedding")
    val candN = Similarity.maxSimIndexedCandidates(spark, dirN, queryTok,
      corpusTok, cents, 4, "query_id", "token_id", "corpus_id", "token_id",
      "embedding")
    assert(srcScans(candO) < srcScans(candN),
      s"owner path still scans the corpus-token source: " +
        s"${srcScans(candO)} vs ${srcScans(candN)}")
    // the owner path keeps dynamic partition pruning on the lists scan —
    // storing ownership must not cost the probe-driven file pruning
    val candOPlan = candO.queryExecution.executedPlan.toString()
    assert(candOPlan.contains("dynamicpruning"),
      s"owner-path candidates lost DPP:\n$candOPlan")
    // ownership survives the WHOLE maintenance lifecycle: append (with the
    // schema-checked ownerCol), compact, split, delete — owner column
    // present and correct after each
    val dirL = java.nio.file.Files.createTempDirectory("graft_msown_l").toString
    Similarity.writeIndex(corpusTok.filter(col("token_id") < 300), dirL,
      "token_id", "embedding", 64, trainedIvf = Some(cents),
      trainedPq = Some(books), ownerCol = "corpus_id")
    // an ownerless append on an owner index is LOUD, not silently mixed
    val eApp = intercept[IllegalArgumentException] {
      Similarity.appendToIndex(corpusTok.filter(col("token_id") >= 300),
        dirL, "token_id", "embedding", 64)
    }
    assert(eApp.getMessage.contains("owner"), eApp.getMessage)
    Similarity.appendToIndex(corpusTok.filter(col("token_id") >= 300), dirL,
      "token_id", "embedding", 64, ownerCol = "corpus_id")
    Similarity.compactIndex(spark, dirL)
    Similarity.splitList(spark, dirL, Similarity.hottestList(spark, dirL),
      iters = 2)
    Similarity.deleteFromIndex(spark, dirL,
      corpusTok.filter(col("token_id") < 8).select("token_id"), "token_id")
    val after = spark.read.parquet(s"$dirL/lists")
    assert(after.schema.fieldNames.contains("owner"),
      "maintenance dropped the owner column")
    val wrong = after.filter(col("owner") =!= (col("corpus_id") / 4)
      .cast("long")).count()
    assert(wrong == 0, s"$wrong rows with corrupted ownership")
    assert(after.count() == corpusTok.count() - 8)
    // a rebuild must re-supply ownership explicitly — silent loss is LOUD
    val eReb = intercept[IllegalArgumentException] {
      Similarity.rebuildIndex(spark, dirL, corpusTok, "token_id",
        "embedding", 64, iters = 2)
    }
    assert(eReb.getMessage.contains("owner"), eReb.getMessage)
    Similarity.rebuildIndex(spark, dirL, corpusTok, "token_id", "embedding",
      64, iters = 2, ownerCol = "corpus_id")
    assert(spark.read.parquet(s"$dirL/lists")
      .schema.fieldNames.contains("owner"))
    assert(spark.read.parquet(s"$dirL/lists").count() == corpusTok.count())
  }

  test("streaming MaxSim: planted top-1 through the stream, scores one-sided vs exact") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpusTok = emb.select(col("vec_id").as("token_id"),
      (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_maxsim_str").toString
    Similarity.writeIndex(corpusTok, dir, "token_id", "embedding", 64,
      nCentroids = 16, iters = 3)
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val scored = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_maxsim_stream",
      Similarity.maxSimStream(spark, dir, qStream, corpusTok, nProbe = 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("maxsim").desc, col("corpus_id"))
    val top1 = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000000L }, top1.toString)
    // bounded approximation: a met token's contribution is <= the exact
    // per-token max, and an unmet token contributes 0 where the exact max
    // may be NEGATIVE — so streamed <= sum(max(exact per-token max, 0))
    val queryTok = emb.filter(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val clampedExact = corpusTok
      .select(col("corpus_id"), col("embedding").as("cv"))
      .crossJoin(queryTok.select(col("query_id"), col("token_id"),
        col("embedding").as("qv")))
      .withColumn("cos", Similarity.cosine(col("qv"), col("cv")))
      .groupBy("query_id", "token_id", "corpus_id")
      .agg(max(col("cos")).as("m"))
      .groupBy("query_id", "corpus_id")
      .agg(sum(greatest(col("m"), lit(0.0))).as("__ex"))
    val sided = scored.join(clampedExact, Seq("query_id", "corpus_id"))
      .select((col("maxsim") <= col("__ex") + lit(1e-9)).as("ok"))
      .as[Boolean].collect()
    assert(sided.nonEmpty && sided.forall(identity),
      "streamed MaxSim must never exceed the clamped exact bound")
    // and the planted pairs are scored EXACTLY (all their tokens meet)
    val planted = scored.filter(col("corpus_id") === col("query_id") - 1000000L)
      .select("maxsim").as[Double].collect()
    assert(planted.length == 10 && planted.forall(s => s > 3.9 && s <= 4.0001),
      planted.mkString(","))
    // the prescribed tail: streamed top-N candidates re-ranked EXACTLY —
    // with the full cross product maxSimRerank IS maxSimTopK, and on the
    // streamed top-5 it restores exact top-1 semantics on the survivors
    val allPairs = queryTok.select(col("query_id"))
      .distinct().crossJoin(corpusTok.select(col("corpus_id")).distinct())
    val viaRerank = Similarity.maxSimRerank(allPairs, queryTok, corpusTok, k = 3)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val viaExact = Similarity.maxSimTopK(queryTok, corpusTok, k = 3)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(viaRerank == viaExact,
      "maxSimRerank over the full cross product must equal maxSimTopK")
    val streamedTop5 = scored.withColumn("r", row_number().over(w))
      .filter(col("r") <= 5).select("query_id", "corpus_id")
    val rr = Similarity.maxSimRerank(streamedTop5, queryTok, corpusTok, k = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(rr.size == 10)
    assert(rr.forall { case (q, c) => c == q - 1000000L }, rr.toString)
  }

  test("streaming MaxSim serves PAST the literal probe regime via group-granular probes") {
    // k = 2176 token centroids (≥ centroidTableThreshold — immediate at
    // 100 TB where k ∝ n tokens): r17 refused this regime loudly; the
    // probe stage now runs the same √k group ladder as
    // indexShortlistStream — groupProbe nearest literal SUPERS per token,
    // one stateless broadcast join fanning groups to member cids. The
    // planted contract and the one-sided bound must hold unchanged.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpusTok = emb.select(col("vec_id").as("token_id"),
      (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_maxsim_bigk").toString
    val cents = Array.tabulate(2176, 64)((i, j) =>
      (((i * 131 + j * 17) % 997) / 997.0f) - 0.5f)
    val books = Similarity.pqTrain(corpusTok, "token_id", "embedding", 64,
      iters = 2)
    Similarity.writeIndex(corpusTok, dir, "token_id", "embedding", 64,
      trainedIvf = Some(cents), trainedPq = Some(books))
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val scored = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_maxsim_bigk",
      Similarity.maxSimStream(spark, dir, qStream, corpusTok, nProbe = 4,
        shortlist = 16, groupProbe = 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("maxsim").desc, col("corpus_id"))
    val top1 = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000000L }, top1.toString)
    // the one-sided bound is probe-regime-independent: streamed ≤
    // Σ max(exact per-token max, 0) per (query, doc)
    val queryTok = emb.filter(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val clampedExact = corpusTok
      .select(col("corpus_id"), col("embedding").as("cv"))
      .crossJoin(queryTok.select(col("query_id"), col("token_id"),
        col("embedding").as("qv")))
      .withColumn("cos", Similarity.cosine(col("qv"), col("cv")))
      .groupBy("query_id", "token_id", "corpus_id")
      .agg(max(col("cos")).as("m"))
      .groupBy("query_id", "corpus_id")
      .agg(sum(greatest(col("m"), lit(0.0))).as("__ex"))
    val sided = scored.join(clampedExact, Seq("query_id", "corpus_id"))
      .select((col("maxsim") <= col("__ex") + lit(1e-9)).as("ok"))
      .as[Boolean].collect()
    assert(sided.nonEmpty && sided.forall(identity),
      "ladder-probed streamed MaxSim must never exceed the clamped exact bound")
    // SUPERSET anchor: at a higher groupProbe the probed-group union only
    // grows, so every (query, doc) score is monotonically ≥ the lower
    // groupProbe's (more met pairs, max-merge per token, same eviction
    // champion ordering for the planted top) — deterministic on the
    // planted pairs, which meet all their tokens at groupProbe = 6
    val planted = scored.filter(col("corpus_id") === col("query_id") - 1000000L)
      .select("maxsim").as[Double].collect()
    assert(planted.length == 10 && planted.forall(s => s > 3.9 && s <= 4.0001),
      planted.mkString(","))
  }

  test("streaming MaxSim state is bounded per query: top-N doc map, champion admission, planted survives any schedule") {
    // the r16 design gap: state keyed per (query, doc) grew with the
    // CORPUS (every doc owning a probed token), not with k. Now ONE
    // aggregation per query holds a top-N doc map — prove the bound at
    // the aggregator level under a fanout far past N, on every schedule.
    val agg = new Similarity.MaxSimTopNAgg(4)
    var buf = agg.zero
    for (doc <- 0L until 60L; t <- 0L until 3L)
      buf = agg.reduce(buf, (doc, t, 0.10 + (doc % 7).toDouble * 0.05))
    assert(buf._1.size <= 4, s"buffer grew past N: ${buf._1.size}")
    // champion admission: a single strong pair displaces weak-champion
    // docs no matter how many pairs they accumulated
    buf = agg.reduce(buf, (999L, 0L, 0.99))
    assert(buf._1.size <= 4 && buf._1.contains(999L), buf.toString)
    // an admitted doc keeps accumulating per-token maxes exactly
    buf = agg.reduce(buf, (999L, 1L, 0.80))
    buf = agg.reduce(buf, (999L, 1L, 0.70)) // below the running max: no-op
    val toks999 = buf._1(999L).toMap
    assert(toks999(0L) == 0.99 && toks999(1L) == 0.80, toks999.toString)
    // the cached weakest-champion bound stays a LOWER bound of the true
    // weakest (champions only rise), so the O(1) reject can never drop an
    // admissible pair
    assert(buf._2 <= buf._1.values.map(ts => ts.map(_._2).max).min + 1e-12,
      s"cache ${buf._2} above the true weakest")
    // merge respects the bound and merges per-token maxes, not sums
    val merged = agg.merge(buf, buf)
    assert(merged._1.size <= 4, merged.toString)
    assert(agg.finish(merged).find(_._1 == 999L).get._2 === 0.99 + 0.80)
    // end-to-end: a shortlist FAR below the candidate fanout still returns
    // ≤ N docs per query with the planted original top-1 (champion ≈ 1.0
    // admits it on any arrival order; natural champions ≈ 0.5 cannot
    // displace it)
    val emb = Tables.load(spark, sf, "embeddings")
    val corpusTok = emb.select(col("vec_id").as("token_id"),
      (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_maxsim_bnd").toString
    Similarity.writeIndex(corpusTok, dir, "token_id", "embedding", 64,
      nCentroids = 16, iters = 3)
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val scored = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_maxsim_bounded",
      Similarity.maxSimStream(spark, dir, qStream, corpusTok, nProbe = 4,
        shortlist = 3))
    val perQuery = scored.groupBy("query_id").count()
      .select("count").as[Long].collect()
    assert(perQuery.length == 10 && perQuery.forall(_ <= 3),
      s"state bound leaked: ${perQuery.mkString(",")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("maxsim").desc, col("corpus_id"))
    val top1 = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000000L }, top1.toString)
  }

  test("filtered MaxSim: doc-level pre-filter keeps the k contract on the indexed and streaming paths") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpusTok = emb.select(col("vec_id").as("token_id"),
      (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_maxsim_filt").toString
    Similarity.writeIndex(corpusTok, dir, "token_id", "embedding", 64,
      nCentroids = 16, iters = 3)
    val queryTok = emb.filter(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    // doc-level predicate: even doc ids only
    val got = Similarity.maxSimTopKIndexed(spark, dir, queryTok, corpusTok,
        k = 1, nProbe = 4, filter = Some(col("corpus_id") % 2 === 0))
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    // k contract: every query returns a row; every hit satisfies the
    // predicate; allowed originals found, excluded never returned
    assert(got.length == 10, got.mkString(","))
    assert(got.forall(_._2 % 2 == 0), got.mkString(","))
    for ((q, c) <- got) {
      val orig = q - 1000000L
      if (orig % 2 == 0) assert(c == orig, s"allowed $orig lost for $q")
      else assert(c != orig, s"excluded $orig returned for $q")
    }
    // streaming path: same contract through the allowed-ids static side
    val allowed = corpusTok.select("corpus_id").distinct()
      .filter(col("corpus_id") % 2 === 0)
    val qStream = graft.streaming.StreamingIngest.loadStream(spark, sf, "embeddings")
      .where(col("vec_id") < 40)
      .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
        col("vec_id").as("token_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val scored = graft.streaming.StreamingIngest.runBoundedAggregation(spark,
      "simspec_maxsim_sfilt",
      Similarity.maxSimStream(spark, dir, qStream, corpusTok, nProbe = 4,
        allowed = Some(allowed)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("maxsim").desc, col("corpus_id"))
    val sGot = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    assert(sGot.length == 10, sGot.mkString(","))
    assert(sGot.forall(_._2 % 2 == 0), sGot.mkString(","))
    for ((q, c) <- sGot) {
      val orig = q - 1000000L
      if (orig % 2 == 0) assert(c == orig, s"allowed $orig lost for $q (stream)")
      else assert(c != orig, s"excluded $orig returned for $q (stream)")
    }
  }

  test("writeIndex overwrite runs under the marker; a torn overwrite recovers to a loud re-writable state") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_ow").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // simulate the mid-overwrite crash state writeIndex produces: marker
    // held (op=overwrite), old manifest already dropped
    val out = fs.create(p(s"$dir/lists__maintenance"), true)
    out.write("""{"op":"overwrite"}""".getBytes("UTF-8")); out.close()
    fs.delete(p(s"$dir/manifest.json"), false)
    // appends and serve opens refuse on the marker (stop-the-world)
    intercept[IllegalArgumentException] {
      Similarity.appendToIndex(corpus.limit(1), dir, "corpus_id",
        "embedding", 64)
    }
    intercept[IllegalArgumentException] { Similarity.readIndexModels(spark, dir) }
    // recovery drops the marker; the tree stays LOUD (missing manifest) —
    // never silently servable with possibly-torn components
    Similarity.recoverIndex(spark, dir)
    assert(!fs.exists(p(s"$dir/lists__maintenance")))
    val e = intercept[IllegalArgumentException] {
      Similarity.readIndexModels(spark, dir)
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
    // the documented repair — re-running writeIndex — restores service
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2)
    assert(Similarity.readIndexModels(spark, dir)._1.length == 8)
    // and a clean OVERWRITE (manifest present) completes end-to-end,
    // leaving no marker behind
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 4, iters = 2)
    assert(Similarity.readIndexManifest(spark, dir).nCentroids == 4)
    assert(!fs.exists(p(s"$dir/lists__maintenance")),
      "completed overwrite left its marker")
  }

  test("lease/marker race under REAL concurrency: rows are never silently lost") {
    // the protocol's whole point, driven by actual racing threads instead
    // of the step-hook seam: an append and a compact launched together may
    // each succeed or refuse loudly (under contention both can refuse — the
    // documented trade), but a SUCCESSFUL append's rows must always be in
    // the index and a refusal must leave nothing held. The assertion is the
    // invariant, not the schedule, so the test is timing-independent.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_race2").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 300), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val models = Similarity.readIndexModels(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    var appended = 0L
    for (round <- 0 until 5) {
      val lo = 300 + round * 40
      val batch = corpus.filter(col("corpus_id") >= lo &&
        col("corpus_id") < lo + 40)
      val batchN = batch.count()
      @volatile var appendErr: Option[Throwable] = None
      @volatile var compactErr: Option[Throwable] = None
      val tA = new Thread(() =>
        try Similarity.appendToIndex(batch, dir, "corpus_id", "embedding",
          64, models = Some(models))
        catch { case e: Throwable => appendErr = Some(e) })
      val tC = new Thread(() =>
        try Similarity.compactIndex(spark, dir)
        catch { case e: Throwable => compactErr = Some(e) })
      tA.start(); tC.start(); tA.join(); tC.join()
      // refusals must be the LOUD contract errors, never data damage
      for (e <- appendErr ++ compactErr)
        assert(e.isInstanceOf[IllegalStateException] ||
          e.isInstanceOf[IllegalArgumentException],
          s"round $round: unexpected ${e.getClass}: ${e.getMessage}")
      if (appendErr.isEmpty) appended += batchN
      // nothing may be left held after the round, whatever the outcome
      assert(!fs.exists(p(s"$dir/lists__maintenance")),
        s"round $round left the marker")
      assert(Similarity.appendLeases(fs, dir).isEmpty,
        s"round $round left a lease")
      // the invariant: every successful append's rows are ALL present
      assert(spark.read.parquet(s"$dir/lists").count() == 300 + appended,
        s"round $round lost rows (appendErr=$appendErr compactErr=$compactErr)")
    }
    // the index still serves correctly after the contention rounds
    Similarity.compactIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/lists").count() == 300 + appended)
  }

  test("crashed maintenance blocks EVERY append; recovery preserves every pre-crash row") {
    // the r14 race: deleteFromIndex crashes between its two renames for one
    // cid; an appendToIndex with PRE-READ models used to bypass the guard,
    // recreate lists/__cid=N with only the new batch, and recovery then
    // discarded the retired originals. Now the append must fail LOUDLY in
    // that state (models pre-read or not), and recovery must restore the
    // index to exactly its pre-crash rows.
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_race").toString
    Similarity.writeIndex(corpus.filter(col("corpus_id") < 400), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 3)
    val models = Similarity.readIndexModels(spark, dir) // pre-read: the ingest path
    val rowsBefore = spark.read.parquet(s"$dir/lists")
      .select("corpus_id").as[Long].collect().toSet
    // simulate the mid-delete crash: marker held, one live list retired
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val cid = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("__cid=")).head.getName.stripPrefix("__cid=")
    val out = fs.create(p(s"$dir/lists__maintenance"), true)
    out.write("""{"op":"delete"}""".getBytes("UTF-8")); out.close()
    assert(fs.rename(p(s"$dir/lists/__cid=$cid"), p(s"$dir/lists__retired_$cid")))
    // the blind append (pre-read models — the exact bypass path) fails loudly
    intercept[IllegalArgumentException] {
      Similarity.appendToIndex(corpus.filter(col("corpus_id") >= 400), dir,
        "corpus_id", "embedding", 64, models = Some(models))
    }
    Similarity.recoverIndex(spark, dir)
    val rowsAfter = spark.read.parquet(s"$dir/lists")
      .select("corpus_id").as[Long].collect().toSet
    assert(rowsAfter == rowsBefore, "recovery lost or invented rows")
    // and the append now succeeds cleanly
    Similarity.appendToIndex(corpus.filter(col("corpus_id") >= 400), dir,
      "corpus_id", "embedding", 64, models = Some(models))
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
  }

  test("recoverIndex REFUSES the unattributable lists+retired both-present state") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_amb").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val conf = spark.sparkContext.hadoopConfiguration
    // both trees present, NO marker: an unknown writer recreated lists/ —
    // deleting either side could destroy the only complete copy of its rows
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$dir/lists"),
      fs, p(s"$dir/lists__retired"), false, conf)
    val e = intercept[IllegalStateException] { Similarity.recoverIndex(spark, dir) }
    assert(e.getMessage.contains("BOTH present"), e.getMessage)
    fs.delete(p(s"$dir/lists__retired"), true)
    // same refusal for a per-cid retired dir whose LIVE dir also exists
    val cid = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("__cid=")).head.getName.stripPrefix("__cid=")
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$dir/lists/__cid=$cid"),
      fs, p(s"$dir/lists__retired_$cid"), false, conf)
    intercept[IllegalStateException] { Similarity.recoverIndex(spark, dir) }
    fs.delete(p(s"$dir/lists__retired_$cid"), true)
    Similarity.recoverIndex(spark, dir) // clean tree: recovery is a no-op
    assert(Similarity.readIndexModels(spark, dir)._1.length == 8)
    // the SAME both-present state UNDER a compact marker is attributable
    // (no append can have interleaved — appends fail on the marker), so
    // recovery completes the swap: keep lists/, drop the retired copy
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$dir/lists"),
      fs, p(s"$dir/lists__retired"), false, conf)
    val out = fs.create(p(s"$dir/lists__maintenance"), true)
    out.write("""{"op":"compact"}""".getBytes("UTF-8")); out.close()
    Similarity.recoverIndex(spark, dir)
    assert(!fs.exists(p(s"$dir/lists__retired")) &&
      !fs.exists(p(s"$dir/lists__maintenance")),
      "compact-marked both-present state must complete the swap")
    assert(Similarity.readIndexModels(spark, dir)._1.length == 8)
  }

  test("index manifest: wrong-dim open/append and model mismatches fail with the diff") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_mf").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3, corpusSnapshot = "embeddings@unit")
    val mf = Similarity.readIndexManifest(spark, dir)
    assert(mf.dim == 64 && mf.nCentroids == 8 && mf.m == 8 && mf.ksub == 16)
    assert(mf.corpusSnapshot == "embeddings@unit")
    val queries = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000L).as("query_id"), col("embedding"))
    // wrong-dim OPEN: fails at the entry point, naming both values
    val e1 = intercept[IllegalArgumentException] {
      Similarity.indexTopKDistributed(spark, dir, queries, corpus, 1, dim = 32)
    }
    assert(e1.getMessage.contains("caller=32") && e1.getMessage.contains("manifest=64"),
      e1.getMessage)
    // wrong-dim APPEND: would silently mis-encode (64 divides into m=8
    // either way) — must fail loudly instead
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendToIndex(corpus.limit(1), dir, "corpus_id", "embedding",
        dim = 32)
    }
    assert(e2.getMessage.contains("manifest"), e2.getMessage)
    // hand-passed models disagreeing with the manifest: loud diff
    val (cents, books) = Similarity.readIndexModels(spark, dir)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.appendToIndex(corpus.limit(1), dir, "corpus_id", "embedding",
        dim = 64, models = Some((cents.take(4), books)))
    }
    assert(e3.getMessage.contains("n_centroids"), e3.getMessage)
    // a tree with NO manifest is not openable (foreign/pre-manifest index)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/manifest.json"), false)
    val e4 = intercept[IllegalArgumentException] {
      Similarity.readIndexModels(spark, dir)
    }
    assert(e4.getMessage.contains("manifest"), e4.getMessage)
  }

  test("manifest round-trips adversarial corpus-snapshot strings exactly") {
    // the snapshot id is the one free-form string in the manifest — quotes,
    // backslashes, JSON-looking content, and unicode must survive the
    // write/parse cycle bit-exactly (a mangled snapshot would silently
    // mislabel which corpus an index covers)
    val tiny = Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0f, 1f)),
      (5L, Array(1f, 1f, 0f, 0f)))
      .toDF("corpus_id", "embedding")
    for (snap <- Seq("""quote " inside""", """back\slash \" mix""",
        """{"op":"fake","cid":9}""", "naïve—émb: ✓", "")) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_annidx_snap").toString
      Similarity.writeIndex(tiny, dir, "corpus_id", "embedding", 4,
        nCentroids = 2, m = 2, ksub = 2, iters = 1, corpusSnapshot = snap)
      assert(Similarity.readIndexManifest(spark, dir).corpusSnapshot == snap,
        s"snapshot mangled for: $snap")
    }
  }

  test("splitList heals a hot list: crash windows recover, rows preserved, contract survives") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_split").toString
    // 4 coarse lists over 500 vectors: every list is "hot" (~125 rows)
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 4, iters = 3)
    val statsBefore = Similarity.indexStats(spark, dir)
      .select("__cid", "rows").as[(Int, Long)].collect().toMap
    val hot = statsBefore.maxBy(_._2)._1
    val allRows = spark.read.parquet(s"$dir/lists")
      .select("corpus_id").as[Long].collect().toSet
    // ---- crash BEFORE the commit: rollback leaves the original index
    val boom = new RuntimeException("injected crash")
    assert(intercept[RuntimeException] {
      Similarity.splitListImpl(spark, dir, hot, 3, 42L,
        step => if (step == "staged") throw boom)
    } eq boom)
    intercept[IllegalArgumentException] { Similarity.readIndexModels(spark, dir) }
    Similarity.recoverIndex(spark, dir)
    assert(Similarity.readIndexManifest(spark, dir).nCentroids == 4,
      "pre-commit crash must roll BACK")
    assert(spark.read.parquet(s"$dir/lists")
      .select("corpus_id").as[Long].collect().toSet == allRows)
    // ---- crash MID-commit: recovery rolls the split FORWARD
    assert(intercept[RuntimeException] {
      Similarity.splitListImpl(spark, dir, hot, 3, 42L,
        step => if (step == "retired") throw boom)
    } eq boom)
    intercept[IllegalArgumentException] { Similarity.readIndexModels(spark, dir) }
    Similarity.recoverIndex(spark, dir)
    val mfAfter = Similarity.readIndexManifest(spark, dir)
    assert(mfAfter.nCentroids == 5, "mid-commit crash must roll FORWARD")
    val statsAfter = Similarity.indexStats(spark, dir)
      .select("__cid", "rows").as[(Int, Long)].collect().toMap
    // rows preserved exactly; the hot list actually shrank; both children
    // bounded by the parent
    assert(spark.read.parquet(s"$dir/lists")
      .select("corpus_id").as[Long].collect().toSet == allRows)
    assert(statsAfter.values.sum == statsBefore.values.sum)
    assert(statsAfter.getOrElse(hot, 0L) < statsBefore(hot))
    assert(statsAfter.getOrElse(4, 0L) > 0L &&
      statsAfter.getOrElse(4, 0L) < statsBefore(hot))
    // untouched lists are bit-identical in row counts
    for ((c, n) <- statsBefore if c != hot) assert(statsAfter(c) == n)
    // the planted contract survives the split (serving probes the children)
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
  }

  test("distributed serve with hierarchical probes: exact at full groupProbe, contract at 3") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_hsrv").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 16, iters = 3)
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val flat = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // probing ALL √k groups degenerates to exact flat assignment → the
    // serve results must be identical
    val k2 = math.round(math.sqrt(16.0)).toInt
    val hierAll = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3, hierProbe = Some(k2))
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(hierAll == flat, "all-group hier serve != flat serve")
    // restricted probing keeps the planted contract on the fixture, and
    // the plan stays dynamically pruned
    val hier3 = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
      k = 1, dim = 64, nProbe = 3, hierProbe = Some(3))
    val got = hier3.select("query_id", "corpus_id")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 10)
    assert(got.forall { case (q, c) => c == q - 1000L }, got.toString)
    assert(hier3.queryExecution.executedPlan.toString().contains("dynamicpruning"),
      "hier-probed serve lost dynamic partition pruning")
  }

  test("rebuildIndex retrains on the current payload; both crash windows recover") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_reb").toString
    // the index covers only the EVEN half; the payload table has everything
    Similarity.writeIndex(corpus.filter(col("corpus_id") % 2 === 0), dir,
      "corpus_id", "embedding", 64, nCentroids = 8, iters = 2)
    val evenCount = corpus.filter(col("corpus_id") % 2 === 0).count()
    val boom = new RuntimeException("injected crash")
    // ---- crash DURING staging (unmarked by design — serving stays up):
    // the index is untouched, still clean, and immediately servable; the
    // orphan staging tree is reclaimed by the next rebuild
    assert(intercept[RuntimeException] {
      Similarity.rebuildIndexImpl(spark, dir, corpus, "corpus_id",
        "embedding", 64, 16, 8, 16, 2, 42L, "",
        step => if (step == "staged") throw boom)
    } eq boom)
    assert(Similarity.readIndexModels(spark, dir)._1.length == 8,
      "staging crash must leave the old index clean and servable")
    assert(spark.read.parquet(s"$dir/lists").count() == evenCount)
    // ---- an APPEND interleaving the staging build: the commit gate must
    // REFUSE (its rows are not in the staged tree), old index + appended
    // rows intact, nothing held
    val e = intercept[IllegalStateException] {
      Similarity.rebuildIndexImpl(spark, dir, corpus, "corpus_id",
        "embedding", 64, 16, 8, 16, 2, 42L, "",
        step => if (step == "staged")
          Similarity.appendToIndex(
            corpus.filter(col("corpus_id") === 1), dir,
            "corpus_id", "embedding", 64))
    }
    assert(e.getMessage.contains("quiesce"), e.getMessage)
    assert(Similarity.readIndexModels(spark, dir)._1.length == 8)
    assert(spark.read.parquet(s"$dir/lists").count() == evenCount + 1,
      "refused commit must keep the interleaved append's rows")
    // ---- crash MID-commit: recovery rolls the rebuild FORWARD
    assert(intercept[RuntimeException] {
      Similarity.rebuildIndexImpl(spark, dir, corpus, "corpus_id",
        "embedding", 64, 16, 8, 16, 2, 42L, "emb@rebuilt",
        step => if (step == "retired") throw boom)
    } eq boom)
    intercept[IllegalArgumentException] { Similarity.readIndexModels(spark, dir) }
    Similarity.recoverIndex(spark, dir)
    val mf = Similarity.readIndexManifest(spark, dir)
    assert(mf.nCentroids == 16 && mf.corpusSnapshot == "emb@rebuilt",
      "mid-commit crash must roll FORWARD to the rebuilt tree")
    // the rebuilt index covers the FULL payload: both halves searchable
    assert(spark.read.parquet(s"$dir/lists").count() == corpus.count())
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val top1 = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
        k = 1, dim = 64, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(top1.size == 10)
    assert(top1.forall { case (q, c) => c == q - 1000L }, top1.toString)
    // no staging/retired/marker residue anywhere
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    for (left <- Seq(s"$dir/lists__maintenance", s"$dir/lists__retired",
        s"$dir/centroids__retired", s"$dir/codebooks__retired",
        s"${dir}__rebuild_staging"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(left)), s"residue: $left")
  }

  test("filtered serve honors the metadata predicate and keeps the k contract + DPP") {
    val emb = Tables.load(spark, sf, "embeddings")
    // payload carries the metadata column the predicate filters on
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"),
      col("label"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_filt").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 3)
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000L).as("query_id"),
        transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
    val served = Similarity.indexTopKDistributed(spark, dir, queries, corpus,
      k = 1, dim = 64, nProbe = 3, filter = Some(col("label") % 2 === 0))
    val got = served
      .join(corpus.select(col("corpus_id"), col("label")), Seq("corpus_id"))
      .select("query_id", "corpus_id", "label")
      .as[(Long, Long, Int)].collect()
    // k contract: every query gets a row (pre-filter, not post-filter)
    assert(got.length == 20, s"expected 20 rows, got ${got.length}")
    // every returned id satisfies the predicate
    assert(got.forall(_._3 % 2 == 0), got.mkString(","))
    // allowed originals are found; excluded originals can never be returned
    val labelOf = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    for ((q, c, _) <- got) {
      val orig = q - 1000L
      if (labelOf(orig) % 2 == 0) assert(c == orig, s"allowed $orig lost for $q")
      else assert(c != orig, s"excluded $orig returned for $q")
    }
    // the lists scan stays DPP-pruned with the semi-join in the plan
    val plan = served.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"filtered serve lost dynamic partition pruning:\n$plan")
  }

  test("semDedup removes exactly the reference set at k = 32 and k = 2080") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // Gaussian vectors (where the bound prunes nothing), exact and near
    // copies, and a null vector (never assigned, never removed)
    val rnd = new scala.util.Random(17)
    val dim = 16
    val base = Array.fill(500)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val near = Array.tabulate(40)(i =>
      base(i * 7).map(x => x + 1e-2f * rnd.nextGaussian().toFloat))
    val copies = Array.tabulate(10)(i => base(i * 11).clone())
    val vecs = (base ++ near ++ copies).zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      (9999L, null.asInstanceOf[Array[Float]])
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vecs.toSeq, 3))
      .toDF("id", "v")
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val tau = 0.9
    for (k <- Seq(32, 2080)) {
      val cents = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian().toFloat))
      val centData = IvfOracles.arrayData(cents)
      // reference: pairs a < b sharing one of their 2 nearest clusters
      // (flat scan), the later id removed when the cosine reaches tau
      val probes = vecs.filter(_._2 != null).map { case (id, v) =>
        (id, v, IvfOracles.probes(new GenericArrayData(v.map(x => x: Any)), centData, 2)
          .toIntArray().toSet)
      }
      val want = (for {
        (a, va, pa) <- probes.iterator
        (b, vb, pb) <- probes.iterator
        if a < b && (pa & pb).nonEmpty &&
          dotD(va, vb) / (math.sqrt(dotD(va, va)) * math.sqrt(dotD(vb, vb))) >= tau
      } yield b).toSet
      val out = Similarity.semDedup(df, "id", "v", dim, tau, nCentroids = k,
        nProbe = 2, trained = Some(cents))
      assert(out.count() == vecs.length, s"k=$k: one output row per input row")
      val got = out.where(col("removed")).select("id").as[Long].collect().toSet
      assert(want.size >= 40, s"k=$k: the reference found only ${want.size}")
      assert(got == want, s"k=$k: only-kernel=${(got -- want).take(5)}, " +
        s"only-reference=${(want -- got).take(5)}")
      // the pair plan the kernel replaced, over the flat and the two-level
      // assignment: identical removed sets on unique ids
      for (hier <- Seq(false, true)) {
        val kernel = Similarity.semDedup(df, "id", "v", dim, tau, nProbe = 2,
          trained = Some(cents), hierAssign = hier)
          .where(col("removed")).select("id").as[Long].collect().toSet
        val pairPlan = SemDedupOracles.semDedup(df, "id", "v", tau, cents, nProbe = 2,
          hierAssign = hier).where(col("removed")).select("id").as[Long].collect().toSet
        assert(kernel == pairPlan, s"k=$k hier=$hier: only-kernel=" +
          s"${(kernel -- pairPlan).take(5)}, only-pair-plan=${(pairPlan -- kernel).take(5)}")
      }
    }
  }

  test("semDedup: zero, empty and all-null vectors are never duplicates, under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val rows = Seq[(Long, Seq[java.lang.Float])](
      1L -> Seq(1f, 0f), 2L -> Seq(0f, 0f), 3L -> Seq(), 4L -> Seq(null, null),
      5L -> Seq(0.5f, 0.5f), 6L -> Seq(0f, 0f), 7L -> Seq(-0f, 0f))
    val df = rows.toDF("id", "v").select(col("id"), col("v").cast("array<float>").as("v"))
    // one centroid: every vector shares the one cluster, and tau = -1 makes
    // every pair of non-zero vectors a duplicate
    val cents = Array(Array(1f, 0f))
    val got = Similarity.semDedup(df, "id", "v", 2, -1.0, nProbe = 1,
      trained = Some(cents)).as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> false, 4L -> false,
      5L -> true, 6L -> false, 7L -> false), got.toString)
    val oracle = SemDedupOracles.semDedup(df, "id", "v", -1.0, cents, nProbe = 1)
      .as[(Long, Boolean)].collect().toMap
    assert(got == oracle, s"kernel $got, pair plan $oracle")
  }

  test("semDedup is row-level: a repeated id's other vectors are not witnesses") {
    // nProbe 1: (1,0) and (0,1) share cluster 0, (0,10) alone in cluster 1
    val df = Seq((1L, Array(1f, 0f)), (1L, Array(0f, 10f)), (2L, Array(0f, 1f)))
      .toDF("id", "v")
    val cents = Array(Array(1f, 0f), Array(0f, 3f))
    val assigned = Similarity.assignProbes(df, "id", "v", cents, 1)
      .as[(Long, Int)].collect().sorted.toSeq
    assert(assigned == Seq((1L, 0), (1L, 1), (2L, 0)), assigned.toString)
    val got = Similarity.semDedup(df, "id", "v", 2, 0.9, nProbe = 1,
      trained = Some(cents)).as[(Long, Boolean)].collect().sorted.toSeq
    assert(got == Seq((1L, false), (1L, false), (2L, false)), got.toString)
    // the pair plan joined every vector of id 1, so (0,10) — which shares
    // no cluster with id 2 — removed it
    val pairPlan = SemDedupOracles.semDedup(df, "id", "v", 0.9, cents, nProbe = 1)
      .as[(Long, Boolean)].collect().sorted.toSeq
    assert(pairPlan == Seq((1L, false), (1L, false), (2L, true)), pairPlan.toString)
  }

  test("bound-pruned assignment is set-exact vs the table path") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val real = Similarity.ivfTrain(emb, "vec_id", "embedding", 64,
      nCentroids = 16, iters = 2)
    // the q_semantic_dedup_bigk shape: a small real model padded with far
    // decoys (bounds must prune the decoy groups, never a real winner) PLUS
    // adversarial exact ties — each real centroid duplicated verbatim at a
    // higher cid, so the tie-break (lower cid) is exercised at every argmax
    val decoys = Array.tabulate(3000, 64)((i, j) => 500f + ((i + j) % 5).toFloat)
    val cents = real ++ decoys ++ real.map(_.clone())
    for (nProbe <- Seq(1, 2, 5)) {
      val pruned = Similarity.assignProbes(emb, "vec_id", "embedding",
          cents, nProbe)
        .as[(Long, Int)].collect().toSet
      val tbl = IvfOracles.assignProbesTable(emb, "vec_id", "embedding",
          IvfOracles.centroidTable(emb, cents), nProbe)
        .as[(Long, Int)].collect().toSet
      assert(pruned == tbl, s"nProbe=$nProbe: pruned != table " +
        s"(only-pruned=${(pruned -- tbl).take(5)}, only-table=${(tbl -- pruned).take(5)})")
    }
    // null vectors produce no assignment rows (the shared posture)
    import spark.implicits._
    val withNull = Seq((1L, Array.fill(64)(0.5f)),
      (2L, null.asInstanceOf[Array[Float]])).toDF("id", "v")
    val out = Similarity.assignProbes(withNull, "id", "v", cents, 1)
      .as[(Long, Int)].collect()
    assert(out.map(_._1).toSet == Set(1L))
  }

  test("ivfProbes column matches the broadcast-table oracle exactly") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centroids = Similarity.ivfTrain(emb, "vec_id", "embedding", 64,
      nCentroids = 16, iters = 2)
    // (id, cid) SETS must agree at each nProbe — nProbe=1 pins the argmax
    // (incl. tie-break), nProbe=3 the full probe frontier; consumers only
    // ever use the exploded set (equi-joins), never intra-row order
    for (nProbe <- Seq(1, 3)) {
      val lit = emb.select(col("vec_id"),
          explode(Similarity.ivfProbes(col("embedding"), centroids, nProbe))
            .as("__cid"))
        .as[(Long, Int)].collect().toSet
      val tbl = IvfOracles.assignProbesTable(emb, "vec_id", "embedding",
          IvfOracles.centroidTable(emb, centroids), nProbe)
        .as[(Long, Int)].collect().toSet
      assert(lit == tbl, s"nProbe=$nProbe: paths disagree")
    }
    // null vectors produce no assignment rows in the oracle either (the
    // kernel's explode(null) posture)
    val withNull = Seq((1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "v")
    val small = Array(Array(1f, 0f), Array(0f, 1f))
    val out = IvfOracles.assignProbesTable(withNull, "id", "v",
      IvfOracles.centroidTable(withNull, small), 1)
      .as[(Long, Int)].collect().toSet
    assert(out == Set((1L, 0)))
  }

  test("hierarchical assignment: probing all groups degenerates to exact flat") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 64,
      nCentroids = 16, iters = 2)
    val k2 = math.round(math.sqrt(16.0)).toInt
    for (nProbe <- Seq(1, 2)) {
      val flat = IvfOracles.assignProbesTable(emb, "vec_id", "embedding",
          IvfOracles.centroidTable(emb, cents), nProbe)
        .as[(Long, Int)].collect().toSet
      val hierAll = Similarity.assignProbesHier(emb, "vec_id", "embedding",
          cents, nProbe, groupProbe = k2)
        .as[(Long, Int)].collect().toSet
      assert(flat == hierAll, s"nProbe=$nProbe: all-group hier != flat")
      // restricted probing is a SUBSET relation per row at nProbe=1: the
      // hier argmax either equals flat's or is a group-local fallback;
      // on the fixture recall must stay high
      val hier3 = Similarity.assignProbesHier(emb, "vec_id", "embedding",
          cents, nProbe, groupProbe = 3)
        .as[(Long, Int)].collect().toSet
      val recall = flat.intersect(hier3).size.toDouble / flat.size
      assert(recall >= 0.9, s"nProbe=$nProbe: hier recall $recall < 0.9")
    }
  }

  test("hierarchical assignment with SAMPLED group training keeps the contracts") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 64,
      nCentroids = 16, iters = 2)
    val k2 = math.round(math.sqrt(16.0)).toInt
    // sampleCap below k forces the sampled path; probing ALL groups must
    // STILL degenerate to exact flat assignment (group membership only
    // restricts which groups are probed — scoring covers every group here)
    val flat = IvfOracles.assignProbesTable(emb, "vec_id", "embedding",
        IvfOracles.centroidTable(emb, cents), 1)
      .as[(Long, Int)].collect().toSet
    val sampledAll = Similarity.assignProbesHier(emb, "vec_id", "embedding",
        cents, 1, groupProbe = k2, sampleCap = 6)
      .as[(Long, Int)].collect().toSet
    assert(flat == sampledAll, "sampled-training all-group hier != flat")
    // restricted probing on the sampled structure keeps fixture recall high
    val sampled3 = Similarity.assignProbesHier(emb, "vec_id", "embedding",
        cents, 1, groupProbe = 3, sampleCap = 6)
      .as[(Long, Int)].collect().toSet
    val recall = flat.intersect(sampled3).size.toDouble / flat.size
    assert(recall >= 0.9, s"sampled hier recall $recall < 0.9")
  }

  test("assignProbes plan size is centroid-count-independent") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // one projection with the model as a reference object at every k: no
    // k-fanout join, no aggregate, and a plan string that does not grow with k
    val cents = Array.tabulate(8192, 64)((i, j) => ((i * 64 + j) % 97) * 0.01f)
    for (k <- Seq(64, 8192)) {
      val df = Similarity.assignProbes(emb, "vec_id", "embedding", cents.take(k), 2)
      val plan = df.queryExecution.optimizedPlan.treeString
      assert(plan.length < 50000, s"k=$k: plan is ${plan.length} chars")
      val exec = df.queryExecution.executedPlan.toString
      assert(exec.contains("graft_ivf_probes_pruned"), exec)
      assert(!exec.contains("NestedLoopJoin") && !exec.contains("Aggregate"), exec)
      assert(df.count() == emb.count() * 2)
    }
    // a projection assigns per row: duplicate ids each get their own probes
    val dup = Seq((1L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("id", "v")
    val got = Similarity.assignProbes(dup, "id", "v",
      Array(Array(1f, 0f), Array(0f, 1f)), 1).as[(Long, Int)].collect().sorted
    assert(got.toSeq == Seq((1L, 0), (1L, 1)))
  }

  test("open-index model cache never serves stale models across a model rewrite") {
    // readIndexModels memoizes the opened models per (session, dir) behind a
    // (manifest bytes, model-dir mtimes) validator — an overwrite that
    // RETRAINS (different seed => different centroids) must miss the cache
    // and surface the new models, while a second open of an untouched tree
    // hits it (same arrays back, no re-read).
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("corpus_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_mc").toString
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2, seed = 42L)
    val first = Similarity.readIndexModels(spark, dir)
    val again = Similarity.readIndexModels(spark, dir)
    assert(again._1 eq first._1,
      "untouched tree must hit the model cache (same centroid arrays back)")
    // retrain in place with a different seed: manifest + model dirs rewritten
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    Similarity.writeIndex(corpus, dir, "corpus_id", "embedding", 64,
      nCentroids = 8, iters = 2, seed = 7L)
    val retrained = Similarity.readIndexModels(spark, dir)
    assert(!(retrained._1 eq first._1),
      "model rewrite must invalidate the open-index cache")
    assert(retrained._1.length == 8)
    // and the refreshed models must match what a raw (uncached) read sees
    assert(retrained._1.map(_.toSeq).toSeq ==
      Similarity.readIndexModels(spark, dir)._1.map(_.toSeq).toSeq)
  }
}
