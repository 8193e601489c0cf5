package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup of 1
    (4L, "completely different content about spark query engines and columnar storage"),
    (5L, "THE  quick brown fox jumps over the lazy dog near the river bank today") // ws/case dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates") {
    val groups = Dedup.duplicateGroups(docs, "text", "doc_id")
    val sizes = groups.select("n_dups").as[Long].collect().sorted.toSeq
    assert(sizes == Seq(1L, 1L, 3L)) // {1,2,5}, {3}, {4}
    val kept = Dedup.exactDedup(docs, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("minhash-LSH finds near-duplicates but not unrelated docs") {
    val pairs = Dedup.minHashNearDupPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((3L, 5L))) // near-dup caught
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated not paired
  }

  test("minhash estimated jaccard ≈ 1 for identical docs") {
    val pairs = Dedup.minHashNearDupPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)
    val est = pairs.filter(col("id_a") === 1 && col("id_b") === 2)
      .select("est_jaccard").as[Double].head()
    assert(est == 1.0)
  }

  test("simhash: identical docs have distance 0, near-dups small distance") {
    val sigs = docs.select(col("doc_id"),
      Dedup.simHash(TextAnalysis.tokens(lower(col("text")))).as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val d13 = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val d14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(d13 < d14, s"near-dup dist $d13 should be < unrelated dist $d14")
  }

  test("simhash pair mining respects hamming bound") {
    val pairs = Dedup.simHashNearDupPairs(docs, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.forall(_._3 <= 8))
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    val df = Seq((1L, "abc def ghi"), (2L, "abc def ghi"), (3L, "xyz uvw rst"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.shingles(col("text"), 2).as("sh"))
    val a = df.filter(col("doc_id") === 1).select(col("sh").as("sh_a"))
    val b = df.filter(col("doc_id") === 2).select(col("sh").as("sh_b"))
    val c = df.filter(col("doc_id") === 3).select(col("sh").as("sh_c"))
    val j12 = a.crossJoin(b).select(Dedup.ngramJaccard(col("sh_a"), col("sh_b")))
      .as[Double].head()
    val j13 = a.crossJoin(c).select(Dedup.ngramJaccard(col("sh_a"), col("sh_c")))
      .as[Double].head()
    assert(j12 == 1.0 && j13 == 0.0)
  }

  test("minhash signature is stable across partitionings (determinism at scale)") {
    val one = Dedup.minHashSignatureOf(TextAnalysis.tokens(lower(col("text"))), 3, 16)
    val s1 = docs.repartition(1).select(one).collect().map(_.getSeq[Long](0)).toSet
    val s4 = docs.repartition(4).select(one).collect().map(_.getSeq[Long](0)).toSet
    assert(s1 == s4)
  }

  test("connectedComponents: chains merge, singletons self-label, min wins") {
    import org.apache.spark.sql.functions.col
    // components: {1,2,3,4} (a chain), {10,11}, {20} (singleton, no edges)
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val labels = graft.functions.Dedup
      .connectedComponents(pairs, "id_a", "id_b", nodes, "doc_id")
      .orderBy(col("id")).as[(Long, Long)].collect().toSeq
    assert(labels == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("urlNormalize: case, ports, tracking params, fragments, trailing slash") {
    import graft.functions.TextAnalysis
    val in = Seq(
      "HTTP://ExAmple.COM:80/A/b/?utm_source=x&b=2&a=1#frag",
      "http://example.com/A/b?a=1&b=2",
      "HTTPS://Host.io:443/",
      "https://host.io",
      "http://h.co/p?utm_campaign=z&gclid=123&fbclid=9",
      "http://h.co/p").toDF("u")
      .select(TextAnalysis.urlNormalize(col("u")).as("n")).as[String].collect()
    assert(in(0) == "http://example.com/A/b?a=1&b=2") // path case preserved
    assert(in(0) == in(1))
    assert(in(2) == "https://host.io" && in(2) == in(3))
    assert(in(4) == "http://h.co/p" && in(4) == in(5))
  }

  test("substring-span dedup: keep-first marks later occurrences, short docs survive") {
    // doc 1 and 2 share their full 13-token text → every span of doc 2 is a
    // duplicate of doc 1's (keep-first by (doc, pos)); doc 6 is shorter than
    // k and must still appear with zero spans; doc 4 shares no span
    val in = docs.unionByName(Seq((6L, "too short")).toDF("doc_id", "text"))
    val out = Dedup.substringSpanStats(in, "text", "doc_id", 5)
      .orderBy("id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byId(1L) == ((14L, 0L, 0L)), s"doc 1 must be the kept original: $byId")
    assert(byId(2L) == ((14L, 10L, 14L)), s"doc 2 fully duplicated: $byId")
    assert(byId(4L)._2 == 0L, s"doc 4 shares no span: $byId")
    assert(byId(6L) == ((2L, 0L, 0L)), s"short doc must survive with 0 spans: $byId")
    // doc 3 differs only at token 12 ('bend') → spans at pos 0-7 duplicate
    // doc 1's; the two spans touching pos 12 (pos 8, 9) do not; covered
    // tokens are pos 0-11
    assert(byId(3L)._2 == 8L && byId(3L)._3 == 12L, s"doc 3 partial overlap: $byId")
  }

  test("pipeline caches do not outlive their session (two-session hygiene)") {
    val fn = SparkEntry.queries("q_minhash_pairs")
    assert(fn(spark, sf).count() >= 0)
    val withS1 = spark.sparkContext.getPersistentRDDs.size
    assert(withS1 > 0, "expected the minhash pipeline to persist intermediates")
    // a second session triggers eviction of the first session's entries on its
    // first cache access — persisted RDD count must not accumulate per session
    val s2 = spark.newSession()
    assert(fn(s2, sf).count() >= 0)
    val withS2 = spark.sparkContext.getPersistentRDDs.size
    assert(withS2 <= withS1, s"persisted RDDs accumulated: $withS1 -> $withS2")
  }

  test("DSIR weights separate a planted target vocabulary and stay integer-exact") {
    import graft.functions.Dsir
    // planted contract (model-dependent op): target docs draw from a disjoint
    // vocabulary half, so any correct importance model must rank every
    // target-like doc above every pool-only doc regardless of bucketing
    val tgtWords = (0 until 20).map(i => s"tw$i")
    val poolWords = (0 until 20).map(i => s"pw$i")
    def doc(words: Seq[String], seed: Int): String =
      (0 until 60).map(i => words((i * 7 + seed) % words.size)).mkString(" ")
    val rows = (0 until 8).map(i => (i.toLong, doc(tgtWords, i), true)) ++
      (8 until 16).map(i => (i.toLong, doc(poolWords, i), false)) ++
      // held-out docs: target-vocab but NOT marked target — must score high
      (16 until 20).map(i => (i.toLong, doc(tgtWords, i), false))
    val df = rows.toDF("doc_id", "text", "is_t")
    val w = Dsir.importanceWeights(df, "text", "doc_id", col("is_t"), 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val tgtLike = (0 until 8) ++ (16 until 20)
    val poolOnly = 8 until 16
    val minTgt = tgtLike.map(i => w(i.toLong)._2).min
    val maxPool = poolOnly.map(i => w(i.toLong)._2).max
    assert(minTgt > maxPool,
      s"target-vocab docs must outscore pool-only docs: $minTgt <= $maxPool")
    // integer-exactness: logw is exactly logw_micro / 1e6
    w.values.foreach { case (micro, logw) =>
      assert(logw == micro.toDouble / 1e6) }
  }

  test("DSIR scoreMicro: unseen buckets get the fully-smoothed ratio; null/empty docs") {
    import graft.functions.{Dsir, TextAnalysis => TA}
    // documented posture (Dsir.scoreMicro scaladoc): a streamed doc whose
    // feature buckets are absent from the training pool contributes
    // quant(0,0) per occurrence — the add-alpha smoothing of the paper —
    // rather than the batch inner-join's silent drop
    val pool = Seq((1L, "alpha beta gamma", true), (2L, "delta epsilon zeta", false))
      .toDF("doc_id", "text", "is_t")
    val B = 4096
    val lrq = Dsir.trainModel(pool, "text", col("is_t"), B)
    // pool totals: 2 docs x (3 unigrams + 2 bigrams) = 10 features, 5 target
    val aB = 0.5 * B
    val quant00 = BigDecimal(
      (math.log(0.5 / (5 + aB)) - math.log(0.5 / (10 + aB))) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def buckets(text: String): Seq[Long] =
      Seq(text).toDF("text")
        .select(explode(Dsir.featureBuckets(TA.tokens(lower(col("text"))), B)).as("b"))
        .as[Long].collect().toSeq
    val seen = (buckets("alpha beta gamma") ++ buckets("delta epsilon zeta")).toSet
    val novel = "qq ww ee" // 5 features (3 uni + 2 bi)
    val nb = buckets(novel)
    assert(nb.size == 5 && nb.forall(b => !seen(b)),
      s"fixture: the novel doc's buckets must be pool-unseen: $nb vs $seen")
    val scored = Seq(Some(novel.split(' ').toSeq), Some(Seq.empty[String]), None)
      .toDF("t")
      .select(Dsir.scoreMicro(col("t"), lrq).as("s"))
      .collect()
    assert(scored(0).getLong(0) == 5 * quant00,
      s"unseen-bucket score must be n_feats * quant(0,0): ${scored(0)} vs ${5 * quant00}")
    assert(quant00 > 0, "fully-smoothed ratio is positive when the pool skews raw")
    assert(scored(1).getLong(0) == 0L, "zero-feature doc scores 0 (batch emits no row)")
    assert(scored(2).isNullAt(0), "null token array scores null")
  }

  test("deterministic shuffle is a reproducible seed-keyed permutation") {
    import graft.functions.Sampling
    val corpus = (1L to 40L).map(i => (i, s"doc $i")).toDF("id", "payload")
    def order(seed: Long): Seq[Long] =
      Sampling.deterministicShuffle(corpus, col("id"), seed).orderBy("pos")
        .select("id").as[Long].collect().toSeq
    val s7 = order(7L)
    assert(s7 == order(7L), "same seed must reproduce the permutation")
    assert(s7.sorted == (1L to 40L), "a permutation touches every row exactly once")
    assert(s7 != order(8L), "different seeds must permute differently")
    assert(s7 != (1L to 40L).toSeq, "seed 7 must not be the identity order")
  }

  test("token-budget selection is a prefix cut, not a knapsack") {
    import graft.functions.Sampling
    // ranked by (score desc, id): doc 1 fits (cum 5), doc 2 overflows
    // (cum 11 > 10) and ENDS the selection; doc 3 would fit (5+2 <= 10)
    // but prefix semantics exclude everything after the first overflow
    val scored = Seq((1L, 10L, 5L), (2L, 9L, 6L), (3L, 8L, 2L))
      .toDF("id", "score", "tok")
    val sel = Sampling.selectByTokenBudget(scored, col("score"), col("tok"),
      col("id"), 10L)
    val kept = sel.select("id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L), s"prefix cut must keep only doc 1: $kept")
    assert(sel.columns.contains("cum_tokens"), "running total must be exposed")
    // zero budget keeps nothing; budget covering all keeps everything
    assert(Sampling.selectByTokenBudget(scored, col("score"), col("tok"),
      col("id"), 0L).count() == 0)
    assert(Sampling.selectByTokenBudget(scored, col("score"), col("tok"),
      col("id"), 13L).count() == 3)
  }

  test("quantile bins are equal-population and rank-ordered") {
    import graft.functions.Sampling
    // 17 rows into 4 bins: floor((rank-1)*4/17) -> populations 5,4,4,4
    val rows = (1L to 17L).map(i => (i, (i * 13) % 17)).toDF("id", "score")
    val binned = Sampling.quantileBins(rows, col("score"), col("id"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val pops = binned.groupBy(_._3).view.mapValues(_.length).toMap
    assert(pops == Map(0 -> 5, 1 -> 4, 2 -> 4, 3 -> 4), s"populations: $pops")
    // every row in a lower bin has score <= every row in a higher bin
    val maxPerBin = binned.groupBy(_._3).view.mapValues(_.map(_._2).max).toMap
    val minPerBin = binned.groupBy(_._3).view.mapValues(_.map(_._2).min).toMap
    for (b <- 0 to 2)
      assert(maxPerBin(b) <= minPerBin(b + 1),
        s"bin $b overlaps bin ${b + 1}: $binned")
  }

  test("firstOccurrences keeps order and drops later repeats") {
    import graft.functions.{TextAnalysis => TA}
    val kept = Seq(Seq("a", "b", "a", "c", "b", "a")).toDF("l")
      .select(TA.firstOccurrences(col("l"))).as[Seq[String]].head()
    assert(kept == Seq("a", "b", "c"), s"got $kept")
    val empty = Seq(Seq.empty[String]).toDF("l")
      .select(TA.firstOccurrences(col("l"))).as[Seq[String]].head()
    assert(empty.isEmpty)
  }
}
