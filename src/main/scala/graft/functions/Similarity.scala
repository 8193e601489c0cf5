package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star extension) over `Array[Float]` columns.
  *
  * Scale design: brute-force top-k is the correctness baseline and is already shaped
  * for scale when the query set is small — broadcast the queries, stream the corpus
  * once, keep per-partition top-k heaps via window+filter (Spark plans the final
  * ranking as a partial top-k). The LSH variant buckets vectors by random-hyperplane
  * signs so only same-bucket pairs are compared: at 100 TB this replaces a
  * corpus×corpus shuffle with an equi-join on a 16-32 bit bucket key. Hyperplanes are
  * pseudo-random from a fixed seed (hash-derived, no RNG) — deterministic.
  */
object Similarity {

  /** True when the graft native expressions are registered in the active session
    * (spark.sql.extensions=graft.plans.GraftExtensions). */
  private def nativeExprs: Boolean =
    try org.apache.spark.sql.SparkSession.active.catalog
      .functionExists(graft.plans.NativeExpressions.dotName)
    catch { case _: Throwable => false }

  /** Elementwise dot product of two float-array columns, accumulated left-to-right
    * in double — identical semantics on both paths: the native codegen'd DotF32
    * expression when the session has GraftExtensions installed (primitive loop
    * inside WholeStageCodegen), else the higher-order-function fold (interpreted,
    * CodegenFallback). */
  def dot(a: Column, b: Column): Column =
    if (nativeExprs) call_function(graft.plans.NativeExpressions.dotName, a, b)
    // null parity with the native DotF32 expression: a null element (or the null
    // padding zip_with adds past the shorter array's end) contributes 0 to the
    // fold, matching native's skip-null / truncate-to-shorter semantics
    else aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + coalesce(v, lit(0.0)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus vectors.
    * The query side is broadcast; the corpus is scanned exactly once. Ties break by
    * corpus id for determinism. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     queryId: String = "query_id", corpusId: String = "corpus_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryId), col(vecCol).as("__qv"))
    val c = corpus.select(col(corpusId), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("rank"), col("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d) in [-1,1]
    * (single source of truth shared with the native expression). */
  private def planeComponent(p: Int, d: Int, seed: Long): Double =
    graft.plans.NativeExpressions.planeComponent(p, d, seed)

  /** All `nProj` hyperplane projections of a vector in ONE traversal: zip each vector
    * element with its per-plane weight row and elementwise-sum the contribution
    * arrays. The weight matrix ships as a SINGLE typedlit literal node — building it
    * from dim×nProj nested array() constructors (round-1 shape) put 5000+ nodes into
    * the expression tree and the optimizer spent a minute per plan walking them. */
  def lshProjections(vec: Column, dim: Int, nProj: Int, seed: Long = 42L): Column =
    if (nativeExprs)
      call_function(graft.plans.NativeExpressions.hyperplanesName,
        vec, lit(dim), lit(nProj), lit(seed))
    else {
      val dimWeights = typedlit((0 until dim).map(d =>
        (0 until nProj).map(p => planeComponent(p, d, seed))))
      aggregate(
        zip_with(vec, dimWeights, (x, w) => transform(w, wp => x.cast("double") * wp)),
        array_repeat(lit(0.0), nProj),
        (acc, contrib) => zip_with(acc, contrib, (a, c) => a + c))
    }

  /** Multi-table sign-LSH keys: `numTables` independent tables of `bitsPerTable` sign
    * bits each, packed as `(table << bitsPerTable) | bits` — an array of `numTables`
    * long keys per vector. A pair collides if it lands in the same bucket of ANY
    * table: recall = 1-(1-p^b)^L for per-plane agreement p, tunable without touching
    * the join shape (always equi on one 8-byte key).
    *
    * IMPORTANT perf contract: `proj` must be a materialized attribute (a column from a
    * previous projection), not a nested lshProjections(...) expression — Catalyst
    * inlines expression arguments into every lambda use (numTables × bitsPerTable
    * re-evaluations otherwise). */
  def lshTableKeys(proj: Column, numTables: Int, bitsPerTable: Int): Column =
    array((0 until numTables).map { t =>
      (0 until bitsPerTable).map { j =>
        when(element_at(proj, t * bitsPerTable + j + 1) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b)).+(lit(t.toLong << bitsPerTable))
    }: _*)

  /** ANN top-k via multi-table sign-LSH. Candidate generation is ids-only: vectors
    * never ride the bucket-key shuffle; the (distinct) candidate ids re-attach their
    * vectors once and cosine is computed once per pair. Recall < 1 by construction —
    * the 100 TB path where the brute-force corpus×query scan is too expensive. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              numTables: Int = 16, bitsPerTable: Int = 5,
              queryId: String = "query_id", corpusId: String = "corpus_id",
              vecCol: String = "embedding", seed: Long = 42L): DataFrame = {
    val nProj = numTables * bitsPerTable
    val cKeys = corpus.select(col(corpusId), col(vecCol).as("__cv"))
      .withColumn("__proj", lshProjections(col("__cv"), dim, nProj, seed))
      .select(col(corpusId), explode(lshTableKeys(col("__proj"), numTables, bitsPerTable)).as("bucket"))
    val qKeys = queries.select(col(queryId), col(vecCol).as("__qv"))
      .withColumn("__proj", lshProjections(col("__qv"), dim, nProj, seed))
      .select(col(queryId), explode(lshTableKeys(col("__proj"), numTables, bitsPerTable)).as("bucket"))
    val cand = cKeys.join(broadcast(qKeys), Seq("bucket"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId)).distinct()
    exactRerankTopK(cand, queries, corpus, k, queryId, corpusId, vecCol)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: coarse k-means quantizer + inverted lists.
  // ------------------------------------------------------------------

  /** Deterministic coarse k-means over the corpus: seeded init (the k
    * non-null vectors with the lowest xxhash64(id, seed), ties to the lower
    * id), a fixed iteration count, and centroid updates as per-element
    * means (a null element is left out of its cell's mean; a cluster with no
    * members keeps its previous centroid). Null vectors take no part; a
    * vector whose length is not `dim`, or that holds a NaN or infinite
    * element, fails with an IllegalArgumentException naming its id, the
    * position and the value. Returns the centroid matrix.
    *
    * Scale notes: one job draws the init and one job runs each iteration
    * ([[KMeans]]): every task assigns its rows through the probe kernel of
    * [[ivfProbes]] and sums them into primitive per-(cluster, element)
    * partials, at most min(k, rows)·dim cells, which the driver adds in
    * partition order. Nothing of size n·dim is shuffled or collected; only
    * the k×dim centroid MODEL lives on the driver (bounded, like any
    * trained model); at 100 TB you train on a sample and assign the full
    * corpus once. Sums are fp, so the centroids depend on the partitioning
    * in their last bits (bit-identical at the same partitioning) — callers
    * must not depend on exact list boundaries (the probe margin absorbs
    * this). */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               nCentroids: Int = 16, iters: Int = 5,
               seed: Long = 42L): Array[Array[Float]] =
    KMeans.train(corpus, idCol, vecCol, dim, 1, nCentroids, iters, Seq(seed),
      "ivfTrain").head

  /** Nearest-centroid id for a vector: argmax of (v·c - |c|²/2), the euclidean
    * argmin rewritten as k native dot products (codegen'd; ~k×dim flops/row).
    * Ties break toward the lower centroid id for determinism. */
  def ivfAssign(vec: Column, centroids: Array[Array[Float]]): Column =
    element_at(ivfProbes(vec, centroids, 1), 1)

  /** The nProbe nearest centroid ids of a vector column, nearest first —
    * the one exact probe kernel, used at every centroid count. Score
    * v·c − |c|²/2 (dot in double, left-to-right over the common prefix,
    * null vector elements skipped), NaN scores largest, ties to the lower
    * centroid id; a null vector gives null. The centroid matrix and its
    * [[superGroups]] geometry ride the plan once per stage as a
    * primitive-array model (graft.plans.IvfPrunedModel); each row scores
    * the √k supers and exact-scores only the groups whose Cauchy–Schwarz
    * bound can reach the top nProbe (graft.plans.IvfPruned): the row is
    * read once into a double[], and one loop scores four centroids per
    * pass over it, each dot summed left to right in double. Built through
    * ColumnBridge, so it needs no session extension. The matrix must be
    * non-empty, rectangular and finite: IvfPruned.validate names the first
    * row that is not. */
  def ivfProbes(vec: Column, centroids: Array[Array[Float]], nProbe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.IvfProbesPrunedExpr(
      ColumnBridge.expression(vec), probeModel(centroids), nProbe))
  }

  /** The probe kernel's model of a centroid matrix: its [[superGroups]]
    * geometry and bounds (graft.plans.IvfPruned.build). */
  private[graft] def probeModel(centroids: Array[Array[Float]]): graft.plans.IvfPrunedModel = {
    graft.plans.IvfPruned.validate(centroids) // before the driver-side k-means
    val (supers, gid) = superGroups(centroids)
    graft.plans.IvfPruned.build(centroids, supers, gid)
  }

  /** ANN top-k via IVF inverted lists: corpus vectors are assigned once to
    * their nearest coarse centroid; each query probes its `nProbe` nearest
    * centroids and scores ONLY the vectors in those lists — an ids-only
    * equi-join on the centroid id, then one cosine per surviving pair.
    *
    * Complements sign-LSH: IVF adapts to the data's cluster structure (lists
    * follow density; on clustered corpora nProbe ≪ nCentroids reaches high
    * recall), while LSH is data-independent. On the structureless fixture
    * embeddings the planted-pair query (q_cosine_topk_ivf) exercises the
    * mechanism: a perturbed copy lands in (or probes within margin of) its
    * original's list and must retrieve it. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 5,
              queryId: String = "query_id", corpusId: String = "corpus_id",
              vecCol: String = "embedding", seed: Long = 42L,
              trained: Option[Array[Array[Float]]] = None): DataFrame = {
    val centroids = trained.getOrElse(
      ivfTrain(corpus, corpusId, vecCol, dim, nCentroids, iters, seed))
    val lists = assignProbes(
      corpus.select(col(corpusId), col(vecCol).as("__cv")),
      corpusId, "__cv", centroids, 1)
    val probes = assignProbes(
      queries.select(col(queryId), col(vecCol).as("__qv")),
      queryId, "__qv", centroids, nProbe)
    val cand = lists.join(broadcast(probes), Seq("__cid"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId)).distinct()
    exactRerankTopK(cand, queries, corpus, k, queryId, corpusId, vecCol)
  }

  // ------------------------------------------------------------------
  // Probe assignment as (id, cid) rows.
  // ------------------------------------------------------------------

  /** Past this centroid count the STREAMING serves ([[indexShortlistStream]],
    * [[maxSimStream]]) probe at group granularity through
    * [[ladderProbeCids]] instead of exact per-row top-nProbe probes. Their
    * recall contract is unit-anchored at k = 2176. Batch assignment has no
    * threshold: [[ivfProbes]] is exact at every k. */
  private[graft] val centroidTableThreshold = 2048

  /** The `nProbe` nearest coarse clusters of every row, as (id, __cid)
    * assignment rows — the frame form of [[ivfProbes]] that semDedup,
    * ivfTopK and the index paths assign through. A projection: every row
    * assigns on its own (ids need not be unique), and a null vector yields
    * no rows. `withVec` also carries each row's vector, as `vecCol`, next
    * to its `__cid` (semDedup scores the clusters from it). The input is
    * spread across the cores first ([[Caching.spreadThin]]), since the
    * probe work per row grows with k. */
  def assignProbes(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], nProbe: Int,
      withVec: Boolean = false): DataFrame =
    Caching.spreadThin(df.select(col(idCol), col(vecCol).as("__av")))
      .select(Seq(col(idCol),
        explode(ivfProbes(col("__av"), centroids, nProbe)).as("__cid")) ++
        carried(withVec, vecCol): _*)

  /** The vector column an assignment carries when asked to. */
  private def carried(withVec: Boolean, vecCol: String): Seq[Column] =
    if (withVec) Seq(col("__av").as(vecCol)) else Nil

  /** Deterministic driver-side Lloyd's k-means over a MODEL-sized point set
    * (the centroid matrix itself — k×dim floats, never corpus data): evenly
    * strided init, argmax of (p·c − |c|²/2) with ties to the lower index
    * (the engine assignment chain, replicated exactly), mean updates;
    * empty groups keep their previous centroid. Returns (super-centroids,
    * group id per point). */
  /** Driver-side nearest-centroid assignment of a MODEL-sized point set:
    * argmax of (p·c − |c|²/2), ties to the lower index — the engine
    * assignment chain replicated exactly. O(|points|·|cents|·dim) flops;
    * callers keep both inputs model-sized (the sampled-training path's one
    * full-k pass is the documented ceiling). */
  private[graft] def assignLocal(points: Array[Array[Float]],
      cents: Array[Array[Float]]): Array[Int] = {
    val dim = points.head.length
    val bias = cents.map(c => c.map(x => x.toDouble * x.toDouble).sum / 2.0)
    val gid = new Array[Int](points.length)
    var p = 0
    while (p < points.length) {
      var best = 0; var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        var s = 0.0; var j = 0
        while (j < dim) { s += points(p)(j).toDouble * cents(c)(j).toDouble; j += 1 }
        s -= bias(c)
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      gid(p) = best
      p += 1
    }
    gid
  }

  private[graft] def kmeansLocal(points: Array[Array[Float]], k2: Int,
      iters: Int): (Array[Array[Float]], Array[Int]) = {
    require(k2 >= 1 && points.nonEmpty, "kmeansLocal: need k2 >= 1 and points")
    val dim = points.head.length
    var cents = Array.tabulate(math.min(k2, points.length))(i =>
      points((i.toLong * points.length / math.min(k2, points.length)).toInt).clone())
    var gid = new Array[Int](points.length)
    def assignAll(): Unit = { gid = assignLocal(points, cents) }
    for (_ <- 1 to iters) {
      assignAll()
      val sums = Array.fill(cents.length, dim)(0.0)
      val counts = new Array[Long](cents.length)
      for (p2 <- points.indices) {
        counts(gid(p2)) += 1
        var j = 0
        while (j < dim) { sums(gid(p2))(j) += points(p2)(j); j += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(j => (sums(c)(j) / counts(c)).toFloat))
    }
    // one final assignment against the RETURNED centroids: without it the
    // (cents, gid) pair is half an iteration apart — a centroid whose
    // nearest super flipped in the last mean update would be filed under
    // the old group and probed queries would miss it
    assignAll()
    (cents, gid)
  }

  /** The √k super-centroid grouping of a centroid MODEL — ONE implementation
    * shared by [[assignProbesHier]] and the streaming group-probe serve path
    * so the two cannot drift: driver-side k-means over the centroids
    * (SAMPLED past `sampleCap` — evenly strided, deterministic — because a
    * full driver k-means is O(k·√k·dim·iters), minutes at k=10⁵; one
    * assignment pass then files ALL k centroids under their supers, the
    * pass that was always the floor). Empty groups are compacted away: a
    * memberless probe target would silently yield NO assignment for a row
    * whose probes all landed on it, where flat assignment gives every
    * non-null vector ≥ 1 cid. Returns (non-empty supers, compacted group id
    * per centroid). */
  /** Memo for [[superGroups]]: the grouping is a PURE function of the
    * centroid matrix (deterministic k-means, strided sampling), yet every
    * query (re)construction re-paid the O(sampleCap·√k·dim·iters)
    * driver-side k-means (~0.2 s at k≈10⁴) — per bench sample, per serve
    * path. Content key = (geometry + full content hash), hits verified
    * element-exact so a hash collision can never serve the wrong grouping;
    * bounded FIFO. Process-global, not a [[graft.SessionArtifacts]] entry:
    * the key is the model's content, never a session, so an entry is valid
    * for every session that holds the same centroids. */
  private val superGroupsCache = new java.util.LinkedHashMap[
      (Int, Int, Int, Int, Int),
      (Array[Array[Float]], (Array[Array[Float]], Array[Int]))](16, 0.75f, false) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (Int, Int, Int, Int, Int),
        (Array[Array[Float]], (Array[Array[Float]], Array[Int]))]): Boolean =
      size() > 8
  }

  private[graft] def superGroups(centroids: Array[Array[Float]],
      kmIters: Int = 5, sampleCap: Int = 4096)
      : (Array[Array[Float]], Array[Int]) = {
    val key = (centroids.length, if (centroids.isEmpty) 0 else centroids.head.length,
      java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]]),
      kmIters, sampleCap)
    superGroupsCache.synchronized {
      val hit = superGroupsCache.get(key)
      if (hit != null && hit._1.length == centroids.length &&
          hit._1.indices.forall(i => java.util.Arrays.equals(hit._1(i), centroids(i))))
        return hit._2
    }
    val computed = superGroupsUncached(centroids, kmIters, sampleCap)
    superGroupsCache.synchronized {
      superGroupsCache.put(key, (centroids, computed))
    }
    computed
  }

  private def superGroupsUncached(centroids: Array[Array[Float]],
      kmIters: Int, sampleCap: Int)
      : (Array[Array[Float]], Array[Int]) = {
    require(sampleCap >= 1, "superGroups: sampleCap must be >= 1")
    val k2 = math.max(1, math.round(math.sqrt(centroids.length.toDouble)).toInt)
    val (supers, gid) =
      if (centroids.length <= sampleCap) kmeansLocal(centroids, k2, kmIters)
      else {
        val stride = centroids.length.toDouble / sampleCap
        val sample = Array.tabulate(sampleCap)(i => centroids((i * stride).toInt))
        val (sup, _) = kmeansLocal(sample, k2, kmIters)
        (sup, assignLocal(centroids, sup))
      }
    val nonEmpty = gid.distinct.sorted
    val remap = nonEmpty.zipWithIndex.toMap
    (nonEmpty.map(supers(_)), gid.map(remap))
  }

  /** The STREAM-COMPOSABLE group ladder, shared by every streaming path
    * past [[centroidTableThreshold]] ([[indexShortlistStream]] and
    * [[maxSimStream]] — one implementation, so the paths cannot drift):
    * each row's `groupProbe` nearest √k SUPERS ([[superGroups]])
    * explode in the frame's projection and ONE stateless broadcast join
    * fans each probed group out to its member cids. Adds `__cid`; all
    * other columns pass through. Candidates are a SUPERSET of the
    * two-level top-nProbe frontier (every centroid of every probed group
    * scans), the property the callers' recall anchors rely on. */
  private def ladderProbeCids(df: DataFrame, vec: Column,
      centroids: Array[Array[Float]], groupProbe: Int): DataFrame = {
    require(groupProbe >= 1, "ladderProbeCids: groupProbe must be >= 1")
    val (probeSupers, gid) = superGroups(centroids)
    val spark = df.sparkSession
    import spark.implicits._
    val ct = centroids.indices.map(i => (gid(i), i)).toDF("__gid", "__cid")
    df.withColumn("__gid", explode(ivfProbes(vec, probeSupers,
        math.min(groupProbe, probeSupers.length))))
      .join(broadcast(ct), Seq("__gid"))
      .drop("__gid")
  }

  /** TWO-LEVEL (hierarchical) probe assignment — the documented fix for the
    * k ∝ n regime where even exact assignment's per-row cost becomes the
    * bottleneck: group the k centroids into ~√k
    * super-clusters (driver-side k-means over the MODEL — k rows, never
    * corpus data), probe `groupProbe` super-clusters per row (√k small),
    * and score only the centroids of the probed
    * groups — per-row cost √k + groupProbe·k/√k ≈ (1+groupProbe)·√k
    * instead of k. Score chain, tie-break, and null posture identical to
    * [[assignProbes]]; only the candidate SET is restricted, so the
    * result is RECALL-APPROXIMATE vs flat assignment (a nearest centroid
    * in an unprobed group is missed — the standard IVF-of-IVF trade;
    * groupProbe = k2 degenerates to EXACT flat assignment, unit-anchored).
    * Near-dup pairs still meet: ε-perturbed copies compute the same probe
    * sets within the perturbation margin. `withVec` carries the vector as
    * in [[assignProbes]]. */
  def assignProbesHier(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], nProbe: Int,
      groupProbe: Int = 3, kmIters: Int = 5,
      sampleCap: Int = 4096, withVec: Boolean = false): DataFrame = {
    require(nProbe >= 1, "assignProbesHier: nProbe must be >= 1")
    require(groupProbe >= 1, "assignProbesHier: groupProbe must be >= 1")
    // group structure from the shared [[superGroups]] helper: sampled
    // training past sampleCap (the k ≳ 10⁵ regime the r13 verdict flagged)
    // changes membership only near super boundaries — the same
    // recall-approximate contract the hier path already carries;
    // groupProbe = √k still degenerates to EXACT flat assignment (scoring
    // covers every group regardless of how groups were trained).
    val (probeSupers, gid) = superGroups(centroids, kmIters, sampleCap)
    // FUSED ladder kernel (IvfPruned.evalHier): candidate set, score chain,
    // and both tie-breaks replicate the explode → broadcast-member-join →
    // TopKAgg ladder row-for-row (supers scored with the ivfProbes chain,
    // ties to the lower gid; members v·c − |c|²/2, ties to the lower cid;
    // min(nProbe, frontier) probes out) — the machinery it replaces was the
    // cost: ~√k·nProbe joined-and-aggregated rows per input row through a
    // typed aggregate, now one projection (guide §4: no typed reduce in the
    // hot path). Degeneracy (groupProbe = #groups ⇒ exact flat) and sampled
    // training contracts are asserted in SimilaritySpec.
    val model = graft.plans.IvfPruned.build(centroids, probeSupers, gid)
    val rows = df.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__av"))
    import org.apache.spark.sql.graftbridge.ColumnBridge
    Caching.spreadThin(rows).select(Seq(col(idCol),
      explode(ColumnBridge.column(graft.plans.IvfProbesHierExpr(
        ColumnBridge.expression(col("__av")), model,
        nProbe, math.min(groupProbe, probeSupers.length)))).as("__cid")) ++
      carried(withVec, vecCol): _*)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: near-dup
    * removal by EMBEDDING similarity inside coarse clusters — catches
    * paraphrases and templated rewrites that MinHash's lexical shingles
    * miss). Deterministic, row-level contract: a vector is REMOVED when
    * another vector of a SMALLER id shares one of its `nProbe` nearest
    * coarse clusters and has cosine ≥ tau (keep-first, no connected
    * components — each removal is independently explainable by one kept
    * witness in the same cluster). Only the two vectors of a pair are
    * compared: a repeated id's other vectors are not its witnesses unless
    * they share the cluster themselves. An output row's `removed` is true
    * when any vector of its id was removed. The cosine is
    * dot/(|a|·|b|) in double (dot left to right over the common prefix,
    * null elements skipped), compared with Spark's double ordering, so a
    * NaN cosine removes; a pair with |a|·|b| = 0 (a zero, empty or
    * all-null vector) is never a duplicate. Null vectors join no cluster
    * and are never removed.
    *
    * 100 TB posture: candidates come ONLY from shared cluster ids (the
    * IVF-list analogue of LSH bands), with no all-pairs stage. The
    * assignment is evaluated once per call (one stage runs the probe
    * kernel, besides ivfTrain's) and carries each row's vector; each
    * cluster's members are collected into one list (over one partition
    * per core, by cluster id) and scored in place by
    * one codegen'd kernel (graft.plans.ClusterDupes: each member read and
    * normed once, at most m(m−1)/2 dots for m members), which returns only
    * the removed ids — no pair rows, pair shuffle or vector join. A
    * cluster's m² work runs in one task, so the cluster count must grow
    * with the corpus (k ∝ n keeps cluster size and the per-row pair budget
    * constant — measured in SCALE.md). The trained centroid model is the
    * only driver-side state (k×dim floats, ivfTrain's contract). The
    * assignment runs through [[assignProbes]], one exact bound-pruned
    * projection at every k whose plan size does not grow with k
    * (q_semantic_dedup runs it at k = 64, q_semantic_dedup_bigk at
    * k > 10⁴). `hierAssign` swaps in the recall-approximate
    * [[assignProbesHier]]. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               tau: Double, nCentroids: Int = 16, nProbe: Int = 2,
               iters: Int = 5, seed: Long = 42L,
               trained: Option[Array[Array[Float]]] = None,
               hierAssign: Boolean = false): DataFrame = {
    val centroids = trained.getOrElse(
      ivfTrain(corpus, idCol, vecCol, dim, nCentroids, iters, seed))
    // multi-assign (nProbe nearest clusters) so an epsilon-perturbed near-dup
    // on a cluster boundary still meets its original — the ivfTopK probe
    // argument applied symmetrically to the one corpus. hierAssign opts
    // into the two-level √k-cost assignment for extreme k (recall-approximate vs flat per
    // assignProbesHier's contract — near-dup pairs still meet because both
    // sides compute the SAME probe sets within the perturbation margin).
    val keyed = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val assigned =
      if (hierAssign) assignProbesHier(keyed, "__id", "__v", centroids, nProbe,
        withVec = true)
      else assignProbes(keyed, "__id", "__v", centroids, nProbe, withVec = true)
    // the assignment is evaluated ONCE; a vector removed from two shared
    // clusters comes out twice, hence the distinct. The cluster exchange is
    // pinned to one partition per core: adaptive execution would coalesce
    // the small list shuffle into one task and run every cluster's kernel
    // on one core. The grouping reuses that partitioning.
    val removedIds = assigned
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism, col("__cid"))
      .groupBy(col("__cid"))
      .agg(collect_list(struct(col("__id"), col("__v"))).as("__m"))
      .select(explode(clusterDupes(col("__m"), tau)).as("__rid"))
      .distinct()
    corpus.select(col(idCol))
      .join(removedIds, col(idCol) === col("__rid"), "left")
      .select(col(idCol), col("__rid").isNotNull.as("removed"))
  }

  /** The ids one cluster's member list `array<struct<id, v>>` removes under
    * semDedup's contract (graft.plans.ClusterDupes). Built through
    * ColumnBridge, so it needs no session extension. */
  private[graft] def clusterDupes(members: Column, tau: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.ClusterDupesExpr(
      ColumnBridge.expression(members), tau))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) ANN: per-subspace codebooks + ADC scan.
  // ------------------------------------------------------------------

  /** Train M per-subspace PQ codebooks (ksub centroids over each dim/M-wide
    * slice): M deterministic k-means runs over the sliced vectors, sub-space
    * mi seeded with seed + mi, each equal to [[ivfTrain]] over its slice
    * (null vectors skipped; the whole vector must have `dim` finite or null
    * elements). The M sub-spaces train in the same passes ([[KMeans]]): one
    * job draws every init and one job runs each iteration for all of them.
    * The model is M·ksub·(dim/M) floats, driver-bounded like any trained
    * model; at 100 TB you train on a sample and encode the corpus once. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int = 8, ksub: Int = 16, iters: Int = 5,
              seed: Long = 42L): Array[Array[Array[Float]]] =
    KMeans.train(corpus, idCol, vecCol, dim, m, ksub, iters,
      (0 until m).map(seed + _), "pqTrain")

  /** Encode a vector to its M-id PQ code (nearest codebook entry per
    * subspace) — the 256-byte float vector becomes M small ints: the
    * memory-compression step that lets a 100 TB corpus's index live in RAM. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Float]]], dim: Int): Column = {
    val m = codebooks.length
    val dsub = dim / m
    array((0 until m).map { mi =>
      ivfAssign(slice(vec, mi * dsub + 1, dsub), codebooks(mi))
    }: _*)
  }

  /** Exact-cosine re-rank of an ids-only candidate pair frame: attach both
    * vectors once (queries broadcast), ONE cosine per pair, per-query
    * top-k with ties to the smaller corpus id — the shared tail of every
    * ANN operator here (LSH / IVF / PQ / IVF-PQ), factored so the
    * tie-break and the vectors-attach-once contract cannot drift. */
  private def exactRerankTopK(pairs: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, queryId: String, corpusId: String,
      vecCol: String): DataFrame = {
    val scored = pairs
      .join(broadcast(queries.select(col(queryId), col(vecCol).as("__qv"))), Seq(queryId))
      .join(corpus.select(col(corpusId), col(vecCol).as("__cv")), Seq(corpusId))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    scored.select(col(queryId), col(corpusId), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** PQ geometry derived from the CODEBOOKS themselves (never from caller
    * params, which can silently disagree with a supplied trained model):
    * (m, dsub, per-subspace entry counts), validated against `dim`. */
  private def pqGeometry(books: Array[Array[Array[Float]]], dim: Int): (Int, Int) = {
    val m = books.length
    require(m >= 1 && dim % m == 0,
      s"pq: dim=$dim must divide into the codebooks' m=$m subspaces")
    val dsub = dim / m
    require(books.forall(b => b.nonEmpty && b.forall(_.length == dsub)),
      s"pq: every codebook entry must have dim/m = $dsub components")
    (m, dsub)
  }

  /** Corpus side of a PQ index: (corpusId, __code, __xn2) — the M-id code
    * plus the code's squared-norm scalar (from the codebook norm table,
    * not the vector). */
  private def pqEncoded(corpus: DataFrame, corpusId: String, vecCol: String,
      books: Array[Array[Array[Float]]], dim: Int): DataFrame = {
    val norm2Tab: Seq[Seq[Double]] = books.toIndexedSeq.map(_.toIndexedSeq.map(
      c => c.map(x => x.toDouble * x.toDouble).sum))
    corpus.select(col(corpusId), col(vecCol).as("__cv"))
      .withColumn("__code", pqEncode(col("__cv"), books, dim))
      .withColumn("__xn2", aggregate(
        zip_with(col("__code"), typedlit(norm2Tab), (cm, nt) => element_at(nt, cm + 1)),
        lit(0.0), (a, x) => a + x))
      .select(col(corpusId), col("__code"), col("__xn2"))
  }

  /** The M×ksub ADC lookup table of a query vector (subspace partial dots),
    * as one select-only expression over `qv` — shared by the batch LUT
    * frame and the streaming serve (where it must ride the stream's own
    * projection: no second frame, no stream-stream join). */
  private def pqLutCol(qv: Column, books: Array[Array[Array[Float]]],
      dim: Int): Column = {
    val (m, dsub) = pqGeometry(books, dim)
    array((0 until m).map { mi =>
      array(books(mi).indices.map { c =>
        dot(slice(qv, mi * dsub + 1, dsub), typedlit(books(mi)(c).toSeq))
      }: _*)
    }: _*)
  }

  /** Query side of a PQ scan: (queryId, __lut, __qn) — the M×ksub table of
    * subspace partial dots plus the query norm. */
  private def pqQueryLut(queries: DataFrame, queryId: String, vecCol: String,
      books: Array[Array[Array[Float]]], dim: Int): DataFrame =
    queries.select(col(queryId), col(vecCol).as("__qv"))
      .withColumn("__lut", pqLutCol(col("__qv"), books, dim))
      .withColumn("__qn", norm(col("__qv")))
      .select(col(queryId), col("__lut"), col("__qn"))

  /** The ADC cosine proxy over a joined (__code, __lut, __qn, __xn2) row:
    * M table lookups folded, normalized by the query norm and the code's
    * codebook norm. */
  private def pqAdcCol: Column =
    aggregate(
      zip_with(col("__code"), col("__lut"), (cm, lm) => element_at(lm, cm + 1)),
      lit(0.0), (a, x) => a + x) / (col("__qn") * sqrt(col("__xn2")))

  /** ANN top-k via PQ asymmetric distance (ADC) + exact re-rank: the corpus
    * is encoded ONCE to M-id codes; each query precomputes its M×ksub
    * lookup table of subspace partial dots, scores every code with M table
    * lookups (zip_with + fold — no float vector is read in the scan), takes
    * a `shortlist` of ADC candidates, and re-ranks ONLY the shortlist with
    * exact cosines. Approximation error lives only inside the shortlist
    * boundary — the final scores are exact. Queries broadcast; the corpus
    * side touches full vectors for shortlist rows only. Scoring geometry
    * derives from the codebooks (pqGeometry), so a supplied trained model
    * can never be silently mis-scored by mismatched m/ksub params. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
             m: Int = 8, ksub: Int = 16, shortlist: Int = 32, iters: Int = 5,
             queryId: String = "query_id", corpusId: String = "corpus_id",
             vecCol: String = "embedding", seed: Long = 42L,
             trained: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val books = trained.getOrElse(
      pqTrain(corpus, corpusId, vecCol, dim, m, ksub, iters, seed))
    val encoded = pqEncoded(corpus, corpusId, vecCol, books, dim)
    val q2 = pqQueryLut(queries, queryId, vecCol, books, dim)
    val wAdc = Window.partitionBy(col(queryId))
      .orderBy(col("__adc").desc, col(corpusId))
    val short = encoded.crossJoin(broadcast(q2))
      .withColumn("__adc", pqAdcCol)
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= shortlist)
      .select(col(queryId), col(corpusId))
    exactRerankTopK(short, queries, corpus, k, queryId, corpusId, vecCol)
  }

  /** IVF-PQ ANN (the Faiss IVFPQ composition — the shape a 100 TB vector
    * corpus actually serves from): the IVF inverted lists bound WHICH
    * vectors each query scores (nProbe lists instead of the corpus), the
    * PQ codes make scoring them cheap (M byte-table lookups per candidate,
    * no float vector read in the scan), and the exact re-rank confines the
    * approximation error to the shortlist boundary — final scores exact.
    * Strictly composes the two trained models ([[ivfTrain]] coarse
    * quantizer + [[pqTrain]] codebooks); both are driver-bounded and at
    * scale train on samples.
    *
    * 100 TB posture: candidates are ids-only from the broadcast probe
    * equi-join (never a corpus×query product); the ADC stage reads only
    * (id, M-byte code, scalar norm) for candidate rows; full float vectors
    * are touched for shortlist rows only. Memory: the scannable index is
    * M bytes + 8 per vector (~16 B/vector vs 256 B raw) — the compression
    * that lets the index layer of a 100 TB corpus live in cluster RAM. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      shortlist: Int = 32, iters: Int = 5,
      queryId: String = "query_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainedIvf: Option[Array[Array[Float]]] = None,
      trainedPq: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val cents = trainedIvf.getOrElse(
      ivfTrain(corpus, corpusId, vecCol, dim, nCentroids, iters, seed))
    val books = trainedPq.getOrElse(
      pqTrain(corpus, corpusId, vecCol, dim, m, ksub, iters, seed))
    val encoded = pqEncoded(corpus, corpusId, vecCol, books, dim)
    val lists = assignProbes(
      corpus.select(col(corpusId), col(vecCol).as("__lv")),
      corpusId, "__lv", cents, 1)
    val probes = assignProbes(
      queries.select(col(queryId), col(vecCol).as("__pv")),
      queryId, "__pv", cents, nProbe)
    val cand = lists.join(broadcast(probes), Seq("__cid"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId)).distinct()
    val q2 = pqQueryLut(queries, queryId, vecCol, books, dim)
    val wAdc = Window.partitionBy(col(queryId))
      .orderBy(col("__adc").desc, col(corpusId))
    val short = cand
      .join(encoded, Seq(corpusId))
      .join(broadcast(q2), Seq(queryId))
      .withColumn("__adc", pqAdcCol)
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= shortlist)
      .select(col(queryId), col(corpusId))
    exactRerankTopK(short, queries, corpus, k, queryId, corpusId, vecCol)
  }

  // ------------------------------------------------------------------
  // Stored ANN index: inverted lists as parquet PARTITIONS.
  // ------------------------------------------------------------------

  /** Persist an IVF-PQ index as `__cid`-partitioned parquet — the inverted
    * lists become PARTITIONS of an ordinary table, so probing nProbe lists
    * at query time is partition PRUNING on the scan (plan-asserted): no
    * bespoke index format, no custom reader, and every Spark facility
    * (stats, vacuum, schema evolution) applies to the index because it IS
    * a table. Rows carry (corpus_id, code, xn2) — M small ints + one
    * scalar per vector (~16 B vs 256 B raw, the PQ compression); the two
    * MODELS (coarse centroids + codebooks) are written alongside as plain
    * parquet so any session can reopen the index without retraining.
    *
    * 100 TB posture: the build is one assignment pass + one encode pass +
    * one partitioned write; serving reads ONLY the probed lists' files and
    * re-ranks against the payload store by id (the standard two-tier
    * index/payload architecture). */
  def writeIndex(corpus: DataFrame, dir: String, idCol: String,
      vecCol: String, dim: Int, nCentroids: Int = 16, m: Int = 8,
      ksub: Int = 16, iters: Int = 5, seed: Long = 42L,
      trainedIvf: Option[Array[Array[Float]]] = None,
      trainedPq: Option[Array[Array[Array[Float]]]] = None,
      corpusSnapshot: String = "", ownerCol: String = ""): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // never write over a mid-maintenance tree (a marker means recoverIndex
    // owns this dir), and never overwrite a LIVE index out from under an
    // in-flight append (same writer contract as every other mutator).
    // In-place re-writes of a serving index should go through
    // [[rebuildIndex]]'s staged swap: a crash mid-writeIndex leaves a torn
    // tree that is DETECTABLE (stale/missing manifest — written last) but
    // not recoverable (no retired copy to roll back to).
    requireCleanIndex(fs, dir, "writeIndex")
    val overwriting =
      fs.exists(new org.apache.hadoop.fs.Path(manifestPath(dir)))
    if (overwriting) {
      // overwriting a LIVE index is stop-the-world maintenance: acquire
      // the op=overwrite marker for the whole run (atomic, refusing while
      // any append lease is live), so appends and serve opens fail loudly
      // instead of interleaving with the component rewrites — without it,
      // an append STARTING mid-overwrite would write rows the lists
      // overwrite silently clobbers (the same write-skew class the leases
      // closed for maintenance). recoverIndex's op=overwrite branch just
      // drops the marker: mid-overwrite crash states are already loud
      // (manifest deleted below before any component is touched), and the
      // repair is re-running writeIndex.
      acquireMarker(fs, dir, "writeIndex (overwrite)", """{"op":"overwrite"}""")
      // drop the old manifest BEFORE touching components: any crash inside
      // the overwrite then reads as a missing manifest (loud at open) even
      // when the new geometry happens to equal the old
      fs.delete(new org.apache.hadoop.fs.Path(manifestPath(dir)), false)
    }
    // pre-trained models short-circuit the two training runs (the sibling
    // ANN entry points' trained/trainedIvf/trainedPq convention)
    val cents = trainedIvf.getOrElse(
      ivfTrain(corpus, idCol, vecCol, dim, nCentroids, iters, seed))
    val books = trainedPq.getOrElse(
      pqTrain(corpus, idCol, vecCol, dim, m, ksub, iters, seed))
    cents.zipWithIndex.toIndexedSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "vec").write.mode("overwrite").parquet(s"$dir/centroids")
    books.zipWithIndex.toIndexedSeq.flatMap { case (b, mi) =>
      b.zipWithIndex.map { case (c, ci) => (mi, ci, c.toSeq) }
    }.toDF("m", "c", "vec").write.mode("overwrite").parquet(s"$dir/codebooks")
    val lists = assignProbes(
      corpus.select(col(idCol), col(vecCol).as("__iv")), idCol, "__iv", cents, 1)
    // `ownerCol` (a TOKEN index's owning-doc id) rides the lists write as
    // one extra column, so the late-interaction candidate stage serves
    // from the index tree alone — no corpus-token-scale ownership join per
    // query (see maxSimTopKIndexed). Ids-only join, same key as the
    // assignment join; maintenance preserves it (compact/delete rewrite
    // whole rows, split carries non-partition columns, rebuild re-supplies
    // it from the payload).
    val encoded = pqEncoded(corpus, idCol, vecCol, books, dim)
      .join(lists, Seq(idCol))
    val withOwner = if (ownerCol.isEmpty) encoded
      else encoded.join(corpus.select(col(idCol), col(ownerCol).as("owner")),
        Seq(idCol))
    val outCols = Seq(col(idCol).as("corpus_id"), col("__code").as("code"),
      col("__xn2").as("xn2"), col("__cid")) ++
      (if (ownerCol.isEmpty) Nil else Seq(col("owner")))
    withOwner.select(outCols: _*)
      .write.mode("overwrite").partitionBy("__cid").parquet(s"$dir/lists")
    // manifest LAST: it records the GEOMETRY ACTUALLY WRITTEN (pre-trained
    // models win over the parameter defaults) and its presence certifies a
    // COMPLETE tree — a crash between component writes leaves a missing or
    // stale manifest (loud at every open) instead of a fresh manifest over
    // half-old components, which would be a silently wrong ADC
    writeManifest(fs, dir,
      IndexManifest(ManifestFormat, dim, cents.length, books.length,
        books.headOption.map(_.length).getOrElse(ksub), seed, corpusSnapshot,
        hasOwner = ownerCol.nonEmpty))
    if (overwriting)
      fs.delete(new org.apache.hadoop.fs.Path(markerPath(dir)), false)
  }

  /** Reopen a stored index's models (driver-bounded — k×dim + M·ksub·dsub
    * floats, like any trained model). Every serve path opens the index
    * here, so this is also the LOUD gate against an index whose
    * compact/delete died mid-swap: a leftover retired list would otherwise
    * be silently absent from every probe (wrong top-k, no error) —
    * [[recoverIndex]] repairs, then serving resumes. */
  def readIndexModels(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    requireCleanIndex(fs, dir, "readIndexModels")
    // Open-once serving: every serve construction was re-collecting the
    // centroid and codebook tables as two Spark jobs (~0.3-0.4 s of
    // driver-side open per request). The models are a session artifact per
    // dir, stamped with a freshness validator of (manifest bytes,
    // centroids/codebooks dir mtimes): ops that CHANGE models rewrite the
    // manifest and swap/extend those dirs (writeIndex, rebuild, split), so
    // the stamp differs and the entry is replaced; append/compact/delete/
    // merge leave models untouched and hit. The under-lock merge
    // validation reads through readIndexModelsRaw and never sees it.
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // a tree the validator cannot even stat (missing manifest/model dirs)
    // bypasses the registry entirely so the raw path raises its CONTRACTUAL
    // loud error (IllegalArgumentException with the diff), not an FS one
    val validator =
      try Some((readUtf8(fs, manifestPath(dir)),
        fs.getFileStatus(p(s"$dir/centroids")).getModificationTime,
        fs.getFileStatus(p(s"$dir/codebooks")).getModificationTime))
      catch { case _: java.io.IOException => None }
    validator match {
      case None => readIndexModelsRaw(spark, dir)
      case Some(v) =>
        graft.SessionArtifacts.get(spark, "index_models", dir, stamp = v)(
          readIndexModelsRaw(spark, dir))
    }
  }

  /** [[readIndexModels]] WITHOUT the maintenance-leftover guard — for the
    * one caller that legitimately reads models while HOLDING the marker
    * itself (mergeIndex's under-lock re-validation). Everything else goes
    * through the guarded entry point. */
  private def readIndexModelsRaw(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val mf = readIndexManifest(spark, dir)
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Float](1).toArray)
    val rows = spark.read.parquet(s"$dir/codebooks")
      .orderBy("m", "c").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val books = Array.tabulate(m)(mi =>
      rows.filter(_.getInt(0) == mi).map(_.getSeq[Float](2).toArray))
    // the loaded model tables must agree with the manifest — a partial
    // overwrite, a mixed-up directory, or a foreign index fails HERE with
    // the diff, not later as a shape error (or a silent wrong-ADC)
    requireManifestMatch(mf, dir, "readIndexModels", mf.dim,
      Some((cents, books)))
    (cents, books)
  }

  /** Open a stored index for SERVING: models + manifest. `dim ≤ 0` means
    * the manifest IS the source of geometry (the default for every serve
    * entry point — the KQL plugin's posture); an explicit positive dim is
    * validated against it with a loud diff (kept for mismatch tests and
    * defensive callers). Returns the models plus the resolved dim. */
  private def openIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      dim: Int, op: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]], Int) = {
    val mf = readIndexManifest(spark, dir)
    val useDim = if (dim > 0) dim else mf.dim
    requireManifestMatch(mf, dir, op, useDim, None)
    val (cents, books) = readIndexModels(spark, dir)
    (cents, books, useDim)
  }

  /** Resolve a shortlist request: positive = explicit; ≤ 0 = AUTO, derived
    * from the index's OWN geometry so a 100× index doesn't quietly inherit
    * a small-corpus constant. The measured rule (SCALE.md recall grid:
    * the defaults decay 0.444 → 0.294 at 4× the corpus, and scaling
    * shortlist with n restores it) is shortlist ∝ n/k at fixed nProbe —
    * the per-list row count — floored at the 32 default. Cost: one
    * metadata-only count of the lists table (parquet footers). */
  private def resolveShortlist(spark: org.apache.spark.sql.SparkSession,
      dir: String, shortlist: Int, nCentroids: Int): Int =
    if (shortlist > 0) shortlist
    else {
      val n = spark.read.parquet(s"$dir/lists").count()
      math.max(32, math.ceil(n.toDouble / math.max(1, nCentroids)).toInt)
    }

  /** Resolve an nProbe request: positive = explicit; ≤ 0 = AUTO, derived
    * from the index's OWN manifest geometry as ceil(√nCentroids) — the
    * standard IVF operating point (recall grids over the decades put the
    * knee where probed lists ≈ √k; at the fixture's k=16 the auto value IS
    * the hand-tuned nProbe=4 grid point — RecallScale's auto lanes) and
    * [[resolveShortlist]]'s companion: a retrained/bigger index no longer
    * quietly inherits a small-corpus probe constant. */
  private def resolveNProbe(nProbe: Int, nCentroids: Int): Int =
    if (nProbe > 0) nProbe
    else math.max(1, math.ceil(math.sqrt(nCentroids.toDouble)).toInt)

  /** Serve top-k from a STORED index: each query's nProbe probe lists
    * resolve to `__cid` partition values, the union of probed cids becomes
    * a partition-pruning filter on the lists scan (only those directories'
    * files are read — asserted in PlanAuditSpec), ADC scores only the
    * per-query probed candidates, and the exact re-rank reads full vectors
    * from the PAYLOAD table (`corpus`) for shortlist rows only. */
  def indexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int = 0,
      nProbe: Int = 4, shortlist: Int = 32,
      queryId: String = "query_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    val (cents, books, useDim) = openIndex(spark, dir, dim, "indexTopK")
    val useShort = resolveShortlist(spark, dir, shortlist, cents.length)
    val useProbe = resolveNProbe(nProbe, cents.length)
    // queries are driver-bounded by serving contract: collect the probe
    // assignment ONCE (it costs k dots per query row) and re-enter it as a
    // local relation — the cid union prunes the partitioned scan and the
    // same rows feed the join, instead of re-running the assignment scan
    // as a second job for the broadcast side
    val probePlan = assignProbes(
      queries.select(col(queryId), col(vecCol).as("__pv")),
      queryId, "__pv", cents, useProbe)
    val probeRows = probePlan.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probePlan.schema)
    val probedCids = probeRows.map(_.getInt(1)).distinct.toSeq
    val lists = spark.read.parquet(s"$dir/lists")
      .where(col("__cid").isInCollection(probedCids))
    val cand = lists.join(broadcast(probes), Seq("__cid"))
      .filter(col(queryId) =!= col("corpus_id"))
    indexServeTail(cand, queries, corpus, books, k, useDim, useShort,
      queryId, corpusId, vecCol)
  }

  /** The shared ADC-shortlist + exact-re-rank tail of every stored-index
    * serve path (driver-bounded, distributed, and streaming-shortlist):
    * one place for the LUT join, the ADC window, the shortlist boundary,
    * and the tie-breaks, so the three paths cannot drift. `cand` carries
    * (queryId, corpus_id, code, xn2). */
  private def indexServeTail(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, books: Array[Array[Array[Float]]], k: Int, dim: Int,
      shortlist: Int, queryId: String, corpusId: String,
      vecCol: String): DataFrame = {
    val q2 = pqQueryLut(queries, queryId, vecCol, books, dim)
    val wAdc = Window.partitionBy(col(queryId))
      .orderBy(col("__adc").desc, col("corpus_id"))
    val short = cand
      .withColumnRenamed("code", "__code").withColumnRenamed("xn2", "__xn2")
      .join(broadcast(q2), Seq(queryId))
      .withColumn("__adc", pqAdcCol)
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= shortlist)
      .select(col(queryId), col("corpus_id").as(corpusId))
    exactRerankTopK(short, queries, corpus, k, queryId, corpusId, vecCol)
  }

  /** DISTRIBUTED serve from a stored index — [[indexTopK]]'s contract with
    * the driver-side probe collect removed, so the index can serve a LARGE
    * query table: the probe assignment stays a DataFrame end-to-end and is
    * broadcast into the candidate join; the partitioned lists scan is
    * pruned by DYNAMIC partition pruning (Spark's PartitionPruning rule
    * turns the broadcast build side into a runtime partition filter on
    * `__cid` — `dynamicpruningexpression` on the scan, plan-asserted in
    * PlanAuditSpec). Nothing query-cardinality-sized ever touches the
    * driver; only the two frozen MODELS are (bounded, like any model).
    *
    * Same results as [[indexTopK]] by construction: identical probe chain,
    * identical candidate join, the shared [[indexServeTail]].
    *
    * FILTERED serve (`filter`): a metadata predicate over the PAYLOAD
    * table's columns (lang = 'en', ts > τ, …) composed into serving as a
    * PRE-filter — candidates are semi-joined against the predicate's
    * surviving ids BEFORE the ADC shortlist, so the shortlist spends its
    * whole budget on rows that can actually be returned and the k contract
    * holds under any selectivity (the standard vector-store feature; the
    * post-filter alternative silently returns < k whenever the filter is
    * selective at the shortlist boundary). The predicate rides the payload
    * scan (pushed down by Catalyst), the semi-join is ids-only, and the
    * lists scan stays DPP-pruned — plan-asserted. Recall caveat: filtering
    * does not widen probes; under EXTREME selectivity (surviving rows
    * thinner than nProbe lists' coverage) raise nProbe, not shortlist —
    * documented in SCALE.md. */
  def indexTopKDistributed(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, corpus: DataFrame, k: Int, dim: Int = 0,
      nProbe: Int = 4, shortlist: Int = 32,
      queryId: String = "query_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding", filter: Option[Column] = None,
      hierProbe: Option[Int] = None): DataFrame = {
    val (cents, books, useDim) =
      openIndex(spark, dir, dim, "indexTopKDistributed")
    val useShort = resolveShortlist(spark, dir, shortlist, cents.length)
    val useProbe = resolveNProbe(nProbe, cents.length)
    val qv = queries.select(col(queryId), col(vecCol).as("__pv"))
    // hierProbe = Some(groupProbe) opts the probe assignment into the
    // two-level √k ladder (assignProbesHier) — the k ≳ 10⁴ serving regime
    // where even exact assignment's per-row cost is the bottleneck;
    // recall-approximate per that operator's contract (groupProbe = √k
    // degenerates to exact flat). Default stays exact flat assignment.
    val probes = (hierProbe match {
      case Some(g) => assignProbesHier(qv, queryId, "__pv", cents, useProbe,
        groupProbe = g)
      case None => assignProbes(qv, queryId, "__pv", cents, useProbe)
    })
      // cids are non-negative by construction; the (always-true) bound is
      // the SELECTIVE predicate PartitionPruning requires on the build side
      // before it inserts the dynamic pruning subquery on the scan
      .where(col("__cid") >= 0)
    val lists = spark.read.parquet(s"$dir/lists")
    val cand0 = lists.join(broadcast(probes), Seq("__cid"))
      .filter(col(queryId) =!= col("corpus_id"))
    val cand = filter match {
      case Some(pred) => cand0.join(
        corpus.where(pred).select(col(corpusId).as("corpus_id")),
        Seq("corpus_id"), "left_semi")
      case None => cand0
    }
    indexServeTail(cand, queries, corpus, books, k, useDim, useShort,
      queryId, corpusId, vecCol)
  }

  /** STREAMING shortlist from a stored index — the candidate-generation
    * half of index serving composed with a query STREAM: the probe
    * assignment and the ADC LUT are select-only literal expressions on the
    * stream (the frozen models ride the plan, no state), candidates come
    * from ONE stateless stream-static equi-join against the lists table on
    * `__cid`, and the per-query shortlist is a streaming aggregation whose
    * state is the BOUNDED TopKAgg reservoir (≤ shortlist pairs per query —
    * the same boundary and (adc DESC, id ASC) tie-break as the batch
    * window). Returns the streaming (queryId, corpus_id) shortlist; run it
    * bounded (complete mode) and feed [[rerankTopK]] for the exact tail —
    * the standard streaming-candidates / batch-re-rank split. */
  def indexShortlistStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryStream: DataFrame, dim: Int = 0,
      nProbe: Int = 4, shortlist: Int = 32,
      queryId: String = "query_id",
      vecCol: String = "embedding", groupProbe: Int = 3,
      allowed: Option[DataFrame] = None): DataFrame = {
    val (cents, books, useDim) =
      openIndex(spark, dir, dim, "indexShortlistStream")
    val useShort = resolveShortlist(spark, dir, shortlist, cents.length)
    val useProbe = resolveNProbe(nProbe, cents.length)
    // probes AND the ADC LUT ride ONE projection of the stream — a second
    // derived frame would make the candidate join a stream-STREAM join
    // (watermark state) instead of the stateless stream-static form
    val qlut = queryStream.select(col(queryId), col(vecCol).as("__qv"))
      .withColumn("__lut", pqLutCol(col("__qv"), books, useDim))
      .withColumn("__qn", norm(col("__qv")))
    val qside =
      if (cents.length < centroidTableThreshold)
        // under the threshold: exact top-nProbe probes in the projection
        qlut.select(col(queryId), col("__lut"), col("__qn"),
          explode(ivfProbes(col("__qv"), cents, useProbe)).as("__cid"))
      else {
        // PAST the threshold: the stream-composable form probes at GROUP
        // granularity ([[ladderProbeCids]], shared with
        // maxSimStream). Candidates are a SUPERSET of the two-level
        // top-nProbe frontier, so at a non-binding shortlist recall ≥ the
        // hier path's at equal groupProbe (anchored in SimilaritySpec;
        // measured in the RecallScale streaming lane); the cost is probed
        // lists ≈ groupProbe·√k instead of nProbe — the ADC stage absorbs
        // it (M lookups/candidate) and the shortlist aggregation state
        // stays bounded regardless. Same recall-approximate contract and
        // the SAME group structure as assignProbesHier (supers train
        // driver-side on the MODEL, sampled past the cap, never on data).
        // nProbe does not govern here — say so (regime switch visible to
        // a tuned caller whose index was re-quantized past the threshold)
        org.slf4j.LoggerFactory.getLogger("graft.Similarity").warn(
          s"indexShortlistStream: ${cents.length} centroids >= " +
            s"$centroidTableThreshold — serving via the group ladder " +
            s"(groupProbe=$groupProbe governs candidates; nProbe is not " +
            "used on this path)")
        ladderProbeCids(qlut, col("__qv"), cents, groupProbe)
          .select(col(queryId), col("__lut"), col("__qn"), col("__cid"))
      }
    val lists = spark.read.parquet(s"$dir/lists")
    val cand0 = qside.join(lists, Seq("__cid"))
      .filter(col(queryId) =!= col("corpus_id"))
    // FILTERED streaming serve: `allowed` is an ids frame (first column =
    // corpus id) — candidates semi-join against it BEFORE the shortlist
    // aggregation, one more STATIC side on the stream (still stateless),
    // so the bounded shortlist spends its whole budget on returnable rows
    // — the same pre-filter contract as the batch path's `filter`
    val cand = (allowed match {
      case Some(ok) => cand0.join(
        ok.select(ok.columns.head).toDF("corpus_id"),
        Seq("corpus_id"), "left_semi")
      case None => cand0
    }).withColumnRenamed("code", "__code").withColumnRenamed("xn2", "__xn2")
      .withColumn("__adc", pqAdcCol)
    val topk = udaf(new Sampling.TopKAgg(useShort))
    // (adc, corpus_id) pairs are unique per query (each corpus vector lives
    // in exactly ONE list) — TopKAgg's uniqueness contract holds
    cand.groupBy(col(queryId))
      .agg(topk(col("__adc"), col("corpus_id")).as("__short"))
      .select(col(queryId), explode(col("__short")).as("__p"))
      .select(col(queryId), col("__p._2").as("corpus_id"))
  }

  /** Exact-cosine re-rank of an ids-only candidate frame — the public tail
    * for compositions that produce their shortlist elsewhere (the streaming
    * stored-index serve). Identical semantics to every batch ANN tail here
    * (same private chain). */
  def rerankTopK(pairs: DataFrame, queries: DataFrame, corpus: DataFrame,
      k: Int, queryId: String = "query_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame =
    exactRerankTopK(pairs, queries, corpus, k, queryId, corpusId, vecCol)

  // ------------------------------------------------------------------
  // Index manifest: self-describing parameters, validated at every open.
  // ------------------------------------------------------------------

  /** The stored index's self-description — written once at [[writeIndex]]
    * and REQUIRED by every open/append/delete: dimensionality, quantizer
    * geometry, training seed, format version, and an optional caller
    * corpus-snapshot id. Without it, an `appendToIndex` handed vectors of
    * the wrong dimensionality encodes garbage silently whenever the dims
    * divide evenly (the ADC would read valid-looking codes) — the manifest
    * turns every such mismatch into a loud diff at the entry point (the
    * reference's self-describing SegmentMeta posture,
    * `/root/reference/segment_metadata.proto:73-82`). */
  case class IndexManifest(format: String, dim: Int, nCentroids: Int,
      m: Int, ksub: Int, seed: Long, corpusSnapshot: String,
      hasOwner: Boolean = false)

  /** The format this build WRITES. Reads also accept format-1 (pre-r17,
    * no `has_owner` key): ownership is then resolved once from the lists
    * schema — the legacy migration read — and the next manifest rewrite
    * (split/rebuild/overwrite) records it under the current format, so a
    * format-1 OWNER index is never silently demoted to ownerless (the
    * trap a bare default-false read would spring: ownerless appends
    * passing the guard, rebuilds silently dropping the column). */
  private val ManifestFormat = "graft-ivfpq-2"
  private val ReadableFormats = Set("graft-ivfpq-1", ManifestFormat)

  private def manifestPath(dir: String) = s"$dir/manifest.json"

  private def jsonQuote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def jsonLong(js: String, key: String): Long = {
    val m = ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(js)
    require(m.isDefined, s"index manifest: missing integer field '$key'")
    m.get.group(1).toLong
  }

  private def jsonString(js: String, key: String): String = {
    val at = js.indexOf("\"" + key + "\"")
    require(at >= 0, s"index manifest: missing string field '$key'")
    val colon = js.indexOf(':', at)
    val open = if (colon < 0) -1 else js.indexOf('"', colon + 1)
    require(open >= 0, s"index manifest: malformed string field '$key'")
    val out = new StringBuilder
    var i = open + 1
    while (i < js.length && js(i) != '"') {
      if (js(i) == '\\') {
        require(i + 1 < js.length,
          s"index manifest: truncated escape in field '$key'")
        out += js(i + 1); i += 2
      } else { out += js(i); i += 1 }
    }
    require(i < js.length,
      s"index manifest: unterminated string field '$key' (truncated file?)")
    out.toString
  }

  private def writeUtf8(fs: org.apache.hadoop.fs.FileSystem, path: String,
      body: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
      path: String): String = {
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      mf: IndexManifest): Unit =
    // always stamp the CURRENT format: a maintenance rewrite of a
    // format-1 manifest upgrades it (with has_owner recorded) in place
    writeUtf8(fs, manifestPath(dir),
      s"""{"format":${jsonQuote(ManifestFormat)},"dim":${mf.dim},""" +
        s""""n_centroids":${mf.nCentroids},"m":${mf.m},"ksub":${mf.ksub},""" +
        s""""seed":${mf.seed},"has_owner":${mf.hasOwner},""" +
        s""""corpus_snapshot":${jsonQuote(mf.corpusSnapshot)}}""")

  /** Optional boolean manifest field — absent (pre-r17 manifests) reads as
    * `false`, so ownerless indexes round-trip unchanged. */
  private def jsonBoolOpt(js: String, key: String): Boolean =
    ("\"" + key + "\"\\s*:\\s*(true|false)").r.findFirstMatchIn(js)
      .exists(_.group(1) == "true")

  /** Source list of an op=merge marker: the n-ary `srcs` array, with the
    * pre-r18 single-`src` body still readable (a crashed r17 merge must
    * stay recoverable by this build). */
  private def mergeMarkerSrcs(js: String): Seq[String] = {
    val key = "\"srcs\""
    val at = js.indexOf(key)
    if (at < 0) return Seq(jsonString(js, "src"))
    val open = js.indexOf('[', at + key.length)
    require(open >= 0, "merge marker: malformed 'srcs' array")
    val out = Seq.newBuilder[String]
    var i = open + 1
    while (i < js.length && js(i) != ']') {
      if (js(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < js.length && js(i) != '"') {
          if (js(i) == '\\') {
            require(i + 1 < js.length,
              "merge marker: truncated escape in 'srcs'")
            sb += js(i + 1); i += 2
          }
          else { sb += js(i); i += 1 }
        }
        require(i < js.length, "merge marker: unterminated string in 'srcs'")
        i += 1
        out += sb.toString
      } else i += 1
    }
    require(i < js.length, "merge marker: unterminated 'srcs' array")
    out.result()
  }

  /** Driver-side memo of the format-1 ownership sniff, keyed by
    * (normalized index path, manifest mtime): the sniff opens the lists
    * parquet tree (file listing + footer), and without the memo EVERY
    * manifest read of a pre-r17 index paid it — serve paths once per
    * query, the continuous-ingest path once per MICRO-BATCH, the exact
    * per-batch cost the manifest check exists to avoid (r17 ADVICE).
    * Sound to cache: a format-1 index's ownership can only change through
    * an op that REWRITES the manifest (split/rebuild/overwrite — all
    * stamp format-2, after which the sniff is never consulted), this
    * build only ever writes format-2, and an EXTERNALLY restored format-1
    * tree at the same path (the one mutation none of that covers) carries
    * a fresh manifest mtime — a different key, so it re-sniffs instead of
    * serving the predecessor's answer. Bounded: cleared wholesale past
    * 4096 entries (indexes per driver). Process-global, not a
    * [[graft.SessionArtifacts]] entry: the answer is a property of the
    * tree at (path, mtime), the same for every session that reads it. */
  private val ownerSniffCache =
    scala.collection.concurrent.TrieMap[String, Boolean]()

  /** Read + structurally validate a stored index's manifest (loud if absent
    * or malformed — an index without a manifest predates this format and
    * must be rebuilt, not guessed at). */
  def readIndexManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): IndexManifest = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val mfStatus =
      try fs.getFileStatus(new org.apache.hadoop.fs.Path(manifestPath(dir)))
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"index at $dir has no manifest.json — not a graft index " +
              "(or written by a pre-manifest build; rebuild with writeIndex)")
      }
    val js = readUtf8(fs, manifestPath(dir))
    // a format-1 manifest predates has_owner: resolve ownership from the
    // lists schema ONCE (the legacy migration read — one footer, memoized
    // per (index path, manifest mtime) in [[ownerSniffCache]]), never
    // default it to false, which would silently demote an owner index
    val hasOwner =
      if (js.contains("\"has_owner\"")) jsonBoolOpt(js, "has_owner")
      else {
        if (ownerSniffCache.size > 4096) ownerSniffCache.clear()
        val key = new org.apache.hadoop.fs.Path(dir).toUri.getPath +
          "@" + mfStatus.getModificationTime
        ownerSniffCache.get(key) match {
          case Some(v) => v
          case None =>
            // an ABSENT lists tree (a mid-crashed maintenance state) is a
            // transient answer — report false but do NOT cache it, or the
            // recovered owner tree would serve a demoted sniff forever
            // under the unchanged manifest mtime
            if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/lists")))
              false
            else {
              val v = spark.read.parquet(s"$dir/lists").schema.fieldNames
                .contains("owner")
              ownerSniffCache.put(key, v)
              v
            }
        }
      }
    val mf = IndexManifest(jsonString(js, "format"),
      jsonLong(js, "dim").toInt, jsonLong(js, "n_centroids").toInt,
      jsonLong(js, "m").toInt, jsonLong(js, "ksub").toInt,
      jsonLong(js, "seed"), jsonString(js, "corpus_snapshot"),
      hasOwner)
    require(ReadableFormats.contains(mf.format),
      s"index at $dir: unsupported format '${mf.format}' " +
        s"(this build reads ${ReadableFormats.mkString("/")})")
    mf
  }

  /** Loud manifest-vs-caller diff: every mismatch names BOTH values. */
  private def requireManifestMatch(mf: IndexManifest, dir: String, op: String,
      dim: Int,
      models: Option[(Array[Array[Float]], Array[Array[Array[Float]]])]): Unit = {
    val diffs = Seq.newBuilder[String]
    if (dim != mf.dim) diffs += s"dim: caller=$dim manifest=${mf.dim}"
    models.foreach { case (cents, books) =>
      if (cents.length != mf.nCentroids)
        diffs += s"n_centroids: models=${cents.length} manifest=${mf.nCentroids}"
      if (cents.nonEmpty && cents.head.length != mf.dim)
        diffs += s"centroid dim: models=${cents.head.length} manifest=${mf.dim}"
      if (books.length != mf.m)
        diffs += s"m: models=${books.length} manifest=${mf.m}"
      if (books.nonEmpty && books.head.length != mf.ksub)
        diffs += s"ksub: models=${books.head.length} manifest=${mf.ksub}"
    }
    val d = diffs.result()
    require(d.isEmpty,
      s"$op: parameters disagree with the index manifest at $dir — " +
        d.mkString("; "))
  }

  /** APPEND new vectors to a stored index — the reference's declared
    * segment lifecycle (append + periodic merge,
    * `/root/reference/README.md:27`) applied to the ANN tier: the new rows
    * are assigned and PQ-encoded with the index's OWN stored models (models
    * are FROZEN at build — the standard IVF contract; lists grow, the
    * quantizer does not move, so existing codes stay valid) and appended
    * into the same `__cid` partition directories. One assignment pass, one
    * encode pass, one partitioned append — no rewrite of existing files,
    * no retrain. Serving needs no coordination: a scan sees old + new files
    * of the probed partitions.
    *
    * WRITER CONTRACT: appends may run concurrently with serving but NEVER
    * with maintenance (compact/delete/split) — maintenance snapshots the
    * lists and swaps them, so rows appended inside its window would be
    * silently swapped away. Maintenance holds a marker file for its whole
    * run and this entry point guards on it UNCONDITIONALLY (pre-read models
    * included — the r14 race: an unguarded append after a mid-delete crash
    * recreated `lists/` and recovery then discarded the retired originals),
    * so an overlapping append fails loudly instead of losing rows. The
    * guard holds for the append's WHOLE DURATION, not just entry: the
    * append writes a LEASE file before checking for the marker and holds it
    * until its write job finishes, and maintenance refuses to start while
    * any live lease exists (the r15 in-flight window — an append whose job
    * was mid-write when maintenance snapshotted could still lose rows). */
  def appendToIndex(newRows: DataFrame, dir: String, idCol: String,
      vecCol: String, dim: Int,
      models: Option[(Array[Array[Float]], Array[Array[Array[Float]]])] =
        None, staleLeaseMs: Long = defaultStaleLeaseMs,
      ownerCol: String = ""): Unit =
    appendToIndexImpl(newRows, dir, idCol, vecCol, dim, models, _ => (),
      staleLeaseMs, ownerCol)

  /** [[appendToIndex]] with a step hook — the crash/concurrency-injection
    * seam the writer-contract units drive. Steps: "leased" (lease on disk,
    * marker check passed, write job not yet started). `onBeat` injects
    * into the heartbeat thread ([[startLeaseHeartbeat]]): "pre_write"
    * fires between a beat's exists-check and its lease rewrite — the
    * exact window of the reclaim-vs-recreate race the tombstone fences. */
  private[graft] def appendToIndexImpl(newRows: DataFrame, dir: String,
      idCol: String, vecCol: String, dim: Int,
      models: Option[(Array[Array[Float]], Array[Array[Array[Float]]])],
      onStep: String => Unit,
      staleLeaseMs: Long = defaultStaleLeaseMs,
      ownerCol: String = "",
      onBeat: String => Unit = _ => ()): Unit = {
    val spark = newRows.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // ALWAYS guard, even with pre-read models: pure fs-existence checks,
    // negligible per micro-batch, and the only thing standing between a
    // crashed maintenance run and an append that recreates lists/ over it
    requireCleanIndex(fs, dir, "appendToIndex")
    // lease-then-check: our intent is on disk BEFORE we look for a marker,
    // and maintenance acquires marker-then-checks-leases, so every
    // interleaving has at least one side observe the other — an in-flight
    // append can no longer be silently swapped away
    val startMs = System.currentTimeMillis()
    val leaseUuid = java.util.UUID.randomUUID().toString
    val lease = leasePrefix(dir) + leaseUuid
    val tombstone = s"$dir/lists__reclaimed_$leaseUuid"
    require(createExclusive(fs, lease,
      s"""{"op":"append","epoch_ms":$startMs}"""),
      s"appendToIndex: lease collision at $lease")
    // HEARTBEAT for the append's whole run: staleness is judged on the
    // lease's last touch, so without renewal a LIVE append slower than
    // staleLeaseMs would be reclaimed as dead mid-flight (the r16 hole) —
    // the beat turns "stale" into EVIDENCE of death, not a duration guess
    val (leaseReclaimed, stopBeat) = startLeaseHeartbeat(fs, lease, tombstone,
      startMs, math.max(25L, staleLeaseMs / 4), onBeat)
    try {
      // re-check AFTER the lease is visible: a maintenance marker acquired
      // before our lease landed wins; we refuse
      requireCleanIndex(fs, dir, "appendToIndex")
      // fence token AFTER the marker re-check: any maintenance entry from
      // here to commit can only proceed by judging our lease dead, and its
      // entry bumps this token — the commit-side evidence that survives
      // tombstone GC and arbitrary stalls ([[fencePath]])
      val fence0 = readFenceToken(fs, dir)
      val mf = readIndexManifest(spark, dir)
      requireManifestMatch(mf, dir, "appendToIndex", dim, models)
      // the MANIFEST is authoritative for ownership (has_owner — recorded
      // at write, preserved by every maintenance op): an owner-carrying
      // index must get owner-carrying appends (a silent ownerless append
      // would leave mixed-schema files the candidate stage reads past) and
      // vice versa — loud either way, at zero extra I/O (the manifest is
      // already read per append; the r17-draft lists-schema sniff cost a
      // full lists-tree file listing per streaming micro-batch).
      require(mf.hasOwner == ownerCol.nonEmpty,
        if (mf.hasOwner) s"appendToIndex: the index at $dir stores token " +
          "ownership ('owner' column) — pass ownerCol so appended rows " +
          "carry it too"
        else s"appendToIndex: ownerCol='$ownerCol' given but the index at " +
          s"$dir has no 'owner' column — rebuild with writeIndex(ownerCol=…)")
      // pre-read models skip the two parquet reads + driver collects — the
      // continuous-ingest path (one appendToIndex per micro-batch) reads the
      // FROZEN models once before the stream starts and passes them through
      val (cents, books) = models.getOrElse(readIndexModels(spark, dir))
      onStep("leased")
      val lists = assignProbes(
        newRows.select(col(idCol), col(vecCol).as("__iv")), idCol, "__iv", cents, 1)
      val encoded = pqEncoded(newRows, idCol, vecCol, books, dim)
        .join(lists, Seq(idCol))
      val withOwner = if (ownerCol.isEmpty) encoded
        else encoded.join(newRows.select(col(idCol), col(ownerCol).as("owner")),
          Seq(idCol))
      val outCols = Seq(col(idCol).as("corpus_id"), col("__code").as("code"),
        col("__xn2").as("xn2"), col("__cid")) ++
        (if (ownerCol.isEmpty) Nil else Seq(col("owner")))
      withOwner.select(outCols: _*)
        .write.mode("append").partitionBy("__cid").parquet(s"$dir/lists")
      // the write landed — the lease must still be OURS. If it was
      // reclaimed mid-run (this append stalled past staleLeaseMs between
      // two beats and a maintainer judged it dead), maintenance may be
      // rewriting the tree right now and our files can be silently
      // swapped away: fail LOUDLY so the caller re-runs the append,
      // instead of reporting success for rows that may not survive.
      // commit-side checks, one per race class: the flag (the beat saw the
      // reclaim), the tombstone (a racing beat recreated the lease before
      // the flag was set — the rename left the tombstone behind), the
      // lease file itself, and the FENCE token (a maintenance entry ran
      // inside our window — possible only by judging us dead — which
      // survives tombstone GC and whole-process pauses)
      if (leaseReclaimed.get() ||
          fs.exists(new org.apache.hadoop.fs.Path(tombstone)) ||
          !fs.exists(new org.apache.hadoop.fs.Path(lease)) ||
          readFenceToken(fs, dir) != fence0)
        throw new IllegalStateException(
          s"appendToIndex: lease $lease was reclaimed mid-append (the " +
            "append stalled past staleLeaseMs and maintenance judged it " +
            "dead) — SOME OR ALL of the appended rows may have been " +
            "swapped away by the concurrent maintenance, and the " +
            "survivors are already in the index, so a blind re-run would " +
            "DUPLICATE them. Reconcile instead: after the maintenance " +
            "finishes, left-anti join this batch's ids against the lists " +
            "table and re-append only the missing rows (or deleteFromIndex " +
            "this batch's ids first, then re-append the whole batch)")
    } finally {
      stopBeat() // joined BEFORE the delete — a racing beat cannot resurrect
      fs.delete(new org.apache.hadoop.fs.Path(lease), false)
    }
  }

  /** Re-touch a lease file every `intervalMs` from a driver-side daemon
    * thread while the append's write job runs — the renewal that makes
    * lease STALENESS evidence-based: [[requireNoLiveLeases]] reclaims only
    * leases with no heartbeat for `staleLeaseMs`, which IS evidence the
    * appending driver died (a live driver beats every staleLeaseMs/4),
    * where the r16 form reclaimed any append merely SLOWER than the
    * threshold — exactly the 100 TB regime (a large micro-batch, a stuck-
    * then-recovered stage) — reopening the silent-swap window the leases
    * exist to close. Each beat rewrites the body with `beat_ms` so the
    * renewal is readable evidence, not just an mtime side effect.
    *
    * A beat NEVER recreates a missing lease: a missing file means the
    * lease was RECLAIMED (a maintainer judged this append dead) — the
    * beat records that in `reclaimed` and stops, and the append fails
    * LOUDLY after its write instead of resuming into a tree that
    * maintenance may be rewriting (silent-swap would otherwise reopen for
    * any append that stalls past the threshold between two beats). The
    * exists-then-write is not atomic, so a beat that passed its check
    * while a maintainer's reclaim ran could still RECREATE the lease
    * after the maintainer's re-list (the r17 hairline): the reclaim is a
    * RENAME to a tombstone ([[reclaimTombstone]]) and every beat
    * re-checks the tombstone AFTER its write — on a hit it deletes its
    * own recreation and records `reclaimed`, so one side always observes
    * the other on every interleaving (unit: "a reclaim and a racing
    * heartbeat observe each other"). A late beat that raced the stop
    * flag self-cleans the same way, so a stop-join timeout can never
    * leave a phantom lease blocking maintenance. Returns (reclaimed
    * flag, stop function); stop is idempotent and joins the thread.
    * `onBeat` is the test-only injection seam ("pre_write" fires between
    * the exists-check and the write — the exact racing window). */
  private def startLeaseHeartbeat(fs: org.apache.hadoop.fs.FileSystem,
      lease: String, tombstone: String, startMs: Long, intervalMs: Long,
      onBeat: String => Unit = _ => ())
      : (java.util.concurrent.atomic.AtomicBoolean, () => Unit) = {
    val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reclaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val p = new org.apache.hadoop.fs.Path(lease)
    val tomb = new org.apache.hadoop.fs.Path(tombstone)
    val t = new Thread(() => {
      var alive = true
      while (alive && !stopped.get()) {
        try Thread.sleep(intervalMs)
        catch { case _: InterruptedException => () }
        if (!stopped.get())
          try {
            if (!fs.exists(p)) { reclaimed.set(true); alive = false }
            else {
              onBeat("pre_write")
              writeUtf8(fs, lease,
                s"""{"op":"append","epoch_ms":$startMs,""" +
                  s""""beat_ms":${System.currentTimeMillis()}}""")
              if (fs.exists(tomb)) {
                // a reclaim renamed our lease away between the exists-check
                // and the write — the write RECREATED it; observe the
                // tombstone, undo the recreation, fail the append at commit
                fs.delete(p, false); reclaimed.set(true); alive = false
              }
              // stop raced the write: remove our own late write so the
              // join-timeout path can never leave a phantom lease
              else if (stopped.get()) fs.delete(p, false)
            }
          } catch { case _: Throwable => () } // fs hiccup: next beat retries
      }
    }, s"graft-lease-heartbeat-${Integer.toHexString(lease.hashCode)}")
    t.setDaemon(true)
    t.start()
    (reclaimed, () => { stopped.set(true); t.interrupt(); t.join(2000L) })
  }

  /** The filesystem's OWN clock, read by stat-ing a just-written probe file
    * — lease staleness compares FS mtimes against this instead of the local
    * wall clock, so a skewed maintenance host can neither reclaim a fresh
    * lease early nor honor a dead one forever (both sides of the compare
    * come from the same clock domain). One tiny create+stat+delete per
    * maintenance ENTRY (rare); a crash between create and delete leaves an
    * orphan probe no guard ever globs. */
  private def fsNowMs(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Long = {
    val probe = s"$dir/lists__nowprobe_" + java.util.UUID.randomUUID().toString
    val p = new org.apache.hadoop.fs.Path(probe)
    try {
      writeUtf8(fs, probe, "")
      fs.getFileStatus(p).getModificationTime
    } finally {
      try fs.delete(p, false) catch { case _: Throwable => () }
    }
  }

  /** The maintenance MARKER — the single-writer lock of the index tree:
    * compact/delete/split write it (content: `{"op":"..."}` + op-specific
    * fields) before touching anything and remove it last, so its presence
    * means maintenance is either RUNNING or CRASHED. Every append and every
    * serve-path open guards on it (via [[maintenanceLeftovers]]), which is
    * what makes [[recoverIndex]]'s disambiguation sound: under a marker, no
    * append can have interleaved, so tree states map one-to-one onto crash
    * windows of the marked operation. */
  private def markerPath(dir: String) = s"$dir/lists__maintenance"

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      body: String): Unit = writeUtf8(fs, markerPath(dir), body)

  /** Create-exclusive a small control file (marker / lease): `false` when
    * the path already exists — the atomic acquisition primitive
    * (fs.create(overwrite = false) is atomic on HDFS and the local FS;
    * check-then-create was the r15 two-maintainers hole). */
  private def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      path: String, body: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out =
      try fs.create(p, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case e: java.io.IOException => if (fs.exists(p)) return false else throw e
      }
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    true
  }

  /** Append LEASES — the other half of the writer contract: the marker
    * stops an append from STARTING during maintenance, but an append whose
    * Spark job is still writing into `lists/` when maintenance begins would
    * have its files silently swapped away (the r15 in-flight window). So
    * every append holds a lease file (`lists__appending_<uuid>`) for its
    * whole run, written BEFORE it checks for the marker, and maintenance
    * acquires its marker BEFORE it checks for leases — intent-then-check on
    * both sides, so every interleaving has at least one side observe the
    * other and refuse loudly (under true contention both may refuse; a
    * retry succeeds). Leases never block serving or other appends. A lease
    * whose append CRASHED would block maintenance forever, so leases with
    * no HEARTBEAT for `staleLeaseMs` are treated as dead and reclaimed at
    * marker acquisition — and because every live append re-touches its
    * lease every staleLeaseMs/4 ([[startLeaseHeartbeat]]), a missing beat
    * IS evidence of death: an append may legitimately run longer than any
    * threshold (the 100 TB regime), but a live driver never goes silent
    * for one. Staleness compares FS mtimes against the FS's own clock
    * ([[fsNowMs]]), never the local wall clock, so host clock skew cannot
    * reclaim a fresh lease. */
  private def leasePrefix(dir: String) = s"$dir/lists__appending_"

  private[graft] val defaultStaleLeaseMs: Long = 60L * 60L * 1000L // 1 h

  private[graft] def appendLeases(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.globStatus(new org.apache.hadoop.fs.Path(s"${leasePrefix(dir)}*"))
      .toSeq
    catch { case _: Throwable => Seq.empty }

  /** Tombstone a reclaim leaves behind (`lists__reclaimed_<uuid>`, same
    * uuid as the reclaimed lease) — the fence that closes the r17 hairline:
    * a bare DELETE gave a racing heartbeat (exists-check passed, write not
    * yet issued) nothing to observe, so its rewrite could silently RECREATE
    * the lease after the maintainer's re-list. The reclaim is now a RENAME
    * (atomic, the lease and its tombstone never both absent mid-reclaim)
    * and the beat re-checks the tombstone AFTER every write — whichever
    * side acts last sees the other: the beat self-deletes its recreation
    * and the append fails loudly at commit (which checks the tombstone
    * too). Tombstones are tiny, rare (one per crashed-and-reclaimed
    * append), and GC'd at maintenance entry past 8× staleLeaseMs — far
    * beyond the staleLeaseMs/4 beat cycle; the residual (a beat stalled
    * past GC between its exists-check and write) is documented in
    * DEVIATIONS and degrades to a LOUD phantom lease, never a silent swap. */
  private def reclaimTombstone(dir: String, leaseName: String): String =
    s"$dir/lists__reclaimed_" + leaseName.stripPrefix("lists__appending_")

  private[graft] def reclaimTombstones(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/lists__reclaimed_*"))
      .toSeq
    catch { case _: Throwable => Seq.empty }

  /** The maintenance FENCE token — a tiny persistent file rewritten with a
    * fresh nonce every time a maintenance entry passes its live-lease
    * check. An append records the token after its own marker re-check and
    * verifies it UNCHANGED at commit: any maintenance that entered during
    * the append's window necessarily judged its lease dead (a live lease
    * refuses maintenance before the fence is touched), so a changed token
    * IS evidence the append was reclaimed — independent of the tombstone,
    * whose GC bounds its lifetime. This closes the whole-process-pause
    * class the tombstone alone cannot: one VM suspend spanning reclaim →
    * later-maintenance tombstone GC → beat recreation would otherwise let
    * the commit's three checks all pass (unit: "a GC'd tombstone cannot
    * un-fence a reclaimed append"). The token is engine metadata like the
    * manifest — never a maintenance leftover, never GC'd. */
  private def fencePath(dir: String) = s"$dir/lists__fence"

  private[graft] def readFenceToken(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): String =
    if (fs.exists(new org.apache.hadoop.fs.Path(fencePath(dir))))
      readUtf8(fs, fencePath(dir))
    else ""

  /** Refuse while any LIVE append lease exists (reclaiming stale ones) —
    * shared by marker acquisition and [[writeIndex]]-over-an-existing-index. */
  private def requireNoLiveLeases(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, op: String, staleLeaseMs: Long): Unit = {
    // the FS's clock, not ours: both sides of the staleness compare come
    // from the same clock domain, so a skewed maintenance host can neither
    // reclaim a fresh lease early nor honor a dead one forever
    val now = fsNowMs(fs, dir)
    // GC old tombstones first (mtime rides the rename from the dead lease's
    // last beat, so age here is "silent for 8× the reclaim threshold")
    reclaimTombstones(fs, dir).foreach { ts =>
      if (now - ts.getModificationTime > staleLeaseMs * 8)
        fs.delete(ts.getPath, false)
    }
    appendLeases(fs, dir).foreach { st =>
      if (now - st.getModificationTime > staleLeaseMs)
        // no heartbeat = dead: reclaim by RENAME to the tombstone (never a
        // bare delete) so a racing beat that already passed its
        // exists-check still observes the reclaim after its write — the
        // r17 recreate hairline. A false return means the lease vanished
        // (its own stop ran, or another maintainer reclaimed it) — either
        // way it no longer blocks, and the re-list below re-judges.
        fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(
            reclaimTombstone(dir, st.getPath.getName)))
    }
    // re-list AFTER reclaiming: any lease present NOW — including one a
    // racing beat re-touched in the window — is fresh and blocks us, so a
    // reclaim can never be silently overtaken; the beat side never
    // RECREATES a reclaimed lease (it fails its append loudly instead)
    val live = appendLeases(fs, dir)
    if (live.nonEmpty) throw new IllegalStateException(
      s"$op: ${live.size} append(s) in flight at $dir " +
        s"(${live.map(_.getPath.getName).mkString(", ")}) — proceeding would " +
        "silently swap their rows away; wait for the appends to finish " +
        s"(leases with no heartbeat for > $staleLeaseMs ms are treated as " +
        "crashed and reclaimed)")
    // no live lease blocks us: bump the FENCE before maintenance touches
    // anything — every append that was alive when we judged (i.e. whose
    // lease we just reclaimed as dead) sees the changed token at its
    // commit, however long it stalls and whatever happened to its
    // tombstone ([[fencePath]])
    writeUtf8(fs, fencePath(dir),
      s"""{"op":${jsonQuote(op)},"nonce":"${java.util.UUID.randomUUID()}"}""")
  }

  /** Acquire the single-writer maintenance marker: atomic create-exclusive
    * (two concurrent maintainers cannot both win), then refuse while any
    * live append lease exists — releasing the marker on refusal. After this
    * returns, no append is in flight and none can start until the marker is
    * dropped. */
  private def acquireMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      op: String, body: String,
      staleLeaseMs: Long = defaultStaleLeaseMs): Unit = {
    if (!createExclusive(fs, markerPath(dir), body))
      throw new IllegalStateException(
        s"$op: another maintenance run holds ${markerPath(dir)} — " +
          "single-writer contract; if it crashed, run Similarity.recoverIndex")
    try requireNoLiveLeases(fs, dir, op, staleLeaseMs)
    catch {
      case e: Throwable =>
        fs.delete(new org.apache.hadoop.fs.Path(markerPath(dir)), false)
        throw e
    }
  }

  /** Maintenance leftovers under an index dir: the marker plus any
    * staging/retired trees that only exist MID-maintenance
    * (compact/delete/split) — their presence after the fact means a
    * maintenance run died between renames. Serving, append, and maintenance
    * entry points refuse to run over such an index (a retired per-cid list
    * outside lists/ would otherwise be SILENTLY absent from every probe —
    * wrong top-k, no error); [[recoverIndex]] repairs. */
  private def maintenanceLeftovers(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[String] = {
    val fixed = Seq(markerPath(dir), s"$dir/lists__compacting",
      s"$dir/lists__deleting", s"$dir/lists__splitting",
      s"$dir/lists__retired", s"$dir/centroids__new",
      s"$dir/centroids__retired", s"$dir/codebooks__retired")
      .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s)))
    val perCid =
      try fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/lists__retired_*"))
        .toSeq.map(_.getPath.toUri.getPath)
      catch { case _: Throwable => Seq.empty }
    fixed ++ perCid
  }

  private def requireCleanIndex(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, op: String): Unit = {
    val left = maintenanceLeftovers(fs, dir)
    require(left.isEmpty,
      s"$op: index at $dir has interrupted-maintenance leftovers " +
        s"(${left.mkString(", ")}) — run Similarity.recoverIndex first")
  }

  /** Repair an index whose maintenance (compact/delete/split/rebuild
    * commit) died mid-run — idempotent, and SOUND because maintenance
    * holds the marker for its whole window and appends/serves guard on it,
    * so under a marker the tree state maps one-to-one onto a crash window
    * of the marked operation:
    *
    *  - compact: a missing lists tree restores from the whole-tree retired
    *    copy; `lists/` + `lists__retired` BOTH present under a compact
    *    marker means the swap completed and only cleanup was lost (no
    *    append can have recreated `lists/` — it would have failed on the
    *    marker), so the retired copy is dropped.
    *  - delete: a per-cid retired list restores when its live dir is absent
    *    (swap never completed) and is dropped when the live dir exists
    *    under a delete marker (swap completed, cleanup lost).
    *  - split: rolled FORWARD from the marker's (cid, new_cid) record when
    *    the commit had begun, rolled back (staging deleted) when it hadn't.
    *  - WITHOUT a marker, a both-present state is AMBIGUOUS — an unknown
    *    writer recreated the live tree, and deleting the retired copy could
    *    destroy the only complete version of those rows (the r14 race), so
    *    recovery REFUSES it loudly instead of guessing.
    *
    * Staging trees INSIDE the index dir are deleted (pre-swap copies,
    * always safe to rebuild); the marker is removed LAST. After recovery
    * the index equals a state the interrupted operation is safe to re-run
    * from. The SIBLING rebuild-staging tree is different: it is unmarked by
    * design (that is what keeps serving and ingest up through a rebuild),
    * so a no-marker recovery cannot tell an orphan from a rebuild RUNNING
    * right now — it is reclaimed only on `reclaimRebuildStaging = true`
    * (deleting a live one would destroy the corpus-scale train+encode work;
    * the rebuild itself would only fail loudly at commit). A genuinely
    * orphaned staging tree is also self-healing: the next rebuildIndex
    * reclaims it at start. */
  def recoverIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, reclaimRebuildStaging: Boolean = false): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def renameOrDie(from: String, to: String): Unit =
      require(fs.rename(p(from), p(to)),
        s"recoverIndex: could not rename $from to $to")
    val marker =
      if (fs.exists(p(markerPath(dir)))) Some(readUtf8(fs, markerPath(dir)))
      else None
    // a marker that exists but does not parse (empty / torn mid-write —
    // possible for any marker create or the merge validated-rewrite, the
    // one overwrite in the protocol) gets a failure that names the FILE
    // and the repair, not a bare missing-field error that reads like a
    // manifest problem
    val op = marker.map { js =>
      try jsonString(js, "op")
      catch {
        case e: IllegalArgumentException => throw new IllegalStateException(
          s"recoverIndex: the maintenance marker at ${markerPath(dir)} is " +
            "corrupt (torn mid-write: " + e.getMessage + ") — inspect the " +
            "tree; if lists/ and any retired/staging trees are consistent, " +
            "delete the marker file and re-run recoverIndex", e)
      }
    }
    def refuse(live: String, retired: String): Nothing =
      throw new IllegalStateException(
        s"recoverIndex: $live and $retired are BOTH present with no " +
          "maintenance marker to attribute them — an unknown writer " +
          "recreated the live tree, and dropping either side could destroy " +
          "the only complete copy of its rows. Inspect both trees, keep " +
          "the correct one, remove the other, then re-run.")
    if (op.contains("split")) {
      recoverSplit(spark, fs, dir,
        jsonLong(marker.get, "cid").toInt, jsonLong(marker.get, "new_cid").toInt)
    } else if (op.contains("rebuild")) {
      recoverRebuild(spark, fs, dir)
    } else if (op.contains("merge_src")) {
      // this tree is the SOURCE of a merge. Moves run only under the
      // DESTINATION's op=merge marker: if the recorded destination still
      // holds one listing this tree, the merge is resumable (or
      // rollback-able) THERE and dest recovery owns this tree's fate —
      // recovering here instead would unlock appends that the resumed
      // move loop then deletes. Without a destination merge marker no
      // move ever started (the crash fell between the acquisitions): the
      // tree is intact, drop the marker.
      val dest = jsonString(marker.get, "dest")
      val destMarker =
        if (fs.exists(p(markerPath(dest)))) Some(readUtf8(fs, markerPath(dest)))
        else None
      def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
      val mergeInFlight = destMarker.exists(js =>
        jsonString(js, "op") == "merge" &&
          mergeMarkerSrcs(js).map(norm).contains(norm(dir)))
      if (mergeInFlight) throw new IllegalStateException(
        s"recoverIndex: $dir is the SOURCE of an in-flight merge into " +
          s"$dest — recover the DESTINATION first (its resume consumes " +
          "this tree)")
      fs.delete(p(markerPath(dir)), false)
    } else if (op.contains("merge")) {
      val srcs = mergeMarkerSrcs(marker.get)
      val legacy = !marker.get.contains("\"srcs\"")
      if (legacy) {
        // a pre-r18 marker was written BEFORE validation and carries no
        // fence: the crash may have fallen inside the validation window,
        // so re-run the compatibility checks NOW (the source tree still
        // holds its manifest + models mid-move; only lists files migrate)
        // and refuse loudly on mismatch — never a blind fold of a
        // possibly-never-validated source (r17 ADVICE). The lists
        // column-TYPE check also re-runs whenever both trees still have
        // readable list files (remaining mid-move files share one schema;
        // an id-type mismatch is in neither the manifest nor the models,
        // so skipping it would fold int-id files into a long-id tree) —
        // it is skipped only when a side has no readable lists (fully
        // consumed source / empty partition shells), where there is
        // nothing left to mis-fold.
        val dmf = readIndexManifest(spark, dir)
        val (dc, db) = readIndexModelsRaw(spark, dir)
        def listColsOpt(d: String) =
          scala.util.Try(spark.read.parquet(s"$d/lists")
            .schema.fields.map(f => (f.name, f.dataType)).toSet).toOption
        val destCols = listColsOpt(dir)
        srcs.foreach { s =>
          if (fs.exists(p(manifestPath(s)))) {
            requireMergeCompatible(spark, dir, s, dmf, dc, db)
            (destCols, listColsOpt(s)) match {
              case (Some(dls), Some(sls)) => require(dls == sls,
                s"recoverIndex: lists column types disagree — dest=$dls " +
                  s"src=$sls; resuming this legacy merge would mix file " +
                  "schemas (delete the marker and the source by hand if " +
                  "the source is abandoned)")
              case _ => ()
            }
          }
        }
        finishMerge(fs, dir, srcs)
      } else if (!jsonBoolOpt(marker.get, "validated")) {
        // the crash fell INSIDE the validation window (the marker is only
        // rewritten `validated:true` after every check passed, and moves
        // start only after that): no file has moved, so roll BACK — drop
        // each source's merge_src marker and this one, all trees intact.
        // Rolling FORWARD here would fold a NEVER-VALIDATED source (mixed
        // models, mixed schema) into the destination: the silently-wrong-
        // ADC outcome the validation exists to refuse (r17 ADVICE).
        def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
        srcs.foreach { s =>
          val sm = p(markerPath(s))
          if (fs.exists(sm)) {
            val js = readUtf8(fs, markerPath(s))
            if (jsonString(js, "op") == "merge_src" &&
                norm(jsonString(js, "dest")) == norm(dir))
              fs.delete(sm, false)
          }
        }
        fs.delete(p(markerPath(dir)), false)
      } else
        // a VALIDATED merge died mid-move: every list file lives in
        // exactly ONE tree at every instant, so recovery just RESUMES the
        // move loop over the marker's recorded sources (idempotent —
        // already-moved files are gone from their source; an
        // already-consumed source skips) and consumes the source trees
        finishMerge(fs, dir, srcs)
    } else if (op.contains("overwrite")) {
      // a writeIndex-OVERWRITE died mid-run: there is no retired copy to
      // roll back to (that is why in-place re-writes are documented to go
      // through rebuildIndex), but every mid-overwrite state is already
      // LOUD — the old manifest is deleted before any component is touched,
      // so opens fail on the missing manifest until a re-run completes; a
      // crash after the new manifest landed left a complete tree. Recovery
      // therefore just drops the marker; the repair is re-running
      // writeIndex (or rebuilding from the payload).
      fs.delete(p(markerPath(dir)), false)
    } else {
      val lists = s"$dir/lists"
      val retired = s"$dir/lists__retired"
      if (fs.exists(p(retired))) {
        if (!fs.exists(p(lists))) renameOrDie(retired, lists)
        else if (op.contains("compact")) fs.delete(p(retired), true)
        else refuse(lists, retired)
      }
      maintenanceLeftovers(fs, dir).foreach { left =>
        if (left.matches(".*/lists__retired_\\d+$")) {
          val cid = left.substring(left.lastIndexOf('_') + 1)
          val live = s"$dir/lists/__cid=$cid"
          if (!fs.exists(p(live))) renameOrDie(left, live)
          else if (op.contains("delete")) fs.delete(p(left), true)
          else refuse(live, left)
        } else if (left.endsWith("__compacting") || left.endsWith("__deleting")
            || left.endsWith("__splitting") || left.endsWith("centroids__new")) {
          fs.delete(p(left), true) // pre-swap copies, safe to rebuild
        } else if (left.endsWith("centroids__retired")) {
          // only a marked split/rebuild (handled above) retires a model
          // table — this state has no attributable owner: refuse
          refuse(s"$dir/centroids", left)
        } else if (left.endsWith("codebooks__retired")) {
          refuse(s"$dir/codebooks", left)
        }
      }
      // the SIBLING rebuild staging tree only on explicit request: with no
      // marker it is indistinguishable from a rebuild's LIVE staging build
      // (unmarked by design), and deleting a live one destroys hours of
      // train+encode work — see the scaladoc
      if (reclaimRebuildStaging) fs.delete(p(rebuildStagingPath(dir)), true)
      fs.delete(p(markerPath(dir)), false)
    }
  }

  /** COMPACT a stored index's lists — the periodic-merge half of the
    * segment lifecycle: every append leaves another small file per touched
    * partition, and probing cost is per-FILE, not per-row, so an
    * append-heavy index degrades until merged. Rewrites the lists with one
    * shuffle hash-partitioned on `__cid` (each task writes whole
    * partitions' worth of rows — one file per list directory) into a
    * staging dir, then swaps it in by rename-away-then-rename-in (NOT
    * delete-first: fs.rename reports failure as `false`, and a delete-first
    * swap that then failed to rename would silently lose the whole index);
    * every failure mode leaves a complete tree on disk, a failed move-in
    * restores the original, and a crash between the renames is caught
    * loudly by the leftover guard + [[recoverIndex]]. Values unchanged;
    * file count bounded. Production would swap a catalog pointer (the
    * index IS a table); this is the FS analogue. Skew note: one cid = one
    * task here; a 100 TB compaction of a skewed list layout would
    * range-split hot cids (the AQE skew-join analogue) — list sizes are
    * bounded by design (k ∝ n), documented. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      staleLeaseMs: Long = defaultStaleLeaseMs): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    requireCleanIndex(fs, dir, "compactIndex")
    acquireMarker(fs, dir, "compactIndex", """{"op":"compact"}""",
      staleLeaseMs)
    val lists = s"$dir/lists"
    val staged = s"$dir/lists__compacting"
    val retired = s"$dir/lists__retired"
    spark.read.parquet(lists)
      .repartition(col("__cid"))
      .write.mode("overwrite").partitionBy("__cid").parquet(staged)
    require(fs.rename(p(lists), p(retired)),
      s"compactIndex: could not move $lists aside")
    if (!fs.rename(p(staged), p(lists))) {
      val restored = fs.rename(p(retired), p(lists))
      throw new IllegalStateException(
        s"compactIndex: could not move the compacted tree into $lists" +
          (if (restored) " (original restored)"
           else s" AND RESTORE FAILED — data is at $retired"))
    }
    fs.delete(p(retired), true)
    fs.delete(p(staged), true)
    fs.delete(p(markerPath(dir)), false)
  }

  /** Operational statistics of a stored index — the observability surface
    * an index operator schedules maintenance from: per-list row and FILE
    * counts (files-per-list is what append growth degrades and compaction
    * resets; rows-per-list skew is the retrain/re-split signal). One scan
    * of the lists table projecting only the partition column and
    * input_file_name() — codes and norms are never read. Row counts are
    * assignment-dependent (fp k-means), so this is a diagnostic surface,
    * unit-proven, not an oracle row. */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(s"$dir/lists")
      .select(col("__cid"), input_file_name().as("__f"))
      .groupBy("__cid")
      .agg(count(lit(1)).as("rows"), countDistinct(col("__f")).as("files"))
      .orderBy("__cid")

  /** DELETE vectors from a stored index — the vacuum half of the segment
    * lifecycle (append grows lists; delete shrinks them): rewrite ONLY the
    * partitions that contain deleted rows (found by one left-semi join —
    * the hit-cid set is k-bounded, a model-sized collect) with the deleted
    * ids anti-joined out, then swap each rewritten list in with the
    * checked rename-away protocol of [[compactIndex]]. A crash between a
    * list's two renames leaves its survivors in a retired dir OUTSIDE
    * lists/ (inside, partition discovery would choke on the name) — which
    * serving would otherwise read past SILENTLY, so every entry point
    * guards on maintenance leftovers and [[recoverIndex]] restores them.
    * Lists without hits are never read or touched; a list whose every row
    * is deleted is removed outright. Models are unchanged (the
    * frozen-quantizer contract — deletion never needs retraining). Deleted
    * ids can no longer reach any shortlist, so every serve path excludes
    * them even though the PAYLOAD table may still carry the rows. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idCol: String,
      staleLeaseMs: Long = defaultStaleLeaseMs): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    requireCleanIndex(fs, dir, "deleteFromIndex")
    readIndexManifest(spark, dir) // loud on a foreign/pre-manifest tree
    // marker FIRST, lists read SECOND: the scan's file listing is a
    // snapshot, so reading before the marker would let an append landing
    // in between contribute files invisible to the rewrite — the staged
    // tree would drop them at the swap. Under the marker (live leases
    // refused, new appends fail loudly) the snapshot cannot be overtaken.
    acquireMarker(fs, dir, "deleteFromIndex", """{"op":"delete"}""",
      staleLeaseMs)
    val lists = spark.read.parquet(s"$dir/lists")
    val del = ids.select(col(idCol).as("corpus_id"))
    val hitCids = lists.join(broadcast(del), Seq("corpus_id"), "left_semi")
      .select("__cid").distinct().collect().map(_.getInt(0)).toSeq
    if (hitCids.isEmpty) {
      fs.delete(p(markerPath(dir)), false)
      return
    }
    val staged = s"$dir/lists__deleting"
    lists.where(col("__cid").isInCollection(hitCids))
      .join(broadcast(del), Seq("corpus_id"), "left_anti")
      .repartition(col("__cid"))
      .write.mode("overwrite").partitionBy("__cid").parquet(staged)
    for (cid <- hitCids) {
      val live = s"$dir/lists/__cid=$cid"
      val fresh = s"$staged/__cid=$cid"
      val retired = s"$dir/lists__retired_$cid"
      require(fs.rename(p(live), p(retired)),
        s"deleteFromIndex: could not move $live aside")
      // a fully-deleted list has no staged dir — the retire IS the delete
      if (fs.exists(p(fresh)) && !fs.rename(p(fresh), p(live))) {
        val restored = fs.rename(p(retired), p(live))
        throw new IllegalStateException(
          s"deleteFromIndex: could not move the rewritten list into $live" +
            (if (restored) " (original restored)"
             else s" AND RESTORE FAILED — data is at $retired"))
      }
      fs.delete(p(retired), true)
    }
    fs.delete(p(staged), true)
    fs.delete(p(markerPath(dir)), false)
  }

  // ------------------------------------------------------------------
  // Hot-list re-split: heal rows-per-list skew without retraining.
  // ------------------------------------------------------------------

  /** SPLIT one hot inverted list in place — the standard IVF re-split and
    * the operator that CONSUMES [[indexStats]]'s rows-per-list skew signal:
    * a 100 TB index whose ingest drifted hot (one list holding 100× the
    * median) heals locally instead of retraining the whole quantizer.
    * The hot list's vectors are approximated by PQ-DECODING its own codes
    * (codebook entries concatenated — standard reconstruction; the split
    * needs only coarse geometry, so quantization error is immaterial), a
    * distributed 2-means ([[ivfTrain]], never a driver collect of list
    * rows) yields two children, centroid `cid` is REPLACED by child one and
    * child two takes the next free cid, and the list's rows are dealt
    * between the two sub-lists. All other lists, all codes, and the PQ
    * codebooks are untouched (frozen-quantizer contract: codes stay valid —
    * only coarse routing changes, and only for this list's region).
    *
    * Crash safety: runs under the maintenance marker (op=split with the
    * (cid, new_cid) record), stages both sub-lists and the new centroid
    * table fully BEFORE the first rename, and commits with the checked
    * rename protocol — [[recoverIndex]] rolls a begun commit forward from
    * the marker and rolls an unbegun one back. Serving keeps the k contract
    * throughout: a query that probed the hot list now probes whichever
    * children cover its region (nProbe unchanged — the standard re-split
    * recall posture; both children sit where the parent was). */
  def splitList(spark: org.apache.spark.sql.SparkSession, dir: String,
      cid: Int, iters: Int = 5, seed: Long = 42L,
      staleLeaseMs: Long = defaultStaleLeaseMs): Unit =
    splitListImpl(spark, dir, cid, iters, seed, _ => (), staleLeaseMs)

  /** The hottest list's cid (max rows, ties to the smaller cid) — the
    * standard [[splitList]] target and the KQL `ann_maintain('…','split')`
    * no-cid default; one [[indexStats]] scan. */
  def hottestList(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    indexStats(spark, dir).orderBy(col("rows").desc, col("__cid").asc)
      .select("__cid").head().getInt(0)

  /** [[splitList]] with a step hook — the crash-injection seam the recovery
    * unit drives (the hook throws at a chosen protocol step, simulating a
    * crash exactly between two real fs operations). Steps: "staged" (all
    * artifacts written, commit not begun), "retired" (hot list moved aside,
    * commit begun). */
  private[graft] def splitListImpl(spark: org.apache.spark.sql.SparkSession,
      dir: String, cid: Int, iters: Int, seed: Long,
      onStep: String => Unit,
      staleLeaseMs: Long = defaultStaleLeaseMs): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    requireCleanIndex(fs, dir, "splitList")
    val mf = readIndexManifest(spark, dir)
    val (cents, books) = readIndexModels(spark, dir)
    require(cid >= 0 && cid < cents.length,
      s"splitList: cid=$cid out of range (index has ${cents.length} lists)")
    val newCid = cents.length
    // marker before the hot-list read: the read's file listing is a
    // snapshot — an append into this cid between read and swap would lose
    // its rows. Under the marker the snapshot cannot be overtaken.
    acquireMarker(fs, dir, "splitList",
      s"""{"op":"split","cid":$cid,"new_cid":$newCid}""", staleLeaseMs)
    val hot = spark.read.parquet(s"$dir/lists").where(col("__cid") === cid)
    if (hot.limit(2).count() < 2) {
      fs.delete(p(markerPath(dir)), false)
      throw new IllegalArgumentException(
        s"splitList: list $cid has fewer than 2 rows — nothing to split")
    }
    // ---- phase A: stage everything; a crash here rolls back by deletion
    // PQ reconstruction: code m -> codebook entry, concatenated
    val bookLit = typedlit(books.toIndexedSeq.map(_.toIndexedSeq.map(_.toSeq)))
    val recon = hot.withColumn("__rv",
      flatten(zip_with(col("code"), bookLit,
        (cm, bk) => element_at(bk, cm.cast("int") + 1))))
    val kids = ivfTrain(recon, "corpus_id", "__rv", mf.dim,
      nCentroids = 2, iters = iters, seed = seed)
    require(kids.length == 2, s"splitList: 2-means returned ${kids.length}")
    // carry every non-partition column (incl. a token index's `owner`) —
    // the split re-routes rows, it never changes their payload
    val carry = hot.columns.filterNot(_ == "__cid").map(col).toIndexedSeq
    recon
      .withColumn("__nc", ivfAssign(col("__rv"), kids))
      .select(carry :+
        when(col("__nc") === 0, lit(cid)).otherwise(lit(newCid)).as("__cid"): _*)
      .write.mode("overwrite").partitionBy("__cid")
      .parquet(s"$dir/lists__splitting")
    val spk = spark
    import spk.implicits._
    (cents.updated(cid, kids(0)) :+ kids(1)).zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "vec").write.mode("overwrite")
      .parquet(s"$dir/centroids__new")
    onStep("staged")
    // ---- phase B: commit (recoverSplit can finish any suffix of this)
    require(fs.rename(p(s"$dir/lists/__cid=$cid"),
      p(s"$dir/lists__retired_$cid")),
      s"splitList: could not move list $cid aside")
    onStep("retired")
    finishSplit(spark, fs, dir, cid, newCid)
  }

  /** The commit suffix of a split — shared verbatim with crash recovery so
    * the two cannot drift: move staged sub-lists in (either may be absent —
    * a fully one-sided split stages only one child, and a resumed recovery
    * may find some steps already done), swap the centroid table, bump the
    * manifest, clean up, drop the marker. Every step is a no-op when its
    * precondition is already consumed — idempotent by construction. */
  private def finishSplit(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      cid: Int, newCid: Int): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def moveIn(child: Int): Unit = {
      val from = s"$dir/lists__splitting/__cid=$child"
      val to = s"$dir/lists/__cid=$child"
      if (fs.exists(p(from)) && !fs.exists(p(to)))
        require(fs.rename(p(from), p(to)),
          s"splitList: could not move $from into the lists tree")
    }
    moveIn(cid); moveIn(newCid)
    if (fs.exists(p(s"$dir/centroids__new"))) {
      if (!fs.exists(p(s"$dir/centroids__retired")))
        require(fs.rename(p(s"$dir/centroids"), p(s"$dir/centroids__retired")),
          s"splitList: could not retire $dir/centroids")
      require(fs.rename(p(s"$dir/centroids__new"), p(s"$dir/centroids")),
        s"splitList: could not move the new centroid table in")
    }
    val mf = readIndexManifest(spark, dir)
    if (mf.nCentroids != newCid + 1)
      writeManifest(fs, dir, mf.copy(nCentroids = newCid + 1))
    fs.delete(p(s"$dir/centroids__retired"), true)
    fs.delete(p(s"$dir/lists__retired_$cid"), true)
    fs.delete(p(s"$dir/lists__splitting"), true)
    fs.delete(p(markerPath(dir)), false)
  }

  // ------------------------------------------------------------------
  // Shard merge: parallel shard builds folded into one tree, file moves
  // only — the 100 TB build composition (train once, encode anywhere).
  // ------------------------------------------------------------------

  /** MERGE a shard-built index INTO a destination index sharing the same
    * FROZEN models — the parallel-build composition: at 100 TB the corpus
    * is encoded shard-by-shard ([[writeIndex]] per shard with the SAME
    * trained models — train once, build anywhere, in parallel), and
    * folding the shards into one servable tree is pure file METADATA
    * (per-cid renames), never a re-encode or re-train; contrast
    * [[appendToIndex]], which pays the assign+encode of its rows. Refuses
    * loudly unless the two manifests agree on every geometry field AND
    * the stored model tables are bit-identical — codes are only valid
    * against their own codebooks, so a mixed-model merge would silently
    * mis-score (the ADC would read garbage, no error).
    *
    * Writer contract: runs under the destination's op=merge marker
    * (atomic acquisition, live-lease refusal — appends fail loudly for
    * the metadata-cheap duration); the marker records the SOURCE path, so
    * a crash anywhere inside the move loop recovers by re-running the
    * remaining moves ([[recoverIndex]]'s op=merge branch — each list file
    * lives in exactly ONE tree at every instant, so resumption is
    * idempotent). The source tree is CONSUMED: its list files move into
    * the destination partitions and the source dir is deleted last —
    * sources are shard-build staging products, not published indexes;
    * quiesce any reader of the source first (documented). */
  def mergeIndex(spark: org.apache.spark.sql.SparkSession, destDir: String,
      srcDir: String, staleLeaseMs: Long = defaultStaleLeaseMs): Unit =
    mergeIndexAll(spark, destDir, Seq(srcDir), staleLeaseMs)

  /** N-ary shard fold — the shape a sharded 100 TB build actually runs:
    * ALL S sources validate under ONE destination marker cycle, then one
    * (parallel) move loop folds every shard, instead of S sequential
    * lock/validate/move cycles each re-reading models. Each source still
    * holds its own op=merge_src marker for the whole fold (released with
    * the consumed tree); the destination marker records the full source
    * list plus, after validation passes, `validated:true` — the fence
    * [[recoverIndex]] requires before it rolls a crashed merge FORWARD
    * (an unvalidated marker means the crash fell inside the validation
    * window, no file has moved, and recovery rolls BACK with both trees
    * intact — resuming it blind would fold a never-validated source:
    * mixed models, silently wrong ADC). */
  def mergeIndexAll(spark: org.apache.spark.sql.SparkSession,
      destDir: String, srcDirs: Seq[String],
      staleLeaseMs: Long = defaultStaleLeaseMs): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    require(srcDirs.nonEmpty, "mergeIndex: no source trees given")
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    require(!srcDirs.map(norm).contains(norm(destDir)),
      s"mergeIndex: source and destination are the same tree ($destDir)")
    require(srcDirs.map(norm).distinct.size == srcDirs.size,
      s"mergeIndex: duplicate source trees (${srcDirs.mkString(", ")})")
    requireCleanIndex(fs, destDir, "mergeIndex")
    srcDirs.foreach(s => requireCleanIndex(fs, s, "mergeIndex (source)"))
    readIndexManifest(spark, destDir) // loud early gates: all ARE indexes
    srcDirs.foreach(s => readIndexManifest(spark, s))
    warnNonAtomicRename(fs, "mergeIndex")
    // EVERY tree is locked for the move loop: the destination's op=merge
    // marker (appends there would be swapped into a mid-merge layout) and
    // each SOURCE's op=merge_src marker — without it an append to a
    // source landing AFTER a partition's listing would be deleted with
    // the consumed source tree (the same snapshot-overtaken class every
    // other maintenance op closes). Sources first, destination second;
    // every acquired marker is released on a later refusal; a consumed
    // source's marker disappears WITH its tree.
    val acquired = scala.collection.mutable.ArrayBuffer.empty[String]
    def releaseAcquired(): Unit = acquired.foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(markerPath(s)), false))
    try {
      srcDirs.foreach { s =>
        acquireMarker(fs, s, "mergeIndex (source)",
          s"""{"op":"merge_src","dest":${jsonQuote(destDir)}}""", staleLeaseMs)
        acquired += s
      }
      acquireMarker(fs, destDir, "mergeIndex",
        mergeMarkerBody(srcDirs, validated = false), staleLeaseMs)
    } catch { case e: Throwable => releaseAcquired(); throw e }
    // ALL compatibility validation runs UNDER the locks — validated-then-
    // locked would let a maintenance op completing in the window (a
    // rebuild retraining the destination's models, a split changing its
    // layout) invalidate what the checks saw, and the move loop would
    // fold old-codebook codes into a new-codebook tree: silently wrong
    // ADC, the exact class these checks exist to refuse.
    try {
      val dmf = readIndexManifest(spark, destDir)
      val (dc, db) = readIndexModelsRaw(spark, destDir)
      def listCols(d: String) = spark.read.parquet(s"$d/lists")
        .schema.fields.map(f => (f.name, f.dataType)).toSet
      val dls = listCols(destDir)
      // each source validates against the DESTINATION (equality is
      // transitive — all-pairs would re-check the same facts)
      srcDirs.foreach { srcDir =>
        requireMergeCompatible(spark, destDir, srcDir, dmf, dc, db)
        // the merged partitions will mix FILES from both writers, so the
        // lists column TYPES must agree exactly — a long-id shard folded
        // into an int-id destination would fail (or mis-widen) at the next
        // scan's footer-resolved schema, a serve-time failure this
        // merge-time refusal exists to preclude
        val sls = listCols(srcDir)
        require(dls == sls,
          s"mergeIndex: lists column types disagree — dest=$dls src=$sls; " +
            "merged partitions would mix file schemas and fail at scan time")
      }
    } catch {
      case e: Throwable =>
        fs.delete(new org.apache.hadoop.fs.Path(markerPath(destDir)), false)
        releaseAcquired()
        throw e
    }
    // validation PASSED and no file has moved yet: stamp the fence. A
    // crash before this rewrite recovers by ROLLBACK (markers dropped,
    // trees intact); after it, by resuming the idempotent move loop.
    writeMarker(fs, destDir, mergeMarkerBody(srcDirs, validated = true))
    finishMerge(fs, destDir, srcDirs)
  }

  /** Manifest-geometry + stored-model compatibility of one merge source
    * against pre-read destination values — shared between [[mergeIndexAll]]
    * (under the locks) and [[recoverIndex]]'s LEGACY-marker branch (a
    * pre-r18 op=merge marker was written before validation and carries no
    * `validated` fence, so resuming it re-runs these bounded checks while
    * the source tree still holds its models — never a blind fold). */
  private def requireMergeCompatible(spark: org.apache.spark.sql.SparkSession,
      destDir: String, srcDir: String, dmf: IndexManifest,
      dc: Array[Array[Float]], db: Array[Array[Array[Float]]]): Unit = {
    val smf = readIndexManifest(spark, srcDir)
    // every GEOMETRY field must agree; corpusSnapshot is a provenance
    // label and naturally differs per shard
    require(dmf.copy(corpusSnapshot = "") == smf.copy(corpusSnapshot = ""),
      s"mergeIndex: manifests disagree — dest=$dmf src=$smf; shards " +
        "must be built with the SAME frozen models (train once, build " +
        "anywhere)")
    // manifest equality is necessary but models must be BIT-identical:
    // two independent trainings can share every geometry field and
    // still place centroids differently — codes are only valid against
    // their own codebooks
    val (sc, sb) = readIndexModelsRaw(spark, srcDir)
    require(dc.length == sc.length &&
      dc.indices.forall(i => java.util.Arrays.equals(dc(i), sc(i))) &&
      db.length == sb.length && db.indices.forall(mi =>
        db(mi).length == sb(mi).length && db(mi).indices.forall(ci =>
          java.util.Arrays.equals(db(mi)(ci), sb(mi)(ci)))),
      s"mergeIndex: stored models differ between $destDir and $srcDir — " +
        "equal geometry is not equal models; rebuild the shard with the " +
        "destination's frozen models")
  }

  private def mergeMarkerBody(srcDirs: Seq[String],
      validated: Boolean): String =
    s"""{"op":"merge","srcs":[${srcDirs.map(jsonQuote).mkString(",")}],""" +
      s""""validated":$validated}"""

  /** `mergeIndex`'s "pure file metadata" pricing assumes HDFS-class atomic
    * O(1) rename (HDFS, local FS, most HCFS). On object stores (S3A, GCS,
    * ABFS, ...) `fs.rename` is COPY+DELETE: the merge silently degrades to
    * a full data copy — strictly worse than the append path it is priced
    * against. Warn loudly (the operation stays CORRECT — the move loop is
    * idempotent either way); the production posture there is a catalog
    * pointer swap, as the compaction docs describe. Documented in
    * DEVIATIONS §7 (writer contract, residual (b)). */
  private def warnNonAtomicRename(fs: org.apache.hadoop.fs.FileSystem,
      op: String): Unit = {
    val copySchemes = Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs",
      "abfs", "abfss", "oss", "swift", "cos", "cosn")
    val scheme = Option(fs.getUri.getScheme).getOrElse("").toLowerCase
    if (copySchemes.contains(scheme))
      org.slf4j.LoggerFactory.getLogger("graft.Similarity").warn(
        s"$op: filesystem scheme '$scheme' implements rename as COPY+DELETE " +
          "— the merge move loop degrades from file metadata to a full " +
          "data copy; prefer an HDFS-class filesystem or a catalog-pointer " +
          "layout for shard folds at scale")
  }

  /** The move loop of a merge — shared verbatim with crash recovery so
    * the two cannot drift: every list FILE of every source cid partition
    * renames into the destination's partition dir (created on demand;
    * name collisions — impossible for parquet part-UUIDs, defended anyway
    * — get a fresh prefix), each consumed source tree is deleted as its
    * moves finish, the marker dropped after the LAST one. Renames run on
    * a bounded driver-side pool: at the 100 TB posture a merge moves
    * k ≈ 10⁴–10⁵ lists × several part-files per shard, and each rename is
    * an independent metadata round-trip — sequential was the r17
    * bottleneck finding (BENCH_NOTES `merge_move_*` lanes price the
    * scaling). Parallelism does not weaken idempotency: every file still
    * lives in exactly ONE tree at every instant (rename is atomic), so
    * any crash point resumes by re-running the remaining moves. */
  private def finishMerge(fs: org.apache.hadoop.fs.FileSystem,
      destDir: String, srcDirs: Seq[String]): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // ONE flat move set across every remaining source — one bounded pool
    // gives cross-shard rename parallelism (an n-ary fold of many small
    // shards is otherwise serialized per source), and an already-consumed
    // source (crash resume) contributes nothing
    val moves = srcDirs.flatMap { srcDir =>
      val srcLists = p(s"$srcDir/lists")
      if (!fs.exists(srcLists)) Seq.empty[(org.apache.hadoop.fs.Path, String)]
      else {
        val parts = fs.listStatus(srcLists).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("__cid="))
        // partition dirs first (idempotent, one mkdirs per cid)
        parts.foreach(part =>
          fs.mkdirs(p(s"$destDir/lists/${part.getPath.getName}")))
        parts.toSeq.flatMap(part =>
          fs.listStatus(part.getPath).filter(_.isFile)
            .map(f => (f.getPath, part.getPath.getName)))
      }
    }
    if (moves.nonEmpty) {
      // COLLISION names are resolved BEFORE the pool runs: within one fold
      // the full move set is in hand, so same-named files of different
      // sources dedupe deterministically driver-side (a concurrent
      // exists-then-rename would be racy — on POSIX-rename filesystems two
      // threads picking the same free target would silently clobber one
      // file); the per-task exists-check then only guards against files
      // already IN the destination, which are static under the held marker
      val seen = scala.collection.mutable.HashSet.empty[(String, String)]
      val named = moves.map { case (f, partName) =>
        val n0 = f.getName
        val n = if (seen.add((partName, n0))) n0
          else s"m${java.util.UUID.randomUUID().toString.replace("-", "")}_$n0"
        (f, partName, n)
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, Runtime.getRuntime.availableProcessors())))
      val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      try {
        named.map { case (f, partName, name) =>
          pool.submit(new Runnable {
            def run(): Unit = try {
              val destPart = p(s"$destDir/lists/$partName")
              val target = new org.apache.hadoop.fs.Path(destPart,
                if (fs.exists(new org.apache.hadoop.fs.Path(destPart, name)))
                  s"m${java.util.UUID.randomUUID().toString.replace("-", "")}_$name"
                else name)
              if (!fs.rename(f, target)) failed.add(s"$f -> $target")
            } catch {
              case e: Throwable => failed.add(s"$f: ${e.getMessage}")
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      require(failed.isEmpty,
        s"mergeIndex: could not move ${failed.size} list file(s) " +
          s"(${scala.jdk.CollectionConverters.IteratorHasAsScala(
            failed.iterator()).asScala.take(3).mkString("; ")} ...) — " +
          "the op=merge marker is still held; re-run recoverIndex on " +
          "the destination (the move loop is idempotent)")
    }
    // source deletes AFTER every move landed, each VERIFIED before the
    // destination marker drops: Hadoop reports a failed recursive delete
    // as `false`, not an exception, and dropping the marker over a
    // surviving gutted source would leave a manifest-valid tree that
    // serves zero rows while its merge_src marker recovers to "intact".
    // On failure the dest marker stays — recoverIndex(dest) re-runs this
    // (idempotent) tail.
    srcDirs.foreach { srcDir =>
      require(fs.delete(p(srcDir), true) || !fs.exists(p(srcDir)),
        s"mergeIndex: every list file moved but the consumed source tree " +
          s"$srcDir could not be deleted — the destination is complete; " +
          "the op=merge marker is still held, re-run recoverIndex on the " +
          "destination once the source path is deletable")
    }
    fs.delete(p(markerPath(destDir)), false)
  }

  // ------------------------------------------------------------------
  // Full rebuild: the retrain escape hatch when drift exceeds splits.
  // ------------------------------------------------------------------

  /** REBUILD a stored index from the CURRENT payload corpus — the
    * full-retrain escape hatch for when accumulated drift exceeds what
    * [[splitList]]'s local heals can fix (every IVF deployment eventually
    * retrains; the architecture's job is making that rare and non-stop):
    * retrain both quantizers on `corpus` as it is NOW, re-assign and
    * re-encode every vector, and swap the whole tree in atomically. The
    * build runs entirely into a SIBLING staging tree first (outside the
    * index dir, so it is not a maintenance leftover) — serving continues
    * against the old index for the whole (expensive) train+encode phase —
    * and only the component renames run under the maintenance marker, so
    * the serving gap is a few fs metadata operations. A crash during the
    * staging build leaves no marker and an orphan staging tree that the
    * next rebuild or [[recoverIndex]] reclaims. Also the catch-up
    * operator: an index built over a subset re-indexes the full payload
    * table (the q_ann_index_rebuild row's contract).
    *
    * Append race, closed LOUDLY: because staging is unmarked (that is
    * what keeps serving and ingest up), an append CAN land between the
    * staging read and the commit — its list rows would be silently
    * superseded by the swap. The commit therefore acquires the marker
    * FIRST (refusing while any append lease is live, so no append is in
    * flight and none can start), THEN compares the lists file set against
    * the staging-start snapshot and REFUSES (cleanup + throw, old index
    * untouched and immediately servable) if it changed — quiesce ingest
    * and re-run, or let the next rebuild pick the rows up from the
    * payload. Contrast: split/compact/delete hold the marker for their
    * whole (one-list / rewrite-only, seconds-scale) runs, so appends fail
    * loudly up front; rebuild's staging is corpus-scale, so it trades the
    * up-front block for this commit-time check.
    *
    * Crash safety: marker op=rebuild; [[recoverIndex]] rolls a begun
    * commit forward through the shared [[finishRebuild]] and an unbegun
    * one back (staging deleted, old tree untouched). */
  def rebuildIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nCentroids: Int = 16, m: Int = 8, ksub: Int = 16, iters: Int = 5,
      seed: Long = 42L, corpusSnapshot: String = "",
      staleLeaseMs: Long = defaultStaleLeaseMs,
      ownerCol: String = ""): Unit =
    rebuildIndexImpl(spark, dir, corpus, idCol, vecCol, dim, nCentroids,
      m, ksub, iters, seed, corpusSnapshot, _ => (), staleLeaseMs, ownerCol)

  private[graft] def rebuildIndexImpl(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nCentroids: Int, m: Int, ksub: Int, iters: Int, seed: Long,
      corpusSnapshot: String, onStep: String => Unit,
      staleLeaseMs: Long = defaultStaleLeaseMs,
      ownerCol: String = ""): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    requireCleanIndex(fs, dir, "rebuildIndex")
    // read the manifest UNCONDITIONALLY — the loud only-rebuild-an-index
    // gate must fire before the corpus-scale staging build regardless of
    // the ownerCol short-circuit below
    val oldMf = readIndexManifest(spark, dir)
    // an owner-carrying index must not silently lose ownership at retrain
    // (the indexed MaxSim candidate stage would quietly fall back to the
    // per-query corpus-token join) — the caller re-supplies it from the
    // payload, same as every other rebuilt component
    require(ownerCol.nonEmpty || !oldMf.hasOwner,
      s"rebuildIndex: the index at $dir stores token ownership ('owner' " +
        "column) — pass ownerCol so the rebuilt tree keeps it")
    val staging = rebuildStagingPath(dir)
    fs.delete(p(staging), true)
    val filesAtStart = listFileSet(fs, s"$dir/lists")
    // ---- phase A: a COMPLETE new index tree in staging; old serves on
    writeIndex(corpus, staging, idCol, vecCol, dim, nCentroids, m, ksub,
      iters, seed, corpusSnapshot = corpusSnapshot, ownerCol = ownerCol)
    onStep("staged")
    // ---- commit gate: re-check cleanliness (a maintainer may have run —
    // single-maintainer is documented, this catches it anyway), acquire
    // the marker FIRST (atomic; refuses while any append lease is live),
    // and only THEN take the file-set snapshot — the r15 TOCTOU was
    // compare-then-mark, leaving a window where an append passing its
    // guard was invisible to the already-taken comparison and its rows
    // were silently swapped away. After the marker no append is in flight
    // and none can start, so the comparison is authoritative. REFUSE if
    // any append landed during the unmarked staging phase: its list rows
    // are not in the staged tree and the swap would silently drop them.
    // Cleanup on every refusal so the old index stays immediately servable.
    try {
      requireCleanIndex(fs, dir, "rebuildIndex (commit)")
      acquireMarker(fs, dir, "rebuildIndex (commit)", """{"op":"rebuild"}""",
        staleLeaseMs)
    } catch {
      case e: Throwable => fs.delete(p(staging), true); throw e
    }
    val filesNow = listFileSet(fs, s"$dir/lists")
    if (filesNow != filesAtStart) {
      fs.delete(p(staging), true)
      fs.delete(p(markerPath(dir)), false)
      throw new IllegalStateException(
        s"rebuildIndex: the lists tree changed during the staging build " +
          s"(${(filesNow -- filesAtStart).size} new / " +
          s"${(filesAtStart -- filesNow).size} removed files) — an append " +
          "or maintenance interleaved; its rows are not in the staged " +
          "tree, so committing would drop them. The index is unchanged; " +
          "quiesce ingest and re-run rebuildIndex.")
    }
    // ---- phase B: commit — component renames only (metadata-cheap)
    require(fs.rename(p(s"$dir/lists"), p(s"$dir/lists__retired")),
      s"rebuildIndex: could not move $dir/lists aside")
    onStep("retired")
    finishRebuild(spark, fs, dir)
  }

  /** Recursive (path, length) set of every file under `root` — the cheap
    * change detector the rebuild commit gate compares (fs metadata only). */
  private def listFileSet(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Set[(String, Long)] = {
    val out = Set.newBuilder[(String, Long)]
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
    while (it.hasNext) {
      val st = it.next()
      out += ((st.getPath.toUri.getPath, st.getLen))
    }
    out.result()
  }

  /** The commit suffix of a rebuild — shared verbatim with crash recovery:
    * swap each component (lists, centroids, codebooks) from staging via
    * retire-then-move-in, install the staged manifest, clean up, drop the
    * marker. Every step no-ops when already consumed — idempotent. */
  /** Rebuild staging lives OUTSIDE the index dir (a sibling) so the long
    * staging build is not a maintenance leftover and serving stays up. */
  private def rebuildStagingPath(dir: String): String =
    s"${dir.stripSuffix("/")}__rebuild_staging"

  private def finishRebuild(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val staging = rebuildStagingPath(dir)
    for (part <- Seq("lists", "centroids", "codebooks")) {
      val live = s"$dir/$part"
      val staged = s"$staging/$part"
      val retired = s"$dir/${part}__retired"
      if (fs.exists(p(staged))) {
        if (fs.exists(p(live)) && !fs.exists(p(retired)))
          require(fs.rename(p(live), p(retired)),
            s"rebuildIndex: could not retire $live")
        require(fs.rename(p(staged), p(live)),
          s"rebuildIndex: could not move $staged in")
      }
      fs.delete(p(retired), true)
    }
    if (fs.exists(p(s"$staging/manifest.json")))
      writeUtf8(fs, manifestPath(dir), readUtf8(fs, s"$staging/manifest.json"))
    fs.delete(p(staging), true)
    fs.delete(p(markerPath(dir)), false)
  }

  /** Crash recovery for a rebuild (marker op=rebuild): the commit BEGAN
    * iff any component was retired or staged lists were already consumed —
    * roll forward through [[finishRebuild]]; otherwise the crash was in
    * staging — roll back by deleting the staged tree (old index intact). */
  private def recoverRebuild(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val staging = rebuildStagingPath(dir)
    // the marker is written only AFTER the staging tree is COMPLETE, so
    // under the marker "staging/lists consumed" can only mean the commit
    // progressed past the lists swap — never a half-written staging build
    // (that state has no marker and never reaches this recovery)
    val commitBegan = Seq("lists", "centroids", "codebooks")
      .exists(part => fs.exists(p(s"$dir/${part}__retired"))) ||
      (fs.exists(p(staging)) && !fs.exists(p(s"$staging/lists")))
    if (commitBegan) finishRebuild(spark, fs, dir)
    else {
      fs.delete(p(staging), true)
      fs.delete(p(markerPath(dir)), false)
    }
  }

  /** Crash recovery for a split (marker op=split): the commit BEGAN iff the
    * hot list was moved aside, the centroid table was retired, or the new
    * child list is already live with the staged centroid table consumed —
    * then roll FORWARD through [[finishSplit]] (idempotent). Otherwise the
    * crash was in the staging phase: roll back by deleting the staged
    * artifacts; the live tree was never touched. */
  private def recoverSplit(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      cid: Int, newCid: Int): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val commitBegan = fs.exists(p(s"$dir/lists__retired_$cid")) ||
      fs.exists(p(s"$dir/centroids__retired")) ||
      (fs.exists(p(s"$dir/lists/__cid=$newCid")) &&
        !fs.exists(p(s"$dir/centroids__new")))
    if (commitBegan) finishSplit(spark, fs, dir, cid, newCid)
    else {
      fs.delete(p(s"$dir/lists__splitting"), true)
      fs.delete(p(s"$dir/centroids__new"), true)
      fs.delete(p(markerPath(dir)), false)
    }
  }

  // ------------------------------------------------------------------
  // Late-interaction (multi-vector / MaxSim) retrieval.
  // ------------------------------------------------------------------

  /** LATE-INTERACTION retrieval over MULTI-VECTOR documents (the
    * ColBERT-family scoring: Khattab & Zaharia 2020) — each document and
    * each query is a BAG of token vectors, and
    * score(q, d) = Σ over q's tokens of max over d's tokens of cos(qt, dt).
    * MaxSim keeps token-level matching (a query token finds its best
    * counterpart anywhere in the document) that single-vector pooling
    * destroys — the standard retrieval upgrade when one embedding per
    * document underfits.
    *
    * This is the EXACT form: every (query token × corpus token) pair is
    * scored — one broadcast nested-loop of the (driver-bounded, serving
    * contract) query token set against the corpus token table, a per
    * (query, query-token, doc) max, a per (query, doc) sum, and a top-k
    * window (ties → smaller corpusId). Cost |Qtok|·|Ctok| dots — the
    * brute-force baseline [[maxSimTopKPruned]] exists to avoid. No
    * self-exclusion: queries are their own entities (perturbed probes in
    * the fixture), not corpus rows.
    *
    * Output: (queryId, corpusId, maxsim, rank), k rows per query. */
  def maxSimTopK(queryTokens: DataFrame, corpusTokens: DataFrame, k: Int,
      queryId: String = "query_id", tokenId: String = "token_id",
      corpusId: String = "corpus_id", vecCol: String = "embedding"): DataFrame = {
    val q = queryTokens.select(col(queryId), col(tokenId).as("__qt"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpusTokens.select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    maxSimTail(c.crossJoin(broadcast(q)), k, queryId, corpusId)
  }

  /** The shared per-pair-cosine → token-max → doc-sum → top-k tail of both
    * MaxSim paths (exact and pruned), so scoring cannot drift: input is a
    * joined frame carrying (queryId, __qt, __qv, __qn, corpusId, __cv,
    * __cn) token-pair rows. */
  private def maxSimTail(pairs: DataFrame, k: Int,
      queryId: String, corpusId: String): DataFrame = {
    val perToken = pairs
      .withColumn("__cos", dot(col("__qv"), col("__cv")) /
        (col("__qn") * col("__cn")))
      .groupBy(col(queryId), col("__qt"), col(corpusId))
      .agg(max(col("__cos")).as("__m"))
    val scored = perToken
      .groupBy(col(queryId), col(corpusId))
      .agg(sum(col("__m")).as("maxsim"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("maxsim").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("maxsim"), col("rank"))
  }

  /** [[maxSimTopK]] with ColBERT-style CANDIDATE PRUNING — the serve shape
    * that scales: every query token fetches only the corpus tokens of its
    * `nProbe` nearest IVF lists (token-level coarse quantizer — trained
    * here or passed in frozen), candidate documents are the DISTINCT doc
    * ids those token hits belong to, and the exact MaxSim re-scores ONLY
    * the (query, candidate doc) pairs — the standard first-stage-ANN /
    * exact-late-interaction split. Recall-approximate exactly like every
    * IVF path here (a best-matching token in an unprobed list is missed;
    * `nProbe` = nCentroids degenerates to EXACT — unit-anchored); the
    * planted near-copy contract survives because a near-identical token
    * computes the same probe set within the perturbation margin.
    *
    * 100 TB posture: candidates come ONLY from the equi-join on the token
    * list id (never |Qtok|·|Ctok| pairs); the re-score is bounded by
    * candidate-doc token counts; the trained centroid model is the only
    * driver-side state. */
  def maxSimTopKPruned(queryTokens: DataFrame, corpusTokens: DataFrame,
      k: Int, dim: Int, nProbe: Int = 4, nCentroids: Int = 16,
      queryId: String = "query_id", tokenId: String = "token_id",
      corpusId: String = "corpus_id", vecCol: String = "embedding",
      trained: Option[Array[Array[Float]]] = None): DataFrame = {
    // in-run training needs a per-TOKEN id for ivfTrain's seeded init
    // (doc ids repeat per token; a content hash is deterministic across
    // partitionings where monotonically_increasing_id is not)
    val cents = trained.getOrElse(ivfTrain(
      corpusTokens.select(xxhash64(col(vecCol)).as("__tid"), col(vecCol)),
      "__tid", vecCol, dim, nCentroids))
    // per-ROW assignment (corpus doc ids are deliberately NOT
    // unique per token — every token assigns independently), collapsed to
    // distinct (doc, list) membership pairs
    val lists = corpusTokens
      .select(col(corpusId),
        explode(ivfProbes(col(vecCol), cents, 1)).as("__cid"))
      .distinct()
    // probes carry queryId THROUGH the projection — never re-joined on
    // tokenId, so per-query POSITIONAL token ids (0..3 repeated across
    // queries) are safe: the r16 form joined probes back on tokenId alone,
    // silently fanning each probe across every query sharing the id
    // (results stayed correct — candidates a superset, re-score exact —
    // but the blowup defeated the pruning this path exists for). Distinct
    // (query, cid) BEFORE the lists join: tokens probing the same list
    // fan out once, not once per token.
    val qprobes = queryTokens
      .select(col(queryId),
        explode(ivfProbes(col(vecCol), cents,
          math.min(nProbe, cents.length))).as("__cid"))
      .distinct()
    // candidate (query, doc) pairs: a query token's probed lists meet the
    // docs owning tokens in those lists — ids-only equi-join, distinct
    val cand = qprobes
      .join(lists, Seq("__cid"))
      .select(col(queryId), col(corpusId)).distinct()
    // exact re-score on candidates only: all tokens of each side re-attach
    val q = queryTokens.select(col(queryId), col(tokenId).as("__qt"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpusTokens.select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    maxSimTail(cand.join(broadcast(q), Seq(queryId)).join(c, Seq(corpusId)),
      k, queryId, corpusId)
  }

  /** [[maxSimTopKPruned]]'s first stage served from a STORED token index —
    * the 100 TB composition: the token corpus is indexed ONCE with
    * [[writeIndex]] (idCol = the UNIQUE token id; pass `ownerCol` there so
    * the owning-doc id rides the lists rows and the candidate stage here
    * serves from the index tree + payload ALONE — an ownerless index falls
    * back to re-attaching ownership through `corpusTokens`' (tokenId →
    * corpusId) mapping, a second corpus-token-scale join input per query),
    * and the whole maintenance suite
    * (append/compact/delete/split/rebuild/recover, leases and markers)
    * applies to it unchanged because the token index IS an index. Candidate
    * docs are the distinct owners of any stored token in any probed list of
    * any query token; the lists scan is pruned by dynamic partition pruning
    * exactly like [[indexTopKDistributed]] (the probe side is the broadcast
    * build side); the exact MaxSim re-scores candidates only, through the
    * same shared tail as the exact and in-memory-pruned paths. With the
    * same frozen coarse model, results are IDENTICAL to
    * [[maxSimTopKPruned]] by construction (unit-anchored). */
  def maxSimTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTokens: DataFrame, corpusTokens: DataFrame, k: Int,
      nProbe: Int = 4, queryId: String = "query_id",
      tokenId: String = "token_id", corpusId: String = "corpus_id",
      corpusTokenId: String = "token_id",
      vecCol: String = "embedding", filter: Option[Column] = None): DataFrame = {
    val (cents, _, _) = openIndex(spark, dir, 0, "maxSimTopKIndexed")
    val cand0 = maxSimIndexedCandidates(spark, dir, queryTokens, corpusTokens,
      cents, resolveNProbe(nProbe, cents.length), queryId, tokenId, corpusId,
      corpusTokenId, vecCol)
    // FILTERED late-interaction serve — the stored ANN tier's pre-filter
    // contract carried over: a doc-level metadata predicate over
    // `corpusTokens`' columns prunes candidates BEFORE scoring (ids-only
    // left-semi), so the k contract holds at any selectivity and no ADC/
    // re-score budget is spent on unreturnable docs. The EXACT and
    // in-memory-pruned paths need no parameter: with no stored index in
    // the way, filtering them is just a WHERE on the input frame —
    // exactly equivalent.
    val cand = filter match {
      case Some(pred) => cand0.join(
        corpusTokens.where(pred).select(col(corpusId)).distinct(),
        Seq(corpusId), "left_semi")
      case None => cand0
    }
    val q = queryTokens.select(col(queryId), col(tokenId).as("__qt"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpusTokens.select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    maxSimTail(cand.join(broadcast(q), Seq(queryId)).join(c, Seq(corpusId)),
      k, queryId, corpusId)
  }

  /** [[maxSimTopKIndexed]]'s CANDIDATE stage, factored so its plan is
    * assertable in isolation: probes keyed on (queryId, tokenId) — a
    * struct key through [[assignProbes]] (a per-row projection, so
    * per-query POSITIONAL token ids cannot pool), queryId
    * recovered by field access, never a re-join on tokenId alone (the r16
    * cross-query probe fanout). Stored rows are (corpus_id = TOKEN id,
    * __cid [, owner]); candidates are the distinct owners of hit tokens.
    * An index written with `ownerCol` carries the owning-doc id IN the
    * lists rows, so this stage reads the DPP-pruned index tree ALONE
    * (plan-asserted: no corpusTokens scan) — the r16 form re-attached
    * ownership through `corpusTokens`, a second full corpus-token-scale
    * join input per query at 100 TB. Ownerless indexes keep the re-attach
    * fallback (corpusTokens' tokenId → corpusId). */
  private[graft] def maxSimIndexedCandidates(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      queryTokens: DataFrame, corpusTokens: DataFrame,
      cents: Array[Array[Float]], nProbe: Int, queryId: String,
      tokenId: String, corpusId: String, corpusTokenId: String,
      vecCol: String): DataFrame = {
    val qprobes = assignProbes(
      queryTokens.select(
        struct(col(queryId), col(tokenId)).as("__qtk"),
        col(vecCol).as("__pv")),
      "__qtk", "__pv", cents, nProbe)
      // the (always-true) selective predicate PartitionPruning requires on
      // the build side — the indexTopKDistributed convention
      .where(col("__cid") >= 0)
      .select(col("__qtk").getField(queryId).as(queryId), col("__cid"))
      .distinct()
    val lists0 = spark.read.parquet(s"$dir/lists")
    if (readIndexManifest(spark, dir).hasOwner)
      lists0.select(col("owner").as(corpusId), col("__cid"))
        .join(broadcast(qprobes), Seq("__cid"))
        .select(col(queryId), col(corpusId)).distinct()
    else lists0.select(col("corpus_id").as(corpusTokenId), col("__cid"))
      .join(broadcast(qprobes), Seq("__cid"))
      .join(corpusTokens.select(col(corpusTokenId), col(corpusId)),
        Seq(corpusTokenId))
      .select(col(queryId), col(corpusId)).distinct()
  }

  /** Per-QUERY MaxSim accumulator for the STREAMING path, state bounded by
    * `n` like [[Sampling.TopKAgg]] bounds [[indexShortlistStream]]: input
    * rows are (candidateDocId, queryTokenId, cosine) pairs of one query's
    * group; state is a top-`n` map of doc → per-query-token running maxes
    * (each doc's inner map bounded by the query's token count, the doc
    * count bounded by `n`) — NEVER corpus-fraction-sized, where the r16
    * form keyed state per (query, doc) and a hot query held state for
    * every doc owning any probed token. The two-level max-then-sum still
    * collapses into ONE Aggregator because Spark disallows chained
    * streaming aggregations — this is what makes MaxSim stream-composable
    * at all; finish emits (doc, Σ per-token maxes) for the retained docs.
    *
    * EVICTION is by CHAMPION token (a doc's best met cosine, ties to the
    * smaller doc id) — the same admission criterion that makes a doc a
    * candidate in the batch pruned path (one token hit a probed list),
    * chosen over the running SUM because the champion is order-independent
    * per doc: a doc with one strong token match is never displaced by docs
    * accumulating many weak pairs, so a planted near-copy (champion ≈ 1)
    * survives any arrival order, while sum-eviction could drop it before
    * its pairs accumulated. Residual approximation (documented in
    * DEVIATIONS): pairs met while their doc was outside the retained set
    * are lost — a retained doc's score is the met-pairs sum since its
    * LAST admission, still one-sidedly ≤ the clamped exact bound.
    *
    * Cost: the buffer is a HASH map, so the dominant case (a pair of an
    * already-retained doc) is an O(1) lookup + an O(|query tokens|)
    * max-merge; the O(n) champion scan is paid only when an UNSEEN doc
    * attempts admission against a full buffer — per candidate doc, not
    * per pair — so a large auto-resolved n (tokens-per-list at 100 TB)
    * prices admissions, never the pair stream. */
  final class MaxSimTopNAgg(n: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Double),
        (Map[Long, Seq[(Long, Double)]], Double, Long),
        Seq[(Long, Double)]] {
    require(n > 0, "MaxSimTopNAgg: n must be > 0")
    // buffer = (docs, minCh, minDoc): the cached weakest champion is a
    // LOWER BOUND on the buffer's true weakest — champions only RISE on
    // token updates, so the cache can only go stale LOW, which is safe
    // for the O(1) fast reject (a pair strictly below a lower bound is
    // below the true min); the exact admission path recomputes and
    // re-tightens. Without the cache every rejected pair of the heavy
    // never-admitted tail paid a full O(n) champion scan.
    type Buf = (Map[Long, Seq[(Long, Double)]], Double, Long)
    private def champion(toks: Seq[(Long, Double)]): Double =
      toks.iterator.map(_._2).max
    // evict the weakest champion; among equals the LARGER doc id leaves
    // (the serve tie-break: smaller ids win)
    private def weakest(b: Map[Long, Seq[(Long, Double)]]): (Long, Double) = {
      val (doc, toks) = b.minBy { case (d, ts) => (champion(ts), -d) }
      (doc, champion(toks))
    }
    private def withCache(m: Map[Long, Seq[(Long, Double)]]): Buf =
      if (m.size < n) (m, Double.NegativeInfinity, -1L)
      else { val (d, c) = weakest(m); (m, c, d) }
    private def mergeToks(ts: Seq[(Long, Double)],
        t: (Long, Double)): Seq[(Long, Double)] =
      ts.indexWhere(_._1 == t._1) match {
        case -1 => ts :+ t
        case j => if (ts(j)._2 >= t._2) ts else ts.updated(j, t)
      }
    def zero: Buf = (Map.empty, Double.NegativeInfinity, -1L)
    def reduce(b: Buf, a: (Long, Long, Double)): Buf =
      if (a == null) b
      else {
        val (m, minCh, minDoc) = b
        m.get(a._1) match {
          // retained doc: O(1) hash hit + O(|query tokens|) max-merge —
          // the dominant stream case; a rising champion keeps the cache a
          // valid lower bound
          case Some(toks) => (m.updated(a._1, mergeToks(toks, (a._2, a._3))),
            minCh, minDoc)
          case None if m.size < n => withCache(m.updated(a._1, Seq((a._2, a._3))))
          case None if a._3 < minCh => b // O(1) reject below the lower bound
          case None =>
            // at or above the bound: recompute the TRUE weakest once,
            // admit past it (ties → smaller id wins), re-tighten either way
            val (d, c) = weakest(m)
            if (a._3 > c || (a._3 == c && a._1 < d))
              withCache((m - d).updated(a._1, Seq((a._2, a._3))))
            else (m, c, d)
        }
      }
    def merge(x: Buf, y: Buf): Buf = {
      val m = y._1.foldLeft(x._1) { case (acc, (doc, toks)) =>
        acc.updated(doc,
          acc.get(doc).map(ts => toks.foldLeft(ts)(mergeToks))
            .getOrElse(toks))
      }
      withCache(
        if (m.size <= n) m
        else m.toSeq.sortBy { case (doc, toks) => (-champion(toks), doc) }
          .take(n).toMap)
    }
    // deterministic output order (map iteration order is not)
    def finish(r: Buf): Seq[(Long, Double)] =
      r._1.toSeq.sortBy(_._1)
        .map { case (doc, toks) => (doc, toks.map(_._2).sum) }
    def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** STREAMING MaxSim from a STORED token index — late-interaction
    * retrieval composed with a query-token STREAM: each token's nProbe
    * probes ride the stream's one projection ([[ivfProbes]]), candidates come from STATELESS stream-static equi-joins
    * (lists on `__cid` → token ownership → raw corpus token vectors), and
    * the only stateful operator is ONE aggregation per QUERY whose state
    * is the bounded top-`shortlist` doc map of [[MaxSimTopNAgg]]
    * (`shortlist ≤ 0` ⇒ auto via [[resolveShortlist]], the index's own
    * n/k) — the same memory contract as [[indexShortlistStream]]'s TopKAgg
    * reservoir, where the r16 form held one state row per (query,
    * candidate doc): a corpus FRACTION for hot queries, not a function of
    * k. Returns the streaming (queryId, corpusId, maxsim) frame — run it
    * bounded (complete mode) and take the batch top-k, the
    * streaming-candidates / batch-tail split of [[indexShortlistStream]].
    *
    * APPROXIMATE-INTERACTION semantics (bounded, documented): a query
    * token is scored only against corpus tokens it MET through probing —
    * a met token's contribution is ≤ the exact per-token max (subset of a
    * max), and an unmet token contributes 0 where the exact max may be
    * NEGATIVE; the bounded state adds champion-token eviction (a doc
    * outside the retained top-`shortlist` loses pairs met while evicted),
    * which only ever REMOVES contributions — so the one-sided guarantee
    * streamed ≤ Σ max(exact per-token max, 0) per (query, doc) holds
    * unchanged, with EQUALITY on retained pairs whose best-matching
    * tokens are all probed AND that were admitted from their first pair
    * (the planted near-copy case: its ≈1.0 champion admits it on any
    * schedule — unit-anchored). This is the standard serving
    * approximation; re-rank survivors with [[maxSimRerank]] when exact
    * scores matter.
    *
    * PAST the literal probe regime (k ≥ [[centroidTableThreshold]] token
    * centroids — immediate at 100 TB, where k ∝ n tokens) the probe stage
    * switches to the GROUP-GRANULAR ladder [[indexShortlistStream]]
    * carries (r15): each token's `groupProbe` nearest √k literal SUPERS
    * ([[superGroups]] — the same shared structure, so the paths cannot
    * drift) explode in the stream's one projection and ONE stateless
    * stream-static broadcast join fans each probed group out to its
    * member cids. Candidates are a SUPERSET of the two-level top-nProbe
    * frontier (every centroid of every probed group scans), so met-pair
    * coverage at equal groupProbe is ≥ the hier path's — the one-sided
    * bound and the bounded state are unchanged; the cost is probed lists
    * ≈ groupProbe·√k instead of nProbe (unit-anchored at k = 2176;
    * measured in the RecallScale maxsim-stream ladder lane). */
  def maxSimStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryTokenStream: DataFrame, corpusTokens: DataFrame, nProbe: Int = 4,
      queryId: String = "query_id", tokenId: String = "token_id",
      corpusId: String = "corpus_id", corpusTokenId: String = "token_id",
      vecCol: String = "embedding",
      allowed: Option[DataFrame] = None, shortlist: Int = 0,
      groupProbe: Int = 3): DataFrame = {
    val (cents, _, _) = openIndex(spark, dir, 0, "maxSimStream")
    val useShort = resolveShortlist(spark, dir, shortlist, cents.length)
    val qbase = queryTokenStream.select(col(queryId), col(tokenId).as("__qt"),
        col(vecCol).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val q =
      if (cents.length < centroidTableThreshold)
        // under the threshold: exact per-token top-nProbe probes ride the
        // stream's projection directly
        qbase.withColumn("__cid", explode(ivfProbes(col("__qv"), cents,
          math.min(resolveNProbe(nProbe, cents.length), cents.length))))
      else {
        // past the threshold the caller's nProbe does NOT govern (the
        // ladder probes whole groups) — say so, rather than silently
        // changing recall characteristics under a tuned caller whose
        // index was re-quantized past the literal regime (r17 refused
        // here; the warning keeps the regime switch visible)
        org.slf4j.LoggerFactory.getLogger("graft.Similarity").warn(
          s"maxSimStream: ${cents.length} token centroids >= " +
            s"$centroidTableThreshold — serving via the group ladder " +
            s"(groupProbe=$groupProbe governs candidates; nProbe is not " +
            "used on this path)")
        ladderProbeCids(qbase, col("__qv"), cents, groupProbe)
      }
    val lists = spark.read.parquet(s"$dir/lists")
      .select(col("corpus_id").as(corpusTokenId), col("__cid"))
    val ctok = corpusTokens.select(col(corpusTokenId), col(corpusId),
        col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val pairs0 = q.join(lists, Seq("__cid"))
      .join(ctok, Seq(corpusTokenId))
    // FILTERED streaming MaxSim: `allowed` is a doc-ids frame (first
    // column = doc id) semi-joined as one more STATIC side BEFORE the
    // aggregation — still stateless candidates, and the bounded state is
    // spent on returnable docs only (the indexShortlistStream contract)
    val pairs = (allowed match {
      case Some(ok) => pairs0.join(
        ok.select(ok.columns.head).toDF(corpusId), Seq(corpusId), "left_semi")
      case None => pairs0
    }).withColumn("__cos", dot(col("__qv"), col("__cv")) /
      (col("__qn") * col("__cn")))
    // the bounded per-query state keys docs by LONG (the aggregator's
    // encoder): an integral corpusId round-trips exactly (cast back to the
    // input type below); any other type must be refused LOUDLY — a silent
    // cast('long') would null every id and collapse all docs into one
    // garbage key. Map non-numeric doc ids to longs upstream (xxhash64 +
    // a dictionary, or the batch paths which key on the column as-is).
    val cidType = corpusTokens.schema(corpusId).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(cidType),
      s"maxSimStream: corpusId '$corpusId' must be an integral type for " +
        s"the bounded per-query state (got $cidType) — map doc ids to " +
        "longs upstream, or use the batch MaxSim paths (any id type)")
    val agg = udaf(new MaxSimTopNAgg(useShort))
    pairs.groupBy(col(queryId))
      .agg(agg(col(corpusId).cast("long"), col("__qt").cast("long"),
        col("__cos")).as("__docs"))
      .select(col(queryId), explode(col("__docs")).as("__d"))
      .select(col(queryId), col("__d._1").cast(cidType).as(corpusId),
        col("__d._2").as("maxsim"))
  }

  /** EXACT MaxSim re-rank of an ids-only (queryId, corpusId) candidate
    * frame — the late-interaction analogue of [[rerankTopK]] and the
    * prescribed tail for [[maxSimStream]]'s approximate scores (take the
    * streamed top-N, re-score the survivors against ALL their tokens,
    * keep k): same shared scoring tail as every batch MaxSim path, so a
    * candidate frame from ANY first stage (streamed, pruned, indexed, or
    * external) gets identical exact semantics. Restricted-candidates
    * contract: with the full query×doc cross product as `pairs` this IS
    * [[maxSimTopK]] (unit-anchored). */
  def maxSimRerank(pairs: DataFrame, queryTokens: DataFrame,
      corpusTokens: DataFrame, k: Int, queryId: String = "query_id",
      tokenId: String = "token_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    val cand = pairs.select(col(queryId), col(corpusId)).distinct()
    val q = queryTokens.select(col(queryId), col(tokenId).as("__qt"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpusTokens.select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    maxSimTail(cand.join(broadcast(q), Seq(queryId)).join(c, Seq(corpusId)),
      k, queryId, corpusId)
  }

  /** Embedding-cosine near-duplicate pairs via multi-table sign-LSH self-join:
    * ids-only bucket join, distinct pairs, one verification per pair. For high
    * thresholds (true near-dups) per-plane agreement p ≈ 1 so a handful of tables
    * gives ~exact recall while only same-bucket pairs are ever compared.
    *
    * The prepared table (vector + norm + bucket keys) is computed ONCE and
    * materialized (Caching.materialize — the bounded-registry persist, not
    * a leaking bare persist) — both join sides and both re-attach sides read the cache, and verification is
    * a single dot-product fold per pair (norms precomputed per vector, not 2× per
    * pair). bitsPerTable=8 keeps buckets selective (collision fraction 2^-8/table):
    * at round-1's b=6 the verify stage drowned in random-vector collisions. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                         threshold: Double, numTables: Int = 10, bitsPerTable: Int = 8,
                         seed: Long = 42L): DataFrame = {
    val nProj = numTables * bitsPerTable
    val prepared = Caching.materialize(
      df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("__norm", norm(col("v")))
        .withColumn("__proj", lshProjections(col("v"), dim, nProj, seed))
        .select(col("id"), col("v"), col("__norm"),
          lshTableKeys(col("__proj"), numTables, bitsPerTable).as("__keys")))
    val keyed = prepared.select(col("id"), explode(col("__keys")).as("bucket"))
    val l = keyed.select(col("bucket"), col("id").as("id_a"))
    val r = keyed.select(col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(prepared.select(col("id").as("id_a"), col("v").as("va"), col("__norm").as("na")), Seq("id_a"))
      .join(prepared.select(col("id").as("id_b"), col("v").as("vb"), col("__norm").as("nb")), Seq("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
