package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** The candidate-pair plan semDedup's cluster kernel
  * (Similarity.clusterDupes, graft.plans.ClusterDupes) replaced, kept as its
  * reference: each cluster's members sorted, every member paired with each
  * later one (posexplode + explode(slice)), the pairs de-duplicated, both
  * vectors and their norms joined on, one dot per pair. Slow on purpose; it
  * shares only Similarity.dot/norm and the assignment with the kernel. */
object SemDedupOracles {

  /** The ids the pair plan removes, as `__rid` rows, from assignment rows
    * `(__key, __id, __cid)` and vectors `(__key, __v)`. A pair (a, b) of one
    * cluster counts when id a < id b, and b is removed when
    * dot/(na·nb) ≥ tau. The key names the vectors a side joins: keyed by
    * row it is the kernel's row-level contract; keyed by id ([[semDedup]])
    * every vector of the id is joined, as the pair plan did. `try_divide`
    * makes na·nb = 0 a null cosine, never a duplicate: the value a non-ANSI
    * session's division gives. */
  def removedIds(assigned: DataFrame, vectors: DataFrame, tau: Double): DataFrame = {
    val lists = assigned.groupBy(col("__cid"))
      .agg(array_sort(collect_list(struct(col("__id"), col("__key")))).as("__ms"))
    val cand = lists
      .select(col("__ms"), posexplode(col("__ms")).as(Seq("__pa", "__a")))
      .select(col("__a"), explode(slice(col("__ms"), col("__pa") + 2,
        size(col("__ms")) - col("__pa") - 1)).as("__b"))
      .filter(col("__a.__id") < col("__b.__id"))
      .select(col("__a.__key").as("__ka"), col("__b.__key").as("__kb"),
        col("__b.__id").as("__rid"))
      .distinct()
    val vecs = vectors.select(col("__key"), col("__v"),
      Similarity.norm(col("__v")).as("__n"))
    cand
      .join(vecs.select(col("__key").as("__ka"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("__ka"))
      .join(vecs.select(col("__key").as("__kb"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("__kb"))
      .filter(try_divide(Similarity.dot(col("__va"), col("__vb")),
        col("__na") * col("__nb")) >= tau)
      .select(col("__rid")).distinct()
  }

  /** semDedup's `(id, removed)` frame through the pair plan, keyed by id,
    * over the same assignment as semDedup with `trained` centroids. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String, tau: Double,
      centroids: Array[Array[Float]], nProbe: Int = 2,
      hierAssign: Boolean = false): DataFrame = {
    val keyed = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val assigned =
      if (hierAssign) Similarity.assignProbesHier(keyed, "__id", "__v", centroids, nProbe)
      else Similarity.assignProbes(keyed, "__id", "__v", centroids, nProbe)
    val removed = removedIds(assigned.withColumn("__key", col("__id")),
      keyed.select(col("__id").as("__key"), col("__v")), tau)
    corpus.select(col(idCol))
      .join(removed, col(idCol) === col("__rid"), "left")
      .select(col(idCol), col("__rid").isNotNull.as("removed"))
  }
}
