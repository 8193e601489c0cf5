package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Reference k-means the partial-sum trainer (Similarity.ivfTrain /
  * pqTrain, graft.functions.KMeans) is checked against: the cell-aggregate
  * plan. Each iteration assigns every row through Similarity.ivfAssign,
  * explodes each vector into (cluster, position, element) cells, averages
  * the cells in a hash aggregate and collects the k×dim means to the
  * driver. Slow on purpose; it shares no code with the trainer beyond the
  * probe kernel. Contract: the init is the k non-null vectors with the
  * lowest xxhash64(id, seed), ties to the lower id, a null element as 0;
  * a null element is left out of its cell's mean and a cell with no
  * non-null element (so every cell of an empty cluster) keeps its value. */
object KMeansOracles {

  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .where(col("v").isNotNull)
    var centroids: Array[Array[Float]] = base
      .withColumn("__h", xxhash64(col("id"), lit(seed)))
      .orderBy(col("__h"), col("id")).limit(nCentroids)
      .select(col("v")).collect()
      .map(_.getSeq[java.lang.Float](0).map(x => if (x == null) 0f else x.floatValue).toArray)
    for (_ <- 1 to iters) {
      val cells = base.withColumn("__cid", Similarity.ivfAssign(col("v"), centroids))
        .select(col("__cid"), posexplode(col("v")).as(Seq("__pos", "__x")))
        .groupBy(col("__cid"), col("__pos"))
        .agg(avg(col("__x")).as("__m"))
        .collect()
      val next = centroids.map(_.clone())
      cells.foreach { r =>
        if (!r.isNullAt(2)) next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      centroids = next
    }
    centroids
  }

  /** M separate [[ivfTrain]] runs, sub-space mi over elements
    * [mi·dim/m, (mi+1)·dim/m) seeded with seed + mi. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, ksub: Int, iters: Int, seed: Long): Array[Array[Array[Float]]] = {
    val dsub = dim / m
    Array.tabulate(m) { mi =>
      ivfTrain(corpus.select(col(idCol).as("id"),
        slice(col(vecCol), mi * dsub + 1, dsub).as("v")), "id", "v", ksub, iters, seed + mi)
    }
  }
}
