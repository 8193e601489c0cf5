package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

import graft.functions.{Sampling, Similarity}

/** Reference implementations the exact probe kernel
  * (Similarity.ivfProbes / assignProbes) is checked against: a plain flat
  * scan over every centroid, and the broadcast-table plan that scores every
  * (row, centroid) pair and keeps the per-row top nProbe with the TopKAgg
  * reservoir. Both are slow on purpose; they share no code with the kernel
  * beyond Similarity.dot. */
object IvfOracles {

  /** Per-centroid biases Σx²/2, summed left-to-right. A null centroid row
    * biases to NaN so it can never win a probe slot. */
  def biasesOf(cents: ArrayData): Array[Double] = {
    val k = cents.numElements()
    val biases = new Array[Double](k)
    var ci = 0
    while (ci < k) {
      if (cents.isNullAt(ci)) biases(ci) = Double.NaN
      else {
        val c = cents.getArray(ci)
        val m = c.numElements()
        var b = 0.0
        var j = 0
        while (j < m) { val x = c.getFloat(j).toDouble; b += x * x; j += 1 }
        biases(ci) = b / 2.0
      }
      ci += 1
    }
    biases
  }

  /** The nProbe nearest centroid ids of `vec`, nearest first, by a full
    * scan: score v·c − |c|²/2 (dot in double left-to-right over min(len),
    * null vector elements skipped), Double.compare order (NaN largest),
    * ties to the lower id. A null centroid row sorts last. */
  def probes(vec: ArrayData, cents: ArrayData, nProbe: Int): GenericArrayData = {
    val k = cents.numElements()
    val bs0 = biasesOf(cents)
    val scores = new Array[Double](k)
    var ci = 0
    while (ci < k) {
      if (cents.isNullAt(ci) || java.lang.Double.isNaN(bs0(ci))) {
        scores(ci) = Double.NegativeInfinity
      } else {
        val c = cents.getArray(ci)
        val n = math.min(vec.numElements(), c.numElements())
        var s = 0.0
        var j = 0
        while (j < n) {
          if (!vec.isNullAt(j))
            s += vec.getFloat(j).toDouble * c.getFloat(j).toDouble
          j += 1
        }
        scores(ci) = s - bs0(ci)
      }
      ci += 1
    }
    val nOut = math.min(math.max(nProbe, 0), k)
    val out = new Array[Any](nOut)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < nOut) {
      var best = -1
      var bs = Double.NegativeInfinity
      var i = 0
      while (i < k) {
        // strict > over an ascending scan keeps the lowest id on exact ties
        if (!taken(i) &&
            (best < 0 || java.lang.Double.compare(scores(i), bs) > 0)) {
          best = i; bs = scores(i)
        }
        i += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  /** A driver matrix as catalyst array data (null rows and elements kept). */
  def arrayData(rows: Array[Array[Float]]): GenericArrayData =
    new GenericArrayData(rows.map(r =>
      if (r == null) null else new GenericArrayData(r.map(x => x: Any))))

  /** A centroid matrix as a (cid, vec) DataFrame for [[assignProbesTable]]. */
  def centroidTable(like: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val spark = like.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("__ct_cid", "__ct_vec")
  }

  /** |c|²/2 of the __ct_vec column, computed in-plan. */
  private def ctBias: Column = aggregate(col("__ct_vec"),
    lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")) / 2.0

  /** Broadcast-table probe assignment as (id, __cid) rows: one crossJoin
    * against the (cid, vec) table, then a per-id top-nProbe through the
    * TopKAgg reservoir. `idCol` must be unique (rows are grouped by it);
    * null vectors yield no rows. */
  def assignProbesTable(df: DataFrame, idCol: String, vecCol: String,
      centroidTbl: DataFrame, nProbe: Int): DataFrame = {
    require(nProbe >= 1, "assignProbesTable: nProbe must be >= 1")
    val topk = udaf(new Sampling.TopKAgg(nProbe))
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__av"))
      .crossJoin(broadcast(centroidTbl
        .select(col("__ct_cid"), col("__ct_vec"), ctBias.as("__ct_bias"))))
      .select(col(idCol),
        (Similarity.dot(col("__av"), col("__ct_vec")) - col("__ct_bias")).as("__s"),
        col("__ct_cid").cast("long").as("__ct_cid"))
      .groupBy(col(idCol))
      .agg(topk(col("__s"), col("__ct_cid")).as("__probes"))
      .select(col(idCol), explode(col("__probes")).as("__p"))
      .select(col(idCol), col("__p._2").cast("int").as("__cid"))
  }
}
