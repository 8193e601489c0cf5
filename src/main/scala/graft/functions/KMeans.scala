package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.{SparkContext, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

import graft.plans.{IvfPruned, IvfPrunedModel}

/** Seeded Lloyd's k-means over a frame's float-vector column, one Spark job
  * per pass: the trainer behind Similarity.ivfTrain (one space) and
  * Similarity.pqTrain (M sub-spaces trained in the same passes). Sub-space
  * s covers elements [s·d, (s+1)·d) of every vector, d = dim / M.
  *   - Init, one job for every sub-space: sub-space s starts from the k
  *     vectors with the lowest xxhash64(id, seed_s), ties to the lower id (a
  *     null element of a drawn vector starts as 0). Each task keeps its k
  *     best rows per sub-space and the driver takes the k best of those.
  *   - Each iteration, one job: every task assigns its rows to their nearest
  *     centroid through IvfPruned's candidate and scoring loop (the probe
  *     kernel of Similarity.ivfProbes) and sums them into a primitive partial
  *     of double sums and long non-null counts per (cluster, element). Only
  *     the clusters a task touched ship, so a partial holds at most
  *     min(k, rows)·d cells. The driver adds the partials in partition-index
  *     order and sets each cell to sum / count; a cell with no non-null
  *     element keeps its previous value, so an empty cluster keeps its
  *     centroid.
  * Null vectors take no part. A vector whose length is not dim, or that
  * holds a NaN or infinite element, fails the init job with an
  * IllegalArgumentException naming its id, the position and the value. A
  * thin input is spread across the cores ([[Caching.spreadTarget]]) by an
  * RDD shuffle that runs as a stage of the init job; every iteration reads
  * its output. Every sum has a fixed order (rows in partition order,
  * partitions in index order), so two runs at the same partitioning give
  * the same centroids bit for bit. */
private[graft] object KMeans {

  /** One task's sums for one sub-space: the touched clusters, then per
    * cluster d element sums and d non-null counts. */
  final case class Partial(cids: Array[Int], sums: Array[Double], counts: Array[Long])

  /** The trained centroid matrix of each of `spaces` sub-spaces of `dim`,
    * at most k rows each (fewer when fewer vectors exist); `seeds(s)` seeds
    * sub-space s. `what` names the caller in error messages. */
  def train(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      spaces: Int, k: Int, iters: Int, seeds: Seq[Long],
      what: String): Array[Array[Array[Float]]] = {
    require(spaces >= 1 && dim >= 1 && dim % spaces == 0,
      s"$what: dim = $dim must divide into $spaces sub-spaces")
    require(seeds.length == spaces, s"$what: one seed per sub-space")
    require(k >= 1, s"$what: need at least one centroid, got $k")
    val d = dim / spaces
    val base = corpus.where(col(vecCol).isNotNull)
      .select(Seq(col(idCol).as("id"), col(vecCol).as("v")) ++
        seeds.map(s => xxhash64(col(idCol), lit(s))): _*)
    base.schema("v").dataType match {
      case ArrayType(FloatType, _) =>
      case other => throw new IllegalArgumentException(
        s"$what: $vecCol must be array<float>, got ${other.simpleString}")
    }
    val idType = base.schema("id").dataType
    val sc = corpus.sparkSession.sparkContext
    val scan = base.queryExecution.toRdd
    val rows = Caching.spreadTarget(base).fold(scan)(p => scan.map(_.copy()).repartition(p))
    val drawn = runJob(sc, rows)(it => drawInit(it, idType, dim, spaces, k, what))
    var cents = Array.tabulate(spaces) { s =>
      drawn.flatMap(_(s)).sorted(initOrdering(idType, s)).take(k)
        .map(r => floatsOf(r.getArray(1), s * d, d))
    }
    require(iters < 1 || cents.head.nonEmpty, s"$what: no non-null vector to train on")
    for (_ <- 1 to iters) {
      val models = cents.map(Similarity.probeModel)
      val partials = runJob(sc, rows)(it => accumulate(it, models, d))
      cents = Array.tabulate(spaces)(s => merged(cents(s), partials.map(_(s)), d))
    }
    cents
  }

  /** One job over every partition, results in partition-index order. A
    * task's IllegalArgumentException (a rejected row) reaches the caller as
    * itself, not wrapped in the job failure. */
  private def runJob[U: ClassTag](sc: SparkContext, rows: RDD[InternalRow])(
      f: Iterator[InternalRow] => U): Array[U] =
    try sc.runJob(rows, f)
    catch {
      case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] =>
        throw e.getCause
    }

  /** Init order of sub-space s over rows (id, v, h_0 … h_{M−1}): h_s
    * ascending, then the id in its Catalyst ordering, null ids first. */
  private def initOrdering(idType: DataType, s: Int): Ordering[InternalRow] = {
    val ids = TypeUtils.getInterpretedOrdering(idType)
    new Ordering[InternalRow] {
      def compare(a: InternalRow, b: InternalRow): Int = {
        val c = java.lang.Long.compare(a.getLong(2 + s), b.getLong(2 + s))
        if (c != 0) c
        else if (a.isNullAt(0)) (if (b.isNullAt(0)) 0 else -1)
        else if (b.isNullAt(0)) 1
        else ids.compare(a.get(0, idType), b.get(0, idType))
      }
    }
  }

  /** One task of the init job: checks every row, and keeps per sub-space
    * its k first rows in [[initOrdering]], in that order. */
  private def drawInit(it: Iterator[InternalRow], idType: DataType, dim: Int,
      spaces: Int, k: Int, what: String): Array[Array[InternalRow]] = {
    val ords = Array.tabulate(spaces)(initOrdering(idType, _))
    val heaps = ords.map(o =>
      new java.util.PriorityQueue[InternalRow](math.min(k, 1024), o.reverse))
    it.foreach { row =>
      check(row, idType, dim, what)
      var s = 0
      while (s < spaces) {
        val h = heaps(s)
        if (h.size < k) h.add(row.copy())
        else if (ords(s).lt(row, h.peek)) { h.poll(); h.add(row.copy()) }
        s += 1
      }
    }
    Array.tabulate(spaces)(s =>
      heaps(s).toArray(new Array[InternalRow](0)).sorted(ords(s)))
  }

  /** Rejects a vector the centroids cannot average: a length other than
    * dim, or a NaN or infinite element. */
  private def check(row: InternalRow, idType: DataType, dim: Int, what: String): Unit = {
    val v = row.getArray(1)
    val n = v.numElements()
    def id = if (row.isNullAt(0)) "null" else row.get(0, idType).toString
    if (n != dim) {
      val at = if (n < dim) "missing" else if (v.isNullAt(dim)) "null" else v.getFloat(dim)
      throw new IllegalArgumentException(s"$what: the vector of id $id has $n " +
        s"elements, not dim = $dim (position ${math.min(n, dim)}: $at)")
    }
    var j = 0
    while (j < n) {
      if (!v.isNullAt(j) && !java.lang.Float.isFinite(v.getFloat(j)))
        throw new IllegalArgumentException(s"$what: the vector of id $id has " +
          s"the non-finite element ${v.getFloat(j)} at position $j")
      j += 1
    }
  }

  /** Elements [off, off + d) of a vector, a null element as 0. */
  private def floatsOf(v: ArrayData, off: Int, d: Int): Array[Float] =
    Array.tabulate(d)(j => if (v.isNullAt(off + j)) 0f else v.getFloat(off + j))

  /** One task of an iteration job: each row's nearest centroid per
    * sub-space, and the partial sums of every touched cluster. */
  private def accumulate(it: Iterator[InternalRow], models: Array[IvfPrunedModel],
      d: Int): Array[Partial] = {
    val accs = models.map(m => new Acc(m.cents.length, d))
    it.foreach { row =>
      val vec = row.getArray(1)
      val v = IvfPruned.rowOf(vec)
      var s = 0
      while (s < models.length) {
        val off = s * d
        val sub = if (models.length == 1) v else java.util.Arrays.copyOfRange(v, off, off + d)
        accs(s).add(IvfPruned.nearest(sub, models(s)), v, vec, off)
        s += 1
      }
    }
    accs.map(_.partial)
  }

  /** A task's running sums for one sub-space of k clusters: one slot of d
    * sums and d counts per touched cluster, in first-touch order. */
  private final class Acc(k: Int, d: Int) {
    private val slotOf = Array.fill(k)(-1)
    private var cids = new Array[Int](math.min(k, 16))
    private var sums = new Array[Double](cids.length * d)
    private var counts = new Array[Long](cids.length * d)
    private var n = 0

    /** Adds elements [off, off + d) of the row (v read by rowOf, vec for
      * its null mask) to cluster c. */
    def add(c: Int, v: Array[Double], vec: ArrayData, off: Int): Unit = {
      var slot = slotOf(c)
      if (slot < 0) {
        if (n == cids.length) {
          val cap = 2 * n
          cids = java.util.Arrays.copyOf(cids, cap)
          sums = java.util.Arrays.copyOf(sums, cap * d)
          counts = java.util.Arrays.copyOf(counts, cap * d)
        }
        slot = n; slotOf(c) = n; cids(n) = c; n += 1
      }
      val b = slot * d
      var j = 0
      while (j < d) {
        if (!vec.isNullAt(off + j)) { sums(b + j) += v(off + j); counts(b + j) += 1 }
        j += 1
      }
    }

    def partial: Partial = Partial(java.util.Arrays.copyOf(cids, n),
      java.util.Arrays.copyOf(sums, n * d), java.util.Arrays.copyOf(counts, n * d))
  }

  /** The next centroids of one sub-space: the partials added in partition
    * order, each cell sum / count, a cell without a count kept. */
  private def merged(prev: Array[Array[Float]], parts: Array[Partial],
      d: Int): Array[Array[Float]] = {
    val k = prev.length
    val sums = new Array[Double](k * d)
    val counts = new Array[Long](k * d)
    parts.foreach { p =>
      var i = 0
      while (i < p.cids.length) {
        val b = p.cids(i) * d
        var j = 0
        while (j < d) {
          sums(b + j) += p.sums(i * d + j); counts(b + j) += p.counts(i * d + j)
          j += 1
        }
        i += 1
      }
    }
    Array.tabulate(k) { c =>
      val next = prev(c).clone()
      var j = 0
      while (j < d) {
        val x = c * d + j
        if (counts(x) > 0) next(j) = (sums(x) / counts(x)).toFloat
        j += 1
      }
      next
    }
  }
}
