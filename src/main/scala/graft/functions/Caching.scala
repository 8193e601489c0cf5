package graft.functions

import org.apache.spark.sql.DataFrame

/** The ONE materialization barrier for per-invocation intermediates.
  *
  * Why not a bare `Dataset.persist`: a Dataset-level persist registers the
  * plan in the session's CacheManager, which holds a STRONG reference until
  * an explicit `unpersist()` or session end — ContextCleaner never reaps
  * Dataset-level cache entries (it only unpersists RDD-level caches whose
  * RDD object is garbage-collected). A library function or query builder
  * that persists an intermediate it cannot later unpersist (the consuming
  * action happens after it returns) therefore leaks one cached copy per
  * DISTINCT materialized plan for the life of the process (identical
  * re-invocations dedupe inside CacheManager; evolving plans accumulate).
  *
  * [[materialize]] keeps the persist — an InMemoryRelation is a hard
  * materialization barrier (defeats CollapseProject re-inlining), its
  * columnar batches scan faster than row blocks, and CacheManager's
  * plan-level dedupe means a re-invoked query reuses the cache instead of
  * recomputing (measured: reverting this site class to eager
  * localCheckpoint cost ~4% of the whole bench — q_lm_bigram_score alone
  * 1.2 → 3.4 s) — and BOUNDS the lifecycle with a FIFO registry: at most
  * [[maxEntries]] barrier frames stay cached per process, oldest-first
  * eviction. Because CacheManager dedupes by PLAN, a re-materialized
  * identical plan does NOT get a second cache — so the registry dedupes
  * the same way (the old entry moves to the tail instead of staying where
  * FIFO eviction would unpersist the one shared cache out from under the
  * newer entry). Entries of STOPPED sessions are dropped eagerly; live
  * sessions coexist inside the cap (no cross-eviction — two alternating
  * live sessions must not thrash each other's barriers).
  *
  * Failure note: cached blocks are recomputable from lineage (unlike a
  * localCheckpoint), so executor loss degrades to recompute, never failure.
  * Cached frames with an OWNED per-artifact lifecycle (the per-session
  * frames of [[graft.SessionArtifacts]]) manage their own persists and
  * bypass this registry — by OBJECT, not by plan: CacheManager dedupes
  * cache entries by plan, so if an owned persist's plan `sameResult`s a
  * registry entry they share one cache entry, and registry eviction can
  * drop it out from under the owner. That failure mode is
  * degrade-to-recompute only (the owner's Dataset stays marked persistent
  * and re-caches on next materialization); correctness is never affected.
  */
object Caching {
  private val maxEntries = 128
  private val entries = scala.collection.mutable.Queue.empty[DataFrame]

  private def drop(df: DataFrame): Unit =
    try df.unpersist(blocking = false) catch { case _: Throwable => () }

  private def samePlan(a: DataFrame, b: DataFrame): Boolean =
    try a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
    catch { case _: Throwable => false }

  /** `spread = true` widens a THIN frame before the persist: a barrier
    * inherits its source's partitioning, and a scan-rooted barrier over a
    * single input split holds ONE cached partition — every downstream
    * consumer then runs single-task (measured: q_simhash_pairs'
    * chunk-explode + self-join leg 0.58 s on one core with 31 idle; the
    * same shape at 100 TB is a thin coalesced intermediate starving a
    * wide cluster). Round-robin is deterministic under retries
    * (sort-before-repartition); callers opting in are relational
    * consumers (joins/aggs) or re-sort explicitly, so row order is free.
    * OPT-IN because it is wrong for small/cheap barriers: spreading a
    * model-sized frame (per-bucket counts, waterfill seeds) turns every
    * downstream 1-task job into a #cores-task job and measured as a
    * regression (q_dsir_weights 0.40 → 1.29 s under a blanket spread).
    * Post-shuffle barriers are already wide and pass through either way. */
  /** Bench pass hygiene (r18 verdict item 3): unpersist and drop every
    * registry barrier owned by `spark`, so the next bench pass recomputes
    * per-invocation intermediates COLD — min-of-N samples must not time
    * pass-2/3 warm reads of a barrier pass 1 computed. Safe because every
    * registry entry is re-persisted by its query's next construction
    * (materialize() runs per invocation); the per-session artifacts of
    * [[graft.SessionArtifacts]] (sig tables, CC labels, rank tables — they
    * serve many queries per session and re-persist only through that
    * registry) are deliberately untouched: dropping those would leave
    * their frames permanently uncached and mis-price every serve-path row. */
  def clearSession(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    entries.dequeueAll(_.sparkSession eq spark).foreach(drop)
  }

  /** [[materialize]] with the spread decision derived from the PLAN ROOT:
    * a binding whose root (looking through Project, Filter and
    * SubqueryAlias) aggregates or limits is bounded by its group
    * cardinality — model-sized — and spreading it only adds an exchange
    * plus #cores-task jobs over a handful of rows (measured:
    * q_kql_materialize 0.19 → 0.23 s under the unconditional spread;
    * q_dsir_weights 0.40 → 1.29 s under the blanket form). Any other
    * root is data-sized — a scan, or a join whose one side happens to be
    * a small aggregate: it inherits its source's split count, and a thin
    * source starves every consumer (the q_kql_spatial_join 3M-pair
    * haversine stage measured single-task) — those spread. */
  def materializeAuto(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @scala.annotation.tailrec
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: GlobalLimit => true
      case Project(_, c) => bounded(c)
      case Filter(_, c) => bounded(c)
      case SubqueryAlias(_, c) => bounded(c)
      case _ => false
    }
    val isBounded =
      try bounded(df.queryExecution.analyzed) catch { case _: Throwable => false }
    materialize(df, spread = !isBounded)
  }

  /** Widen a THIN frame BEFORE an expensive downstream projection: the
    * [[materialize]] `spread` flag widens the barrier's OUTPUT, but a heavy
    * map-side expression (shingle/bigram explode, simhash fold) sits BELOW
    * that exchange and still runs on the scan's split count — one task on a
    * single-split source (JobProbe cold: the ngram-containment shingle pass
    * 4.9 s + 3.5 s single-task with 31 idle cores). Callers repartition the
    * NARROW source columns first, then project; wide inputs (the 100 TB
    * case) pass through untouched. Round-robin is deterministic under
    * retries (sort-before-repartition). */
  def spreadThin(df: DataFrame): DataFrame = spreadTarget(df).fold(df)(p => df.repartition(p))

  /** The one "is this frame thin" decision behind [[spreadThin]], the
    * `spread` flag of [[materialize]] and KMeans's spread: the session's
    * default parallelism when the frame's plan yields fewer partitions
    * than that, else None. The count is read from the plan's own RDD:
    * `df.rdd` would plan the query a second time under a row deserializer
    * (55–108 ms a call against 33–46 ms). */
  private[graft] def spreadTarget(df: DataFrame): Option[Int] = {
    val par = try df.sparkSession.sparkContext.defaultParallelism
      catch { case _: Throwable => 0 }
    if (!df.isStreaming && par > 0 &&
        (try df.queryExecution.toRdd.getNumPartitions < par
        catch { case _: Throwable => false })) Some(par)
    else None
  }

  def materialize(df: DataFrame, spread: Boolean = false): DataFrame = {
    val wide = if (spread) spreadThin(df) else df
    val p = wide.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    synchronized {
      // dead sessions' entries can never be read again — drop them first
      // (their unpersist is a no-op on a stopped context, caught by drop)
      entries.dequeueAll(e =>
        try e.sparkSession.sparkContext.isStopped
        catch { case _: Throwable => true }).foreach(drop)
      // plan-level dedupe, mirroring CacheManager: a re-materialized
      // identical plan shares ONE cache entry — re-enqueue at the tail
      // rather than leaving a stale head entry whose eviction would
      // unpersist the shared cache while a newer entry still covers it
      entries.dequeueAll(e => (e.sparkSession eq p.sparkSession) && samePlan(e, p))
      entries.enqueue(p)
      while (entries.size > maxEntries) drop(entries.dequeue())
    }
    p
  }
}
