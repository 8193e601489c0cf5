package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The ONE registry of per-session artifacts — the write-once/read-many
  * builds a session reuses across queries: lazy table loads, persisted
  * pipeline frames (MinHash signatures, LSH candidates, CC labels, rank
  * tables, replayed streams), trained models (IVF, PQ, DSIR, NB, reopened
  * index models) and on-disk trees (full-text and ANN indexes, written
  * segments, sink tables).
  *
  * Entries are keyed by the session OBJECT (reference equality) plus
  * `(kind, key)`, so a new session is never served a dead session's frame.
  *
  * One lifecycle rule: the registry holds the entries of ONE owner session.
  * When a different session first calls it, every entry of the previous
  * owner is released — a frame persisted by its build is unpersisted, a
  * directory is deleted at once if its owner's context has stopped (a live
  * owner may still have lazy scans over it, so its tree is left to the one
  * JVM-exit hook), and models are dropped. Every build runs under the
  * registry's lock, so a failed build leaves no entry and a key is built
  * once; a build must therefore not wait on another thread that calls the
  * registry. */
object SessionArtifacts {

  /** Per-kind accounting: builds, hits, and the builds' own wall ms (a nested
    * build's time is billed to its own kind only). A persisted frame's build
    * is its construction — its compute lands in the first action reading it. */
  final case class Stats(builds: Long, hits: Long, buildMs: Double)

  private final case class Dir(path: String)
  private final case class Entry(stamp: Any, value: Any, persisted: Boolean)

  private var owner: SparkSession = _
  private var seq = 0L
  private val entries = mutable.HashMap.empty[(String, String), Entry]
  private val stats = mutable.TreeMap.empty[String, Stats]
  private var nestedNs = 0L
  private val exitDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitDirs.forEach { root =>
        try {
          val d = java.nio.file.Paths.get(root)
          if (java.nio.file.Files.exists(d))
            java.nio.file.Files.walk(d)
              .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => { try java.nio.file.Files.delete(p) catch { case _: Throwable => () } })
        } catch { case _: Throwable => () }
      }))

  /** The artifact `(kind, key)` of `spark`, built on first use. A `stamp`
    * different from the stored one (a freshness validator) rebuilds and
    * replaces the entry, so one entry remains per key. */
  def get[V](spark: SparkSession, kind: String, key: String, stamp: Any = ())(
      build: => V): V = synchronized {
    claim(spark)
    entries.get((kind, key)) match {
      case Some(e) if e.stamp == stamp =>
        record(kind, Stats(0, 1, 0))
        e.value.asInstanceOf[V]
      case old =>
        old.foreach(release(spark, spark, _))
        entries.remove((kind, key))
        val outer = nestedNs
        nestedNs = 0L
        val t0 = System.nanoTime()
        try {
          val v = build
          record(kind, Stats(1, 0, (System.nanoTime() - t0 - nestedNs) / 1e6))
          val persisted = v match {
            case ds: Dataset[_] => ds.storageLevel != StorageLevel.NONE
            case _ => false
          }
          entries((kind, key)) = Entry(stamp, v, persisted)
          v
        } finally nestedNs = outer + (System.nanoTime() - t0)
    }
  }

  /** A directory artifact: `/tmp/graft_<kind>/<session seq>_<sanitised key>`,
    * deleted before `build` writes it and released by the lifecycle rule.
    * The session seq is `<pid>.<n>`, a fresh n per owner, so a session never
    * rebuilds over a tree another session (or process) may still scan. */
  def dir(spark: SparkSession, kind: String, key: String)(
      build: String => Unit): String =
    get(spark, kind, key) {
      val pid = ProcessHandle.current().pid()
      val path = s"/tmp/graft_$kind/$pid.${seq}_${key.replaceAll("[^A-Za-z0-9.]", "_")}"
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      exitHook
      exitDirs.add(path)
      build(path)
      Dir(path)
    }.path

  /** Per-kind builds, hits and build ms since process start. */
  def ledger: Seq[(String, Stats)] = synchronized(stats.toSeq)

  private def record(kind: String, d: Stats): Unit = {
    val s = stats.getOrElse(kind, Stats(0, 0, 0))
    stats(kind) = Stats(s.builds + d.builds, s.hits + d.hits, s.buildMs + d.buildMs)
  }

  private def claim(spark: SparkSession): Unit =
    if (owner ne spark) {
      entries.values.foreach(release(spark, owner, _))
      entries.clear()
      owner = spark
      seq += 1
    }

  private def release(caller: SparkSession, entryOwner: SparkSession,
      e: Entry): Unit = e.value match {
    case ds: Dataset[_] if e.persisted =>
      try ds.unpersist(blocking = false) catch { case _: Throwable => () }
    case Dir(path) =>
      val ownerStopped =
        try entryOwner.sparkContext.isStopped catch { case _: Throwable => true }
      if (ownerStopped)
        try {
          val p = new Path(path)
          p.getFileSystem(caller.sparkContext.hadoopConfiguration).delete(p, true)
          exitDirs.remove(path)
        } catch { case _: Throwable => () }
    case _ => ()
  }
}
