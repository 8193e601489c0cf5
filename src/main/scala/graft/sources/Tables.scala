package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table sources + meerkat ingest semantics on Spark/Parquet.
  *
  * The reference's storage engine (segments, block encodings, block IO —
  * `/root/reference/src/store/`) is replaced wholesale by Parquet + Spark's vectorized
  * reader; what we reproduce is its *table semantics*: mandatory `_ts` timestamp and
  * `_dedup` dedup key (`README.md:15`), append-only time-partitioned segments with
  * merge-time dedup (`README.md:22,27`), and the merge-of-segment-schemas effective
  * schema incl. backward-incompatible type evolution (`README.md:14`).
  */
object Tables {

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one test table from a scale-factor directory.
    *
    * Parquet TIMESTAMP(NANOS) columns (the `events.ts` fixture; the reference's
    * `Datetime` is 100ns-tick Kusto time, so sub-µs sources are expected) are not
    * directly readable by Spark — we read them as nanos-since-epoch longs
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to µs timestamps, matching
    * DuckDB's ns→µs truncation so oracle comparisons agree. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Memoized per (session, dir, table): `spark.read.parquet` re-lists the
    // path and re-reads the footer for schema inference on EVERY call
    // (measured 64–105 ms per call on the fixture tables), and a suite run
    // constructs thousands of table references. A real engine resolves a
    // table's schema from its catalog once — the memo caches only the LAZY
    // analyzed plan (schema + file index metadata, the temp-view posture);
    // every action still scans the parquet files. Source dirs are
    // read-only fixture tables by contract (mutated scratch dirs go
    // through spark.read directly). Entries of stopped sessions are
    // dropped on access, the session-cache convention.
    loadCache.filterInPlace { case (_, (owner, _)) =>
      try !owner.sparkContext.isStopped catch { case _: Throwable => false }
    }
    loadCache.getOrElseUpdate(
      (System.identityHashCode(spark), sfDir, name),
      (spark, buildLoad(spark, sfDir, name)))._2
  }

  private val loadCache =
    scala.collection.concurrent.TrieMap
      .empty[(Int, String, String), (SparkSession, DataFrame)]

  private def buildLoad(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // nanosAsLong surfaces ns-timestamps as LongType; normalize the canonical `ts`
    // ingest column back to a µs timestamp (truncating, like DuckDB's ns→µs read).
    if (df.columns.contains("ts") && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    // µs-precision fixtures carry no UTC flag and surface as TIMESTAMP_NTZ;
    // normalize to the session-zone (UTC) instant type so downstream epoch
    // arithmetic (`cast(ts as long)`, legal only on TIMESTAMP) keeps working
    // and the wall-clock values match DuckDB's naive read.
    else if (df.columns.contains("ts") && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Register all tables as temp views (enables the spark.sql surface). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Table resolver with meerkat's database namespace (tables live in *named
    * databases* — `/root/reference/README.md:13`; segment metadata carries
    * `database_name`, `src/store/segment_metadata.proto:73-82`). A database is
    * a directory of parquet tables, addressed from KQL as
    * `database("db").Table` (the parser hands over the conventional qualified
    * name `db::Table`). Unqualified names resolve against `sfDir`, the
    * default database. In the fixture harness registered databases may share
    * the default path (logical namespaces over one store); at scale each maps
    * to its own storage root. Unknown databases fail loudly. */
  def resolver(spark: SparkSession, sfDir: String,
      databases: Map[String, String] = Map.empty): String => DataFrame = name =>
    name.split("::", 2) match {
      case Array(db, t) => load(spark, databases.getOrElse(db,
        throw new IllegalArgumentException(s"unknown database '$db' " +
          s"(registered: ${databases.keys.toSeq.sorted.mkString(", ")})")), t)
      case _ => load(spark, sfDir, name)
    }

  // ------------------------------------------------------------------
  // Ingest contract (README.md:15): mandatory _ts + _dedup.
  // ------------------------------------------------------------------

  /** Validate/augment a batch for ingestion: `_ts` must exist and be a timestamp;
    * `_dedup` (Int32 in the reference) is synthesized from a row hash if absent. */
  def prepareIngest(df: DataFrame, tsCol: String = "_ts",
                    dedupCol: String = "_dedup"): DataFrame = {
    require(df.columns.contains(tsCol), s"ingest requires mandatory timestamp column '$tsCol'")
    val tsType = df.schema(tsCol).dataType
    require(tsType == TimestampType || tsType == TimestampNTZType,
      s"'$tsCol' must be a timestamp, got $tsType")
    if (df.columns.contains(dedupCol)) df
    else df.withColumn(dedupCol, hash(df.columns.toIndexedSeq.map(col): _*))
  }

  /** Append a batch as a time-partitioned segment (day buckets ≈ meerkat's
    * druid-style time partitioning, README.md:27). Partition pruning on `ts_bucket`
    * is what keeps 100 TB scans bounded to the queried time range.
    *
    * Within each partition rows are sorted by the timestamp, so parquet row-group
    * min/max stats give BRIN-like block skipping on time predicates (the public
    * equivalent of the reference's `IndexType::Brin`, segment_metadata.proto:41).
    * Parquet bloom filters on the requested columns serve `has`/equality term
    * lookups — the cheap public stand-in for the reserved `IndexType::FullText`
    * slot (segment_metadata.proto:40). */
  /** Expected distinct values for segment bloom filters. parquet-mr sizes
    * an un-hinted bloom at `parquet.bloom.filter.max.bytes` (1 MiB) and
    * only shrinks it at file close — every (file, column) pays a 1 MiB
    * candidate-bits allocation, which at one file per day bucket dominated
    * the whole append job (measured: the 30-bucket fixture append spends
    * ~0.5 s/write, mostly writer open/close). Term-lookup columns here are
    * low-cardinality by declaration (event types, tags); 100k NDV at 1%
    * fpp is ~120 KiB — still generous, 8× cheaper to allocate. Callers
    * with genuinely high-NDV bloom columns can raise it per append. */
  def appendSegment(df: DataFrame, path: String, tsCol: String = "_ts",
                    bloomCols: Seq[String] = Nil,
                    bloomExpectedNdv: Long = 100000L): Unit = {
    val writer = prepareIngest(df, tsCol)
      .withColumn("ts_bucket", date_format(col(tsCol), "yyyy-MM-dd"))
      // cluster by the partition column BEFORE the partitionBy write: without
      // it every input partition opens a writer per bucket it touches —
      // P×B files of N/(P·B) rows (the small-files explosion at scale) and,
      // for a thin batch, ONE task serially opening all B writers (measured:
      // ~0.5 s/append on the 30-bucket fixture, the whole append job). After:
      // each bucket is one task writing one file, in parallel, and the
      // per-bucket sort below makes that file fully time-sorted — strictly
      // tighter row-group min/max stats for the BRIN posture. The partition
      // count is pinned (scale-adaptively, to the cluster's core count) so
      // AQE's byte-based coalescing cannot fold a thin batch back into one
      // task — the writer-open cost it would serialize is invisible to it.
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("ts_bucket"))
      .sortWithinPartitions(col("ts_bucket"), col(tsCol))
      .write.mode("append")
    bloomCols.foldLeft(writer) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", bloomExpectedNdv.toString)
    }.partitionBy("ts_bucket").parquet(path)
  }

  /** Z-order (Morton) clustered write: interleave the bit representations of
    * TWO numeric columns and range-partition + sort files by the z-value, so
    * parquet row-group/file min-max stats stay tight on BOTH columns — the
    * multi-dimensional generalization of the reference's BRIN posture
    * (`segment_metadata.proto:41`): two-sided predicates on either column
    * prune files without committing to bucketing's single fixed key.
    *
    * Columns normalize to `bits`-bit grid indexes over their [min, max]
    * range (one bounded stats pass — 4 scalars to the driver, documented);
    * the interleave is a pure integer HOF fold, and the final projection
    * drops the key so the stored schema is unchanged. */
  def zorderWrite(df: DataFrame, path: String, c1: String, c2: String,
      bits: Int = 16, partitions: Int = 32): Unit = {
    require(bits >= 1 && bits <= 30, "zorder: bits in [1,30]")
    val stats = df.agg(
      min(col(c1)).cast("double").as("n1"), max(col(c1)).cast("double").as("x1"),
      min(col(c2)).cast("double").as("n2"), max(col(c2)).cast("double").as("x2"))
      .collect().head
    if (stats.anyNull) {
      // empty input or an all-null key column: no clustering is possible —
      // write as-is rather than NPE on the missing extrema
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (n1, x1, n2, x2) = (stats.getDouble(0), stats.getDouble(1),
      stats.getDouble(2), stats.getDouble(3))
    val scale = (1L << bits) - 1
    def grid(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(scale), greatest(lit(0L),
        floor((col(c).cast("double") - lo) / (hi - lo) * scale).cast("long")))
    val zi = grid(c1, n1, x1)
    val zj = grid(c2, n2, x2)
    // interleave: OR_i ((i1>>i)&1) << 2i  |  ((i2>>i)&1) << (2i+1)
    val zCol = aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, i) =>
      acc.bitwiseOR(
        call_function("shiftleft",
          call_function("shiftright", zi, i).bitwiseAND(lit(1L)), i * 2))
        .bitwiseOR(call_function("shiftleft",
          call_function("shiftright", zj, i).bitwiseAND(lit(1L)), i * 2 + 1)))
    df.withColumn("__z", zCol)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------------
  // Shard-by-hash ingest (README.md:8): the reference consistently hashes each
  // ingested row to a shard/node. On Spark the shard IS the shuffle partition.
  // ------------------------------------------------------------------

  /** Stable shard id from a key: first 15 hex digits of md5 as a non-negative
    * 60-bit integer, mod `numShards`. Deliberately NOT Spark's Murmur3 `hash()`
    * — md5 is engine-portable (any node, any engine, any restart maps a key to
    * the same shard; the DuckDB oracles reproduce it verbatim), which is what
    * "consistent" sharding means in the reference's design. */
  def shardId(key: Column, numShards: Int): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long"),
      lit(numShards.toLong))

  /** Route rows to `numShards` shards by key hash. `repartition(n, col)`
    * hash-distributes the _shard values over n shuffle partitions, so each
    * shard's rows land together (one write task per shard at scale; shards >>
    * cores still work, several shards per partition). */
  def shardByHash(df: DataFrame, key: String, numShards: Int): DataFrame =
    df.withColumn("_shard", shardId(col(key), numShards))
      .repartition(numShards, col("_shard"))

  /** Bucketed write: persist a table pre-hash-distributed (and per-file sorted)
    * on a join/agg key, so every later equi-join or aggregation on that key
    * plans with NO shuffle exchange — the co-located-join layout for dimension
    * and fact tables that are joined constantly at 100 TB. The bucket count is
    * part of the table contract (both sides of an exchange-free join must
    * agree). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").saveAsTable(table)

  /** Merge-time dedup (README.md:15,22): rewrite a table keeping one row per
    * `(_ts, _dedup)` — deterministic representative via total tie-break ordering.
    * Equivalent to meerkat's segment-merge dedup; run as a compaction job. */
  def compact(spark: SparkSession, path: String, outPath: String,
              tsCol: String = "_ts", dedupCol: String = "_dedup"): Unit = {
    val df = spark.read.parquet(path)
    // cluster by the partition column with a PINNED partition count before
    // the partitionBy write, like appendSegment: the dedup aggregate's
    // post-shuffle partitioning is neither bucket-clustered nor pinned, so
    // AQE coalesced the whole write to ONE task that opened every bucket's
    // writer serially (measured: all compacted files named part-00000; a
    // 0.45 s single-task write stage with 31 cores idle). The count is
    // bounded by the SOURCE tree's bucket count (the rewrite keeps every
    // bucket) — known driver-side from its partition directories on the
    // path's own filesystem, no data pass — so a
    // small compaction never pays defaultParallelism near-empty write
    // tasks (the c8-beats-c32 overhead signature from the r18 scaling
    // run). The per-partition sort restores appendSegment's fully
    // time-sorted files (row-group min/max BRIN posture) which the dedup
    // aggregate otherwise destroys on rewrite.
    val src = new org.apache.hadoop.fs.Path(path)
    val nBuckets =
      try src.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(src)
        .count(_.getPath.getName.startsWith("ts_bucket="))
      catch { case _: java.io.FileNotFoundException => 0 }
    val par = spark.sparkContext.defaultParallelism
    val n = if (nBuckets >= 1) math.min(nBuckets, par) else par
    dedupRows(df, Seq(tsCol, dedupCol))
      .repartition(n, col("ts_bucket"))
      .sortWithinPartitions(col("ts_bucket"), col(tsCol))
      .write.mode("overwrite").partitionBy("ts_bucket").parquet(outPath)
  }

  /** Deterministic keyed dedup: one row per key, tie-broken by the full remaining
    * row ordering (KQL `take_any` made reproducible).
    *
    * Implemented as `min(struct(rest...))` per key, NOT a row_number window:
    * struct ordering is lexicographic by field in the same (asc, nulls-first)
    * order the window's orderBy used, so the surviving row is identical — but
    * the hash aggregate combines map-side (each input partition forwards ONE
    * candidate row per key instead of every duplicate) and needs no sort. At
    * merge-dedup scale (every resubmitted batch doubles the rows) that halves
    * the shuffle and removes a full per-partition sort pass (guide §2.3
    * "aggregate before you shuffle"). */
  def dedupRows(df: DataFrame, keys: Seq[String]): DataFrame = {
    val rest = df.columns.filterNot(keys.contains).toSeq
    if (rest.isEmpty) df.dropDuplicates(keys)
    else df.groupBy(keys.map(col): _*)
      .agg(min(struct(rest.map(col): _*)).as("__r"))
      .select(df.columns.toIndexedSeq.map(c =>
        if (keys.contains(c)) col(c) else col("__r").getField(c).as(c)): _*)
  }

  // ------------------------------------------------------------------
  // Effective schema (README.md:14): merge of all segment schemas, tolerating
  // the same column having different types in different segments.
  // ------------------------------------------------------------------

  /** Read several "segments" (parquet paths) as one table under the merged effective
    * schema. Columns missing in a segment become null; columns whose types conflict
    * across segments are resolved to the widest common type, falling back to string
    * (parquet mergeSchema alone would fail the read on such conflicts). */
  def loadMerged(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val dfs = paths.map(spark.read.parquet(_))
    val merged: Map[String, DataType] = dfs.flatMap(_.schema.fields)
      .groupBy(_.name).map { case (name, fields) =>
        name -> fields.map(_.dataType).reduce(widen)
      }
    val colOrder = dfs.flatMap(_.schema.fieldNames).distinct
    dfs.map { d =>
      val cols = colOrder.map { name =>
        if (d.columns.contains(name)) col(name).cast(merged(name)).as(name)
        else lit(null).cast(merged(name)).as(name)
      }
      d.select(cols: _*)
    }.reduce(_.unionByName(_))
  }

  /** Widest common type for backward-incompatible evolution; string is the universal
    * fallback (Kusto would use `dynamic`/string too). */
  private[graft] def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (_: DecimalType, DoubleType) | (DoubleType, _: DecimalType) => DoubleType
    case (dt: DecimalType, IntegerType | LongType) => dt
    case (IntegerType | LongType, dt: DecimalType) => dt
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _ => StringType
  }
}
