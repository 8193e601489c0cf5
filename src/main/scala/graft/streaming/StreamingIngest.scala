package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming ingest semantics on Structured Streaming.
  *
  * The reference ingests events into in-memory columnar buffers flushed on
  * memory/time thresholds (`/root/reference/README.md:20-21`, buffers at
  * `src/store/indexing_buffer.rs`), dedupes rows on `(_ts, _dedup)` at segment merge
  * (`README.md:15,22`), and assumes "low dispersion of event timestamps" for
  * anti-entropy (`README.md:31`). The Spark mapping: micro-batch triggers ≈ flush
  * thresholds; `withWatermark` ≈ the low-dispersion bound (late data beyond the
  * watermark is dropped, keeping dedup/window state finite — the property that makes
  * continuous ingest viable at 100 TB/day); `dropDuplicates` on the dedup key ≈
  * merge-time dedup, with state bounded by the watermark.
  */
object StreamingIngest {

  /** Watermark-bounded streaming dedup on the (_ts, _dedup)-equivalent key columns:
    * exactly the reference's resubmission-tolerant ingest (`README.md:22`) — clients
    * may resend events; duplicates within the lateness bound are dropped, and state
    * is evicted past the watermark so it never grows unboundedly. */
  def dedupStream(events: DataFrame, tsCol: String, dedupCol: String,
                  lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicates(Seq(tsCol, dedupCol))

  /** Tumbling event-time windowed aggregation (the canonical meerkat timeseries read:
    * bin(ts, Δ) + summarize, continuously maintained). */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     window_ : String = "1 hour",
                     lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding-window rates. */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    window_ : String = "10 minutes", slide: String = "5 minutes",
                    lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Session windows per key with an inactivity gap (KQL row_window_session). */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String = "30 minutes",
                    lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Open-session state carried across micro-batches for one key (arbitrary
    * stateful processing; timestamps as epoch MICROS — `java.sql.Timestamp`
    * would truncate the fixture's µs precision to millis). */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
                                 n_events: Long)

  /** CUSTOM-STATE sessionization via `flatMapGroupsWithState` — the arbitrary
    * stateful operator the built-in `session_window` aggregation can't express
    * when per-session outputs need event-level state transitions: one
    * OpenSession per key, sessions EMITTED the moment a later event's idle gap
    * closes them, trailing open session held in state.
    *
    * State is O(1) per key (start, last, count). Events are buffered + sorted
    * per (key, micro-batch) before folding — within-batch arrival order is
    * partition order, not time order; production pipelines bound that buffer
    * with the watermark. On a bounded replay each key's LAST session never
    * closes (nothing arrives after it), which the correctness oracle accounts
    * for exactly. */
  def sessionizeWithState(events: DataFrame, keyCol: String, tsCol: String,
                          gapSeconds: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events.select(col(keyCol).cast("long").as("k"), unix_micros(col(tsCol)).as("t"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        val ts = rows.map(_._2).toArray.sorted
        val out = scala.collection.mutable.ArrayBuffer[ClosedSession]()
        var cur = state.getOption
        ts.foreach { t =>
          cur match {
            case None => cur = Some(OpenSession(t, t, 1))
            case Some(o) if t - o.lastUs <= gapUs =>
              cur = Some(o.copy(lastUs = t, n = o.n + 1))
            case Some(o) =>
              out += ClosedSession(key, o.startUs, o.lastUs, o.n)
              cur = Some(OpenSession(t, t, 1))
          }
        }
        cur.foreach(state.update)
        out.iterator
      }
  }

  /** Stream-stream INTERVAL JOIN: rows of `left` matched to rows of `right`
    * with the same key whose event time falls in [lTs, lTs + within]. Both
    * sides carry watermarks and the join condition bounds event time on each
    * side, which is exactly what lets Structured Streaming evict join state:
    * a left row older than watermark − within can never match again and is
    * dropped. State is O(rows inside the within-window per key) — bounded at
    * any scale, the streaming analogue of the batch as-of/window join. Column
    * names must be pre-disambiguated by the caller (v-prefixed / p-prefixed). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   lTs: String, rTs: String, within: String,
                   lateness: String = "10 minutes",
                   joinType: String = "inner"): DataFrame =
    left.withWatermark(lTs, lateness)
      .join(right.withWatermark(rTs, lateness),
        expr(s"$leftKey = $rightKey AND " +
          s"$rTs >= $lTs AND $rTs <= $lTs + INTERVAL $within"),
        joinType)

  /** Stream-STATIC join: continuous enrichment of a stream against a batch
    * dimension table. The static side is broadcast into every task — there is
    * NO streaming join state at all (unlike stream-stream joins), so this is
    * the way to decorate a 100 TB/day event stream with dimension attributes:
    * per-batch hash lookups, zero state store, no watermark requirement. */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Key-only streaming dedup via `dropDuplicatesWithinWatermark`: unlike
    * `dropDuplicates(ts, key)` (exact-key state forever), state for a key is
    * evicted once the watermark passes its FIRST-SEEN event time — the
    * at-least-once-ingest dedup whose state is bounded by the lateness window
    * even when the same logical key recurs forever in the stream. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, keyCols: Seq[String],
                           lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Continuous append to a time-partitioned parquet table (the streaming segment
    * write path: buffer → flush as time-bucketed files, ≈ segment_writer.rs but via
    * Parquet + exactly-once file-sink semantics). */
  def writeTimePartitioned(deduped: DataFrame, path: String, checkpoint: String,
                           tsCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deduped.withColumn("ts_bucket", date_format(col(tsCol), "yyyy-MM-dd"))
      .writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .partitionBy("ts_bucket")

  /** Open a fixture table as a BOUNDED STREAM (schema from a batch footer read; the
    * ns-timestamp normalization of Tables.load applied). With
    * `Trigger.AvailableNow()` this replays the table through the full micro-batch
    * machinery and stops — the mechanism behind the streaming correctness query. */
  def loadStream(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                 name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    // FileStreamSource streams a DIRECTORY; the fixture is one parquet file
    // (production tables are directories) — bridge via a symlinked dir.
    val dir = java.nio.file.Paths.get("/tmp/graft_stream",
      sfDir.replaceAll("[^A-Za-z0-9.]", "_"), name)
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve(s"$name.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(path))
    val schema = spark.read.parquet(path).schema
    val df = spark.readStream.schema(schema).parquet(dir.toString)
    if (df.columns.contains("ts") &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    // µs fixtures surface as TIMESTAMP_NTZ, which watermarks reject — normalize
    // to the session-zone instant type, mirroring Tables.load.
    else if (df.columns.contains("ts") &&
        df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    else df
  }

  /** Drain a bounded stream through `foreachBatch` into a batch sink fn and
    * return after the last micro-batch — the continuous-ingest bridge
    * between a stream and a batch writer (the stored-ANN-index append path:
    * each micro-batch of vectors assigns+encodes against the FROZEN models
    * and lands as new files in the cid partitions — segment ingest,
    * continuously). foreachBatch's exactly-once-within-a-run contract
    * applies: on retry a micro-batch may re-run, so the sink must be
    * idempotent or the run fronted by a dedup (the ingest tier's
    * dropDuplicates surface); partitioned-append file sinks tolerate
    * replays up to duplicate rows, which index COMPACTION + the dedup
    * surface address — the same posture as any at-least-once segment
    * ingester. */
  def drainForeach(stream: DataFrame, sink: DataFrame => Unit): Unit = {
    val q = stream.writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => sink(b.toDF()))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run a streaming aggregation over a bounded fixture stream to completion and
    * return the (static) result: real Structured Streaming execution — micro-batches,
    * state store, complete-mode memory sink — inside the batch driver contract, so
    * streaming results are oracle-checked like any other query. Memoized per
    * (session, sink name) in [[graft.SessionArtifacts]]: the stream runs once per
    * session. */
  def runBoundedAggregation(spark: org.apache.spark.sql.SparkSession, sinkName: String,
                            agg: DataFrame): DataFrame =
    runBounded(spark, sinkName, agg, "complete")

  /** Append-mode variant for non-aggregating stateful streams (dropDuplicates emits
    * first-seen rows immediately, so a bounded replay flushes everything). */
  def runBoundedDedup(spark: org.apache.spark.sql.SparkSession, sinkName: String,
                      deduped: DataFrame): DataFrame =
    runBounded(spark, sinkName, deduped, "append")

  private def runBounded(spark: org.apache.spark.sql.SparkSession, sinkName: String,
                         stream: DataFrame, mode: String): DataFrame =
    graft.SessionArtifacts.get(spark, "stream", sinkName) {
      val q = stream.writeStream.format("memory").queryName(sinkName)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sinkName).persist()
    }
}
