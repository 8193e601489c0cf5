package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("prepareIngest enforces mandatory _ts and synthesizes _dedup") {
    val noTs = Seq((1, "a")).toDF("id", "s")
    assertThrows[IllegalArgumentException](Tables.prepareIngest(noTs))
    val ok = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
      .toDF("_ts", "s")
    val prepared = Tables.prepareIngest(ok)
    assert(prepared.columns.contains("_dedup"))
    assert(prepared.schema("_dedup").dataType == IntegerType)
  }

  test("appendSegment + compact dedups on (_ts, _dedup) like segment merge") {
    val dir = Files.createTempDirectory("graft_seg").toString
    val out = Files.createTempDirectory("graft_compact").toString
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "a"),
      (java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 2, "b")
    ).toDF("_ts", "_dedup", "payload")
    Tables.appendSegment(batch, dir) // first segment
    Tables.appendSegment(batch, dir) // client resubmission (dup segment)
    val raw = spark.read.parquet(dir)
    assert(raw.count() == 4)
    assert(raw.columns.contains("ts_bucket")) // time-partitioned layout
    Tables.compact(spark, dir, out)
    val compacted = spark.read.parquet(out)
    assert(compacted.count() == 2)
  }

  test("compact counts source buckets on the path's own filesystem, not the default one") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("graft_seg_fs").toUri.toString // file:/...
    val out = Files.createTempDirectory("graft_compact_fs").toUri.toString
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "a"),
      (java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 2, "b"),
      (java.sql.Timestamp.valueOf("2024-01-03 12:00:00"), 3, "c")
    ).toDF("_ts", "_dedup", "payload")
    Tables.appendSegment(batch, dir)
    Tables.appendSegment(batch, dir)
    // 3 buckets under a 4-core session: the write must run min(3, 4) tasks,
    // where a failed bucket listing would fall back to all 4
    val sc = spark.sparkContext
    assert(sc.defaultParallelism > 3)
    // result-stage task count of every job in the compact group; a later
    // "fence" job's start proves all of compact's events were delivered
    val resultTasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("compact-fs") =>
            resultTasks.add(j.stageInfos.maxBy(_.stageId).numTasks)
          case Some("compact-fs-fence") => fenced.countDown()
          case _ =>
        }
    }
    val conf = sc.hadoopConfiguration
    val oldDefault = conf.get("fs.defaultFS")
    sc.addSparkListener(listener)
    try {
      conf.set("fs.defaultFS", "nosuchfs:///")
      sc.setJobGroup("compact-fs", "compact under a foreign default filesystem")
      try Tables.compact(spark, dir, out)
      finally {
        sc.clearJobGroup()
        if (oldDefault == null) conf.unset("fs.defaultFS")
        else conf.set("fs.defaultFS", oldDefault)
      }
      sc.setJobGroup("compact-fs-fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(spark.read.parquet(out).count() == 3)
    val tasks = resultTasks.toArray.toSeq
    assert(tasks.nonEmpty, "no compact job observed")
    assert(tasks.last == 3, s"write ran ${tasks.last} tasks, jobs: $tasks")
  }

  test("dedupRows keeps deterministic representative") {
    val df = Seq((1, "b"), (1, "a"), (2, "z")).toDF("k", "v")
    val kept = Tables.dedupRows(df, Seq("k")).orderBy("k")
      .as[(Int, String)].collect().toSeq
    assert(kept == Seq((1, "a"), (2, "z")))
  }

  test("loadMerged widens conflicting column types across segments") {
    val d1 = Files.createTempDirectory("seg1").toString
    val d2 = Files.createTempDirectory("seg2").toString
    Seq((1, 10)).toDF("id", "x").write.mode("overwrite").parquet(d1) // x: int
    Seq((2L, 2.5, "extra")).toDF("id", "x", "note")
      .write.mode("overwrite").parquet(d2) // id: long, x: double, new column
    val merged = Tables.loadMerged(spark, Seq(d1, d2))
    assert(merged.schema("id").dataType == LongType)
    assert(merged.schema("x").dataType == DoubleType)
    assert(merged.count() == 2)
    // missing column null-filled
    assert(merged.filter(col("note").isNull).count() == 1)
  }

  test("widen falls back to string for incompatible types") {
    assert(Tables.widen(IntegerType, StringType) == StringType)
    assert(Tables.widen(TimestampType, DoubleType) == StringType)
    assert(Tables.widen(IntegerType, LongType) == LongType)
  }

  test("appendSegment blooms let an equality probe skip row groups") {
    // The public stand-in for the reference's IndexType::FullText slot
    // (segment_metadata.proto:40): per-column parquet bloom filters written by
    // appendSegment. A term probe for a value that is ABSENT but inside the
    // column's min/max range can only be skipped by the bloom — stats and
    // dictionary filtering are explicitly disabled below, so any row-group
    // elimination observed is the bloom read path at work.
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.ParquetReadOptions
    import scala.jdk.CollectionConverters._

    val dir = Files.createTempDirectory("bloomseg").toString
    val batch = Tables.load(spark, sf, "events")
      .select(col("ts").as("_ts"), col("event_id").cast("int").as("_dedup"),
        // high-cardinality term column: min/max stats span the probe value
        concat(lit("tag_"), lpad(col("event_id").cast("string"), 8, "0")).as("tag"))
    Tables.appendSegment(batch, dir, bloomCols = Seq("tag"))

    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty, "segment produced no parquet files")
    // absent-but-in-range probe: sorts between tag_00000000 and tag_99999999
    val probe = FilterApi.eq(FilterApi.binaryColumn("tag"),
      Binary.fromString("tag_5_not_a_real_event"))
    def rowGroups(f: java.io.File, filtered: Boolean): Int = {
      val b = ParquetReadOptions.builder()
      val opts = (if (filtered)
        b.withRecordFilter(FilterCompat.get(probe))
          .useStatsFilter(false).useDictionaryFilter(false)
          .useColumnIndexFilter(false).useBloomFilter(true)
      else b).build()
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf), opts)
      try r.getRowGroups.asScala.size finally r.close()
    }
    val total = files.map(rowGroups(_, filtered = false)).sum
    val surviving = files.map(rowGroups(_, filtered = true)).sum
    assert(total > 0)
    assert(surviving == 0,
      s"bloom probe for an absent term should skip all $total row groups, kept $surviving")
  }

  test("shardByHash routes each key to exactly one shard, co-located per partition") {
    val df = (0 until 1000).map(i => (i.toLong % 97, i)).toDF("key", "v")
    val sharded = Tables.shardByHash(df, "key", 8)
    // deterministic: a key always lands on the same shard
    val perKey = sharded.groupBy("key")
      .agg(countDistinct(col("_shard")).as("nsh"))
      .agg(max("nsh")).as[Long].head()
    assert(perKey == 1L)
    // every shard's rows are co-located: a shard never spans partitions
    assert(sharded.rdd.getNumPartitions == 8)
    val spans = sharded
      .withColumn("pid", spark_partition_id())
      .groupBy("_shard").agg(countDistinct(col("pid")).as("np"))
      .agg(max("np")).as[Long].head()
    assert(spans == 1L)
    // all 8 shards used and reasonably balanced over 97 keys
    val sizes = sharded.groupBy("_shard").count().as[(Long, Long)].collect().toMap
    assert(sizes.keySet == (0L until 8L).toSet, s"shards used: ${sizes.keySet}")
  }
}
