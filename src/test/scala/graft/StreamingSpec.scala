package graft

import org.apache.spark.sql.functions._

import graft.sources.Pages
import graft.streaming.StreamingTiles

/** Streaming ingest parity: driving the batch corpus through the streaming
  * path must reproduce the batch spatial-join rows exactly. */
class StreamingSpec extends SparkTestBase {

  test("foreachBatch streaming matches == batch matches") {
    val base = java.nio.file.Files.createTempDirectory("graftstream").toString
    val src = s"$base/src"
    val out = s"$base/out"
    val pages = Pages.synthesize(spark, 1200, 6)
    pages.write.parquet(src)

    val stream = spark.readStream
      .schema(pages.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(src)
    val q = StreamingTiles.matchesSink(spark, stream, out)
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination(120000)

    val got = spark.read.parquet(out).select("url", "region_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = Pipeline.matches(spark, pages).select("url", "region_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("streaming coverage == batch coverage (single batch); additive across batches") {
    val base = java.nio.file.Files.createTempDirectory("graftcovstream").toString
    val pages = Pages.synthesize(spark, 1200, 6)
    pages.write.parquet(s"$base/src")
    // single-batch run: exact row parity with the batch flagship
    val one = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", "100").parquet(s"$base/src")
    StreamingTiles.coverageSink(spark, one, s"$base/out1", z = 7)
      .option("checkpointLocation", s"$base/ckpt1").start()
      .awaitTermination(120000)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("tile_x", "tile_y", "pages", "tok_sum", "matched").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = rows(Pipeline.coverageStats(spark, pages, z = 7))
    assert(batch.nonEmpty && rows(spark.read.parquet(s"$base/out1")) == batch)
    // multi-batch run: per-batch snapshots roll up to the batch totals
    // (counts and sums are additive; `matched` is additive because a url
    // appears in exactly one micro-batch)
    val many = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$base/src")
    StreamingTiles.coverageSink(spark, many, s"$base/out2", z = 7)
      .option("checkpointLocation", s"$base/ckpt2").start()
      .awaitTermination(120000)
    val out2 = spark.read.parquet(s"$base/out2")
    assert(out2.select("batch_id").distinct().count() > 1)
    val rolled = out2.groupBy("tile_x", "tile_y")
      .agg(sum("pages").as("pages"), sum("tok_sum").as("tok_sum"),
        sum("matched").as("matched"))
      .select("tile_x", "tile_y", "pages", "tok_sum", "matched").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(rolled == batch)
    // the crawl cycle: the previous sink's snapshots ARE the tile-stats
    // relation for pre-declared hot-cell salting — a third run salted
    // from out1's coverage must roll up to the same totals
    import graft.operators.SpatialJoin
    val hotT = SpatialJoin.hotTilesFromStats(
      spark.read.parquet(s"$base/out1"), 7, hotThreshold = 10)
    assert(hotT.nonEmpty)
    StreamingTiles.coverageSink(spark, many, s"$base/out3", z = 7,
        joinMode = SpatialJoin.Salted(4, Some(SpatialJoin.HotTiles(hotT, 7))))
      .option("checkpointLocation", s"$base/ckpt3").start()
      .awaitTermination(120000)
    val rolled3 = spark.read.parquet(s"$base/out3")
      .groupBy("tile_x", "tile_y")
      .agg(sum("pages").as("pages"), sum("tok_sum").as("tok_sum"),
        sum("matched").as("matched"))
      .select("tile_x", "tile_y", "pages", "tok_sum", "matched").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(rolled3 == batch)
  }

  test("streaming incremental dedup == batch keepNovel against the same reference") {
    import graft.operators.Dedup
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graftnovel").toString
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val ref = Seq((1L, shared),
      (2L, "reference only content that the crawl never repeats at all"))
      .toDF("doc_id", "text")
    val refBanded = Dedup.minhashBanded(ref, "doc_id", "text",
      w = 3, numHashes = 4, rowsPerBand = 2)
    // the "crawl": one ref dup + three novel docs, split across several
    // files so the stream sees multiple micro-batches
    val crawl = Seq(
      (10L, shared),
      (11L, "first genuinely novel crawl document with fresh words"),
      (12L, "second novel document nothing like the kept corpus"),
      (13L, "third novel entry arriving in a later micro batch entirely"))
      .toDF("doc_id", "text")
    crawl.repartition(4).write.parquet(s"$base/src")
    val stream = spark.readStream.schema(crawl.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = StreamingTiles.novelSink(refBanded, stream, s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$base/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = Dedup.keepNovel(crawl, "doc_id",
        Dedup.incrementalPairsFromBanded(
          Dedup.minhashBanded(crawl, "doc_id", "text", 3, 4, 2),
          refBanded, "doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got == Set(11L, 12L, 13L))
  }

  test("streaming dedup == batch dedup (first content-hash occurrence wins)") {
    val base = java.nio.file.Files.createTempDirectory("graftstream3").toString
    // duplicate every third page's html under a different url
    val pages = Pages.synthesize(spark, 600, 3)
    val dups = pages.where(col("url").endsWith("0"))
      .withColumn("url", concat(lit("https://mirror.example/"), col("url")))
    pages.unionByName(dups).write.parquet(s"$base/src")
    val stream = spark.readStream.schema(pages.schema).parquet(s"$base/src")
    val q = StreamingTiles.dedupStream(stream).writeStream
      .outputMode("append").format("memory").queryName("dedup")
      .option("checkpointLocation", s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT count(*), count(DISTINCT html_md5) FROM dedup")
      .collect()(0)
    val batchDistinct = spark.read.parquet(s"$base/src")
      .select(md5(col("html"))).distinct().count()
    assert(got.getLong(0) == batchDistinct) // one survivor per content hash
    assert(got.getLong(1) == batchDistinct)
  }

  test("mapGroupsWithState checksums: streaming state == batch aggregation") {
    val base = java.nio.file.Files.createTempDirectory("graftstream4").toString
    val pages = Pages.synthesize(spark, 900, 5)
      .select((xxhash64(col("url")) % 37).as("key"),
        xxhash64(col("html")).as("h"))
    pages.write.parquet(s"$base/src")
    val stream = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", "1") // force several micro-batches
      .parquet(s"$base/src")
    val q = graft.streaming.StreamingState.checksums(stream)
      .writeStream.outputMode(graft.streaming.StreamingState.outputMode)
      .format("memory").queryName("cks")
      .option("checkpointLocation", s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()
    // Update mode emits per-batch rows; the LAST row per key is the final
    // state — compare it to the one-shot batch aggregation
    val got = spark.sql(
      """SELECT key, n, xor FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY n DESC) rn
        |  FROM cks) WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = graft.streaming.StreamingState.checksumsBatch(
      spark.read.parquet(s"$base/src"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("flatMapGroupsWithState sessionization == batch window sessionization") {
    import org.apache.spark.sql.expressions.Window
    val base = java.nio.file.Files.createTempDirectory("graftstream5").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("user_id", "event_id", "ts")
    // time-ordered replay in two strictly ordered arrivals: all events
    // before the median ts land first, the rest arrive as a later batch
    val cut = events.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.5)")
      .collect()(0).getDouble(0).toLong
    val early = events.where(unix_micros(col("ts").cast("timestamp")) <= cut)
    val late = events.where(unix_micros(col("ts").cast("timestamp")) > cut)
    early.coalesce(1).write.parquet(s"$base/src")
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/src")
    val q = graft.streaming.StreamingState.sessionize(stream, gapUs = 1800000000L)
      .writeStream.outputMode("append").format("memory").queryName("sess")
      .option("checkpointLocation", s"$base/ckpt").start()
    q.processAllAvailable()
    late.coalesce(1).write.mode("append").parquet(s"$base/src")
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT userId, eventId, sessionId FROM sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch reference: the q_d4_sessionize window logic (sessions 1-based
    // there too: first event breaks)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val expected = events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("prev").cast("timestamp")) > 1800000000L, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"),
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("sid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("windowed tile stats run on a stream (memory sink)") {
    val base = java.nio.file.Files.createTempDirectory("graftstream2").toString
    val pages = Pages.synthesize(spark, 800, 4)
    pages.write.parquet(s"$base/src")
    val stream = spark.readStream.schema(pages.schema).parquet(s"$base/src")
    val agg = StreamingTiles.windowedTileStats(spark, stream, z = 7)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tiles")
      .option("checkpointLocation", s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()
    val n = spark.sql("SELECT count(*) FROM tiles").collect()(0).getLong(0)
    assert(n > 0)
    // streaming tile counts match the batch tile aggregation totals
    val streamTotal = spark.sql("SELECT sum(n) FROM tiles").collect()(0).getLong(0)
    val batchTotal = Pipeline.tileStats(spark, pages, z = 7)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(streamTotal == batchTotal)
  }
}
