package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.core.{Cells, Geo, Geocode, TextExtract}
import graft.core.Polygons.PolyPart
import graft.functions.TextFunctions

/** A pages row in the engine's input_hint shape. */
final case class PageRow(url: String, warc_ts: Timestamp, html: Array[Byte],
                         text: String, lang: String)

/** Shared pieces of the workloads: input writing, kernel timings and the
  * per-layer report of a traced run. */
object Layers {

  /** Layers whose spans run Spark jobs; each reports the span counters. */
  val SparkLayers = Seq("op", "sources", "functions", "spatialjoin", "tileagg", "lineage", "knn")

  /** Every per-layer metric, in print order. A traced run prints all of
    * them; a layer its workload does not call reports 0. */
  val Names: Seq[(String, String)] = Seq(
    "op.s" -> "s", "op.jobs" -> "count",
    "sources.scan_s" -> "s", "sources.bytes_read" -> "bytes",
    "core.geocode_ns_per_page" -> "ns", "core.extract_ns_per_page" -> "ns",
    "core.cell_encode_ns" -> "ns", "core.pip_ns_per_test" -> "ns",
    "functions.geocode_extract_s" -> "s",
    "spatialjoin.cover_build_s" -> "s", "spatialjoin.assign_s" -> "s",
    "spatialjoin.shuffle_write_bytes" -> "bytes", "spatialjoin.spill_bytes" -> "bytes",
    "spatialjoin.matched_share" -> "ratio", "spatialjoin.regions_per_matched_point" -> "ratio",
    "tileagg.s" -> "s", "tileagg.shuffle_write_bytes" -> "bytes",
    "lineage.write_s" -> "s", "lineage.bytes_written" -> "bytes",
    "lineage.files_written" -> "count", "lineage.resume_processed_points" -> "count",
    "main.fresh_s" -> "s", "main.resume_s" -> "s",
    "knn.index_build_s" -> "s", "knn.jobs_per_request" -> "count",
    "knn.tasks_per_request" -> "count", "suggest.request_p50_s" -> "s",
    "coverage.staged_sum_over_e2e" -> "ratio", "crawl_run.staged_sum_over_e2e" -> "ratio",
    "suggest.staged_sum_over_e2e" -> "ratio",
    "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio",
    "jvm.retained_heap_mb" -> "MB",
  ) ++ SparkLayers.flatMap(l => Seq(s"$l.tasks" -> "count", s"$l.executor_run_s" -> "s",
    s"$l.gc_s" -> "s", s"$l.busy_share" -> "ratio"))

  /** Set-up spans: timed on their own, left out of the span counters. */
  val SetupSpans = Set("cover_build", "index_build")

  /** Per-span means of the span counters of each Spark layer, and the
    * layer's busy share: executor time / (wall x cores). */
  def spanCounters(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    tr.drain()
    for (layer <- SparkLayers; spans = tr.of(layer).filterNot(s => SetupSpans(s.name)) if spans.nonEmpty) {
      val c = new Counters
      spans.foreach(s => c += tr.self(s))
      val wall = spans.map(tr.selfSeconds).sum
      ctx.put(s"$layer.tasks", c.tasks.toDouble / spans.length, "count")
      ctx.put(s"$layer.executor_run_s", c.runMs / 1e3 / spans.length, "s")
      ctx.put(s"$layer.gc_s", c.gcMs / 1e3 / spans.length, "s")
      ctx.put(s"$layer.busy_share", c.runMs / 1e3 / (wall * ctx.cpus), "ratio")
    }
  }

  /** Order the metrics as [[Names]] and fill the ones not measured with 0. */
  def finish(ctx: Ctx): Unit = {
    ctx.put("jvm.retained_heap_mb", ctx.retainedHeapMb, "MB")
    val measured = ctx.metrics.clone()
    ctx.metrics.clear()
    for ((n, u) <- Names) ctx.metrics(n) = measured.getOrElse(n, (0.0, u))
  }

  /** Median seconds of the spans of a layer (optionally of one name). */
  def spanMedian(ctx: Ctx, layer: String, name: String = null): Double =
    Run.median(ctx.tracer.of(layer).filter(s => name == null || s.name == name).map(_.seconds))

  /** Generate a pages corpus from the seed and write it as parquet. */
  def writePages(spark: SparkSession, seed: Long, spec: Gen.PageSpec, n: Long,
                 parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map { i =>
      val p = Gen.page(seed, spec, i)
      PageRow(p.url, new Timestamp(p.warcTs * 1000L), p.html, p.text, p.lang)
    }.write.mode("overwrite").parquet(path)
  }

  /** The generator's facts per page (no html): url, lat, lon (NaN when not
    * geocoded), token count of the text, html bytes. */
  def facts(spark: SparkSession, seed: Long, spec: Gen.PageSpec, n: Long,
            parts: Int): Dataset[(String, Double, Double, Int, Long)] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map { i =>
      val p = Gen.page(seed, spec, i)
      (p.url, p.lat, p.lon, p.tokens, p.html.length.toLong)
    }
  }

  /** Engine and generator agree on a sample: extracted text, token count
    * and geocode of each page equal what the generator wrote. */
  def generatorAgrees(ctx: Ctx, seed: Long, spec: Gen.PageSpec): Unit = {
    ctx.info("session up")
    ctx.tally("generator self-check (same seed, same hash; new seed, new hash)")(Gen.selfCheck(seed))
    ctx.tally("generator vs extraction and geocode on 300 pages") {
      (0 until 300).forall { i =>
        val p = Gen.page(seed, spec, i)
        val geo = Geocode.fromHtml(p.html)
        TextExtract.extract(p.html) == p.text &&
          TextExtract.extractTokenCount(p.html) == p.tokens &&
          (if (p.geocoded) geo.contains((p.lat, p.lon)) else geo.isEmpty)
      }
    }
    ctx.info("generator checked")
  }

  @volatile private var sink = 0L

  /** Nanoseconds per item of a single-threaded kernel loop: repeat until
    * 0.2 s passed, five times, and take the median. */
  private def nsPer(items: Int)(body: => Long): Double = {
    val rounds = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var reps = 0
      while (System.nanoTime() - t0 < 200000000L) { sink += body; reps += 1 }
      (System.nanoTime() - t0).toDouble / (reps.toLong * items)
    }
    Run.median(rounds)
  }

  /** JVM-only kernel timings over a seeded sample of the corpus: Geocode,
    * the fused token counter, Cells.encode and Geo.contains (each point
    * tested against the parts whose bounding box holds it, as the refine
    * step does). */
  def kernels(ctx: Ctx, sample: Seq[Gen.Page], parts: Seq[PolyPart]): Unit = {
    val htmls = sample.map(_.html).toArray
    val pts = sample.filter(_.geocoded).map(p => (p.lat, p.lon)).toArray
    val tests = pts.map { case (lat, lon) =>
      parts.filter(p => lat >= p.latMin && lat <= p.latMax && lon >= p.lonMin && lon <= p.lonMax)
        .map(_.rings).toArray
    }
    val nTests = tests.map(_.length).sum
    ctx.put("core.geocode_ns_per_page",
      nsPer(htmls.length)(htmls.count(h => Geocode.fromHtml(h).isDefined).toLong), "ns")
    ctx.put("core.extract_ns_per_page",
      nsPer(htmls.length)(htmls.map(h => TextExtract.extractTokenCount(h).toLong).sum), "ns")
    ctx.put("core.cell_encode_ns",
      nsPer(pts.length)(pts.map { case (lat, lon) => Cells.encode(lat, lon, 12) }.sum), "ns")
    ctx.put("core.pip_ns_per_test", nsPer(math.max(nTests, 1)) {
      var hits = 0L
      var i = 0
      while (i < pts.length) {
        val (lat, lon) = pts(i)
        tests(i).foreach(r => if (Geo.contains(lat, lon, r)) hits += 1)
        i += 1
      }
      hits
    }, "ns")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Stage the scan control and the geocode / token-count projection, three
    * times each; `scanOk` checks each scan's byte sum. */
  def stageScanAndFunctions(ctx: Ctx, pages: DataFrame, scanOk: Long => Boolean): Unit = {
    val tr = ctx.tracer
    var bytesRead = 0L
    for (_ <- 0 until 3) {
      ctx.tally("scan control") {
        val (total, files) = tr("sources", "scan")(scanWithBytes(pages))
        bytesRead = files
        scanOk(total)
      }
      tr("functions", "geocode_extract")(noop(pages.select(
        TextFunctions.geoLat(col("html")), TextFunctions.geoLon(col("html")),
        TextFunctions.tokenCountWs(TextFunctions.extractText(col("html"))))))
    }
    ctx.put("sources.scan_s", spanMedian(ctx, "sources"), "s")
    ctx.put("sources.bytes_read", bytesRead.toDouble, "bytes")
    ctx.put("functions.geocode_extract_s", spanMedian(ctx, "functions"), "s")
  }

  /** Times and shuffle bytes of the staged spatial-join and tile spans. */
  def reportJoinAndTiles(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val sj = tr.of("spatialjoin").filter(_.name == "assign").map(tr.self)
    val ta = tr.of("tileagg").map(tr.self)
    ctx.put("spatialjoin.cover_build_s", spanMedian(ctx, "spatialjoin", "cover_build"), "s")
    ctx.put("spatialjoin.assign_s", spanMedian(ctx, "spatialjoin", "assign"), "s")
    ctx.put("spatialjoin.shuffle_write_bytes", sj.map(_.shuffleWriteBytes).sum.toDouble / sj.length, "bytes")
    ctx.put("spatialjoin.spill_bytes", sj.map(_.spillBytes).sum.toDouble / sj.length, "bytes")
    ctx.put("tileagg.s", spanMedian(ctx, "tileagg"), "s")
    ctx.put("tileagg.shuffle_write_bytes", ta.map(_.shuffleWriteBytes).sum.toDouble / ta.length, "bytes")
  }

  /** The no-engine-code control: a scan of the html column. */
  def scan(pages: DataFrame): Long = scanWithBytes(pages)._1

  /** The scan's result and the bytes of the files it read, from the scan
    * node's "size of files read" metric (Spark's task input-bytes counter
    * reports only about 100 KB for this parquet scan). */
  def scanWithBytes(pages: DataFrame): (Long, Long) = {
    val df = pages.select(sum(length(col("html"))))
    val total = df.collect()(0).getLong(0)
    val files = PlanHelper.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
    (total, files)
  }

  private object PlanHelper extends AdaptiveSparkPlanHelper
}
