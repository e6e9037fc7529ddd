package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.core.Geo
import graft.core.Polygons.PolyPart
import graft.operators.{SpatialJoin, TileAgg}
import graft.plans.Lineage
import graft.sources.PolygonJson

/**
 * `crawl_run`: an operator's crawl cycle through graft.Main's CLI — a fresh
 * run (--polygons with the distributed cover, --mode shuffle, --tiles at
 * zoom 8, --lineage) followed by a re-invocation with the same --run-id,
 * which must resume with nothing left to do. The cycle is the operation.
 * Main starts from the session the benchmark created (getOrCreate) and
 * stops it, so every invocation runs in a fresh SparkContext.
 */
object Crawl {

  final val Pages = 6000L
  final val Splits = 8
  final val SampleUrls = 64

  /** What the generator knows: geocoded rows, and for a fixed-size sample
    * of urls (smallest url hash) the region set brute-forced with
    * Geo.contains against every polygon part. */
  final case class Expected(geocoded: Long, sample: Map[String, Set[Long]])

  def expected(spark: SparkSession, seed: Long, parts: Seq[PolyPart]): Expected = {
    val pts = Layers.facts(spark, seed, Gen.CrawlSpec, Pages, Splits)
      .toDF("url", "lat", "lon", "tokens", "bytes").where(!isnan(col("lat")))
    val geocoded = pts.count()
    val sample = pts.groupBy(col("url")).agg(collect_list(struct(col("lat"), col("lon"))).as("pts"))
      .orderBy(xxhash64(col("url"))).limit(SampleUrls).collect()
      .map { r =>
        val ps = r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getDouble(0), p.getDouble(1)))
        r.getString(0) -> parts.filter(p => ps.exists { case (lat, lon) => Geo.contains(lat, lon, p.rings) })
          .map(_.regionId).toSet
      }.toMap
    Expected(geocoded, sample)
  }

  /** Region sets of the sample urls in a matches table equal the brute force. */
  def sampleAgrees(matches: DataFrame, exp: Expected): Boolean = {
    val got = matches.where(col("url").isin(exp.sample.keys.toSeq: _*))
      .select(col("url"), col("region_id")).collect()
      .groupBy(_.getString(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).toSet }
    exp.sample.forall { case (u, rs) => got.getOrElse(u, Set.empty[Long]) == rs }
  }

  def run(ctx: Ctx): Unit = {
    var spark = ctx.session()
    val tr = ctx.tracer
    val pagesPath = ctx.path("pages")
    val polyPath = ctx.path("polygons.jsonl")
    Layers.generatorAgrees(ctx, ctx.seed, Gen.CrawlSpec)
    Layers.writePages(spark, ctx.seed, Gen.CrawlSpec, Pages, Splits, pagesPath)
    val parts = Gen.polygons(ctx.seed)
    Files.writeString(new File(polyPath).toPath, PolygonJson.toJsonLines(parts))
    // engine set-up: the distributed cover of the polygon JSONL, which Main
    // builds on every invocation
    ctx.setup {
      tr("spatialjoin", "cover_build")(PolygonJson.coverFromJsonDistributed(spark, polyPath))
    }
    val exp = expected(spark, ctx.seed, parts)
    ctx.info(s"crawl expects ${exp.geocoded} geocoded rows over ${parts.length} polygon parts; " +
      s"sample of ${exp.sample.size} urls, ${exp.sample.count(_._2.nonEmpty)} inside a region")

    /** One Main invocation; returns the points it reports processed. */
    def main(runId: String, k: Int): Long = {
      val buf = new ByteArrayOutputStream
      Console.withOut(new PrintStream(buf, true)) {
        graft.Main.main(Array("--pages", pagesPath, "--polygons", polyPath,
          "--mode", "shuffle", "--tiles", ctx.path(s"tiles$k"), "--zoom", "8",
          "--out", ctx.path(s"out$k"), "--lineage", ctx.path(s"lineage$k"), "--run-id", runId))
      }
      "\"points_processed\":(\\d+)".r.findFirstMatchIn(buf.toString)
        .map(_.group(1).toLong).getOrElse(-1L)
    }

    /** Output (count, xor hash) and lineage (row count, xor of row hashes). */
    def hashes(k: Int, runId: String): Seq[Long] = {
      val o = spark.read.parquet(ctx.path(s"out$k"))
        .agg(count(lit(1)), bit_xor(xxhash64(col("url"), col("region_id")))).collect()(0)
      val l = Lineage.runStats(spark, ctx.path(s"lineage$k"), runId)
        .agg(sum(col("row_count")), bit_xor(col("row_hash"))).collect()(0)
      Seq(o.getLong(0), o.getLong(1), l.getLong(0), l.getLong(1))
    }

    def tilesTotal(k: Int): Long =
      spark.read.parquet(ctx.path(s"tiles$k")).agg(sum(col("pages"))).collect()(0).getLong(0)

    val fresh = ArrayBuffer.empty[Double]
    val resume = ArrayBuffer.empty[Double]
    val written = ArrayBuffer.empty[Double]
    val fileBytes = ArrayBuffer.empty[Double]
    var resumed = -1L

    /** A crawl cycle with its checks; `traced` puts each invocation in an
      * op span. Returns the cycle's seconds when every check passed. */
    def cycle(k: Int, traced: Boolean): Option[Double] = {
      val runId = s"crawl-$k"
      var wrote = 0L
      /** One invocation; the counter delta around it is what Main wrote, so
        * the check jobs between invocations fall outside it. */
      def invoke(name: String): (Long, Double) = {
        tr.drain()
        val before = ctx.counters.total.writtenBytes
        val r = if (traced) ctx.time(tr("op", name)(main(runId, k))) else ctx.time(main(runId, k))
        // Main stopped its context, which delivered all of its task events
        wrote += ctx.counters.total.writtenBytes - before
        r
      }
      val (n1, s1) = invoke("fresh")
      spark = ctx.session()
      val bytes = Seq("out", "lineage", "tiles").map(d => ctx.dirBytes(new File(ctx.path(s"$d$k")))._1).sum
      val h1 = hashes(k, runId)
      val ok1 = n1 == exp.geocoded && tilesTotal(k) == exp.geocoded && h1(1) == h1(3) &&
        sampleAgrees(spark.read.parquet(ctx.path(s"out$k")), exp)
      if (!ok1) ctx.info(s"fresh run: processed $n1 of ${exp.geocoded}, hashes $h1")
      val (n2, s2) = invoke("resume")
      resumed = n2
      written += wrote.toDouble
      spark = ctx.session()
      val h2 = hashes(k, runId)
      val ok2 = n2 == 0L && h2 == h1 && tilesTotal(k) == exp.geocoded
      if (!ok2) ctx.info(s"resume: processed $n2, hashes $h2 (fresh $h1)")
      Seq("out", "lineage", "tiles").foreach(d => Run.deleteTree(new File(ctx.path(s"$d$k"))))
      Run.deleteTree(new File(ctx.path(s"lineage$k-metrics")))
      ctx.info(s"cycle $k: fresh $s1 s, resume $s2 s")
      if (ok1 && ok2) {
        fresh += s1
        resume += s2
        fileBytes += bytes.toDouble
        Some(s1 + s2)
      } else None
    }

    // warm-up: one full cycle compiles what Main runs, so the first
    // measured cycle is not a cold one
    ctx.tally("crawl warm-up cycle")(cycle(0, traced = false).isDefined)
    Seq(fresh, resume, written, fileBytes).foreach(_.clear())
    ctx.info("set-up and warm-up done")
    if (!ctx.trace) {
      val times = ArrayBuffer.empty[Double]
      ctx.loop(minOps = 2) { k =>
        ctx.tally("crawl cycle")(cycle(k + 1, traced = false).map(times += _).isDefined)
      }
      val p50 = Run.median(times)
      ctx.put("op_p50_s", p50, "s")
      ctx.put("written_bytes_per_page", Run.median(written) / Pages, "bytes")
      ctx.info(s"crawl cycles=${times.length} crawl_run_s=${Run.median(fresh)} s " +
        s"crawl_resume_s=${Run.median(resume)} s " +
        s"crawl_bytes_per_page=${Run.median(fileBytes) / Pages} bytes")
    } else traced(ctx, pagesPath, polyPath, parts, exp, cycle, () => resumed)
  }

  private def traced(ctx: Ctx, pagesPath: String, polyPath: String,
                     parts: Seq[PolyPart], exp: Expected,
                     cycle: (Int, Boolean) => Option[Double], resumed: () => Long): Unit = {
    val tr = ctx.tracer
    Layers.kernels(ctx, (0 until 2000).map(Gen.page(ctx.seed, Gen.CrawlSpec, _)), parts)

    // tracing overhead: untraced and traced cycles alternate, in both orders
    val plain = ArrayBuffer.empty[Double]
    val withSpans = ArrayBuffer.empty[Double]
    for ((traced, k) <- Seq(false, true, true, false).zip(1 to 4)) {
      if (traced) ctx.tally("crawl cycle, traced")(cycle(k, true).map(withSpans += _).isDefined)
      else ctx.tally("crawl cycle")(cycle(k, false).map(plain += _).isDefined)
    }
    val resumePoints = resumed()
    val spark = SparkSession.active
    val pages = spark.read.parquet(pagesPath)
    import Layers.noop
    Layers.stageScanAndFunctions(ctx, pages, _ > 0)
    // the set-up's cover went with the context Main stopped
    val cover = PolygonJson.coverFromJsonDistributed(spark, polyPath)
    val pts = Lineage.withPrefix(Pipeline.geocode(pages)).localCheckpoint(true)
    for (_ <- 0 until 3)
      tr("spatialjoin", "assign")(noop(SpatialJoin.assign(pts, "url", cover, SpatialJoin.Shuffle)))
    val matched = SpatialJoin.assign(pts, "url", cover, SpatialJoin.Shuffle).localCheckpoint(true)
    ctx.tally("staged assign sample against brute force")(sampleAgrees(matched, exp))
    val counts = matched.agg(count(lit(1)), countDistinct(col("url"))).collect()(0)
    val points = pts.select(countDistinct(col("url"))).collect()(0).getLong(0)

    val linBytes = ArrayBuffer.empty[(Long, Int)]
    for (i <- 0 until 3) {
      val (out, lin) = (ctx.path(s"staged_out$i"), ctx.path(s"staged_lineage$i"))
      tr("lineage", "write")(Lineage.writeWithLineage(matched, pts.select("cell_prefix"),
        out, lin, "staged", hashCols = Seq("url", "region_id")))
      val (b1, f1) = ctx.dirBytes(new File(out))
      val (b2, f2) = ctx.dirBytes(new File(lin))
      linBytes += ((b1 + b2, f1 + f2))
      Run.deleteTree(new File(out))
      Run.deleteTree(new File(lin))
    }
    for (_ <- 0 until 3) tr("tileagg", "per_region")(noop(TileAgg.perRegion(matched, 8)))
    Suggest.staged(ctx, spark)

    Layers.spanCounters(ctx)
    Layers.reportJoinAndTiles(ctx)
    val freshS = Layers.spanMedian(ctx, "op", "fresh")
    val opS = Run.median(withSpans)
    ctx.put("op.s", opS, "s")
    ctx.put("op.jobs", tr.of("op").map(tr.self(_).jobs).sum.toDouble / withSpans.length, "count")
    ctx.put("main.fresh_s", freshS, "s")
    ctx.put("main.resume_s", Layers.spanMedian(ctx, "op", "resume"), "s")
    ctx.put("spatialjoin.matched_share", counts.getLong(1).toDouble / points, "ratio")
    ctx.put("spatialjoin.regions_per_matched_point", counts.getLong(0).toDouble / counts.getLong(1), "ratio")
    ctx.put("lineage.write_s", Layers.spanMedian(ctx, "lineage"), "s")
    ctx.put("lineage.bytes_written", Run.median(linBytes.map(_._1.toDouble)), "bytes")
    ctx.put("lineage.files_written", Run.median(linBytes.map(_._2.toDouble)), "count")
    ctx.put("lineage.resume_processed_points", resumePoints.toDouble, "count")
    ctx.put("crawl_run.staged_sum_over_e2e", Seq("functions.geocode_extract_s",
      "spatialjoin.cover_build_s", "spatialjoin.assign_s", "lineage.write_s", "tileagg.s")
      .map(ctx.metrics(_)._1).sum / freshS, "ratio")
    ctx.put("trace.overhead_s", opS - Run.median(plain), "s")
    ctx.put("trace.overhead_share", (opS - Run.median(plain)) / Run.median(plain), "ratio")
    Layers.finish(ctx)
  }
}
