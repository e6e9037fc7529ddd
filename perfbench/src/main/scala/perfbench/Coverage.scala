package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.core.{Geo, Polygons}
import graft.functions.{GeoFunctions, TextFunctions}
import graft.operators.{SpatialJoin, TileAgg}

/**
 * `coverage`: the flagship coverage job, Pipeline.coverageStats at zoom 8
 * over the committed fixture cover (Auto resolves to Broadcast), written to
 * the noop sink so that every output column is computed. A count() would
 * let Catalyst prune the plan down to scan, geocode, encode and a distinct
 * tile, so extraction, the joins and PIP would never run. An in-run scan of
 * the html column is the control.
 */
object Coverage {

  final val Pages = 30000L
  final val Splits = 48
  final val Zoom = 8

  final case class Expected(geocoded: Long, tokens: Long, matched: Long, htmlBytes: Long)

  /** Totals the generator knows: geocoded rows, their token sum (the token
    * count of the stored text column), the rows inside any fixture part by
    * brute force with Geo.contains, and the html bytes. */
  def expected(spark: SparkSession, seed: Long): Expected = {
    import spark.implicits._
    val parts = Polygons.all
    val (g, t, m, b) = Layers.facts(spark, seed, Gen.CoverageSpec, Pages, Splits).map {
      case (_, lat, lon, tokens, bytes) =>
        val geo = !lat.isNaN
        (if (geo) 1L else 0L, if (geo) tokens.toLong else 0L,
          if (geo && parts.exists(p => Geo.contains(lat, lon, p.rings))) 1L else 0L, bytes)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
    Expected(g, t, m, b)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.session()
    val tr = ctx.tracer
    val pagesPath = ctx.path("pages")
    Layers.generatorAgrees(ctx, ctx.seed, Gen.CoverageSpec)
    Layers.writePages(spark, ctx.seed, Gen.CoverageSpec, Pages, Splits, pagesPath)
    // engine set-up: the driver cover and its memo, built from scratch
    ctx.setup {
      tr("spatialjoin", "cover_build") {
        SpatialJoin.clearCoverCache()
        SpatialJoin.coverDF(spark)
      }
    }
    val pages = spark.read.parquet(pagesPath)
    val exp = expected(spark, ctx.seed)
    ctx.info(s"coverage expects $exp; parquet bytes ${ctx.dirBytes(new java.io.File(pagesPath))._1}")

    /** One coverage job to the noop sink; its totals are observed on the
      * rows the sink receives and checked. Returns the job's seconds. */
    def job(): Option[Double] = {
      val obs = Observation()
      val df = Pipeline.coverageStats(spark, pages, Zoom)
        .observe(obs, sum("pages").as("pages"), sum("tok_sum").as("tokens"),
          sum("matched").as("matched"))
      val (_, s) = ctx.time(df.write.format("noop").mode("overwrite").save())
      val m = obs.get
      val ok = m("pages") == exp.geocoded && m("tokens") == exp.tokens && m("matched") == exp.matched
      if (!ok) ctx.info(s"coverage totals $m differ from $exp")
      if (ok) Some(s) else None
    }

    def control(): Option[Double] = {
      val (bytes, s) = ctx.time(Layers.scan(pages))
      if (bytes == exp.htmlBytes) Some(s) else None
    }

    ctx.info("set-up done")
    // warm-up: JIT, codegen and the broadcast cover
    for (_ <- 0 until 6) ctx.tally("coverage warm-up")(job().isDefined)
    ctx.tally("scan warm-up")(control().isDefined)

    if (!ctx.trace) {
      val times = ArrayBuffer.empty[Double]
      val scans = ArrayBuffer.empty[Double]
      val written = ArrayBuffer.empty[Double]
      ctx.loop(minOps = 6) { _ =>
        tr.drain()
        val before = ctx.counters.total.writtenBytes
        ctx.tally("coverage job")(job().map(times += _).isDefined)
        tr.drain()
        written += (ctx.counters.total.writtenBytes - before).toDouble
        ctx.tally("scan control")(control().map(scans += _).isDefined)
      }
      ctx.info("loop done")
      val p50 = Run.median(times)
      ctx.put("op_p50_s", p50, "s")
      ctx.put("written_bytes_per_page", Run.median(written) / Pages, "bytes")
      ctx.info(s"coverage job seconds: ${times.mkString(", ")}")
      ctx.info(s"coverage jobs=${times.length} coverage_pages_per_s=${Pages / p50} 1/s " +
        s"coverage_vs_scan=${scans.min / p50} ratio")
    } else traced(ctx, pages, exp, () => job())
  }

  private def traced(ctx: Ctx, pages: DataFrame, exp: Expected, job: () => Option[Double]): Unit = {
    val spark = pages.sparkSession
    val tr = ctx.tracer
    Layers.kernels(ctx, (0 until 2000).map(Gen.page(ctx.seed, Gen.CoverageSpec, _)), Polygons.all)

    import Layers.noop
    // tracing overhead: untraced and traced jobs alternate, in both orders;
    // both sides time the whole checked job
    val plain = ArrayBuffer.empty[Double]
    for (k <- 0 until 4; traced <- if (k % 2 == 0) Seq(false, true) else Seq(true, false)) {
      if (traced) ctx.tally("coverage job, traced")(tr("op", "coverage")(job().isDefined))
      else ctx.tally("coverage job") {
        val (r, s) = ctx.time(job())
        r.foreach(_ => plain += s)
        r.isDefined
      }
    }

    Layers.stageScanAndFunctions(ctx, pages, _ == exp.htmlBytes)

    // the point frame the spatial join consumes, as coverageStats builds it
    val pts = pages.select(col("url"), col("warc_ts"),
        TextFunctions.geoLat(col("html")).as("lat"), TextFunctions.geoLon(col("html")).as("lon"),
        TextFunctions.tokenCountWs(TextFunctions.extractText(col("html"))).as("tokens"))
      .where(col("lat").isNotNull && col("lon").isNotNull)
      .withColumn("tile", GeoFunctions.cellEncode(col("lat"), col("lon"), lit(Zoom)))
      .localCheckpoint(true)
    val cover = SpatialJoin.coverDF(spark)
    var shares = (0.0, 0.0)
    for (_ <- 0 until 3) ctx.tally("staged assignRegions") {
      val obs = Observation()
      tr("spatialjoin", "assign")(noop(SpatialJoin.assignRegions(pts, "url", cover)
        .observe(obs, count(lit(1)).as("n"), sum(when(size(col("regions")) > 0, 1L).otherwise(0L)).as("m"),
          sum(size(col("regions")).cast("long")).as("r"))))
      val o = obs.get
      val (n, m, r) = (o("n").asInstanceOf[Long], o("m").asInstanceOf[Long], o("r").asInstanceOf[Long])
      shares = (m.toDouble / n, r.toDouble / m)
      n == exp.geocoded && m == exp.matched
    }
    val matched = SpatialJoin.assignRegions(pts, "url", cover)
      .withColumn("region_id", explode(col("regions"))).drop("regions")
      .localCheckpoint(true)
    for (_ <- 0 until 3) tr("tileagg", "per_region")(noop(TileAgg.perRegion(matched, Zoom)))

    Layers.spanCounters(ctx)
    Layers.reportJoinAndTiles(ctx)
    val opS = Layers.spanMedian(ctx, "op")
    ctx.put("op.s", opS, "s")
    ctx.put("op.jobs", tr.of("op").map(tr.self(_).jobs).sum.toDouble / tr.of("op").length, "count")
    ctx.put("spatialjoin.matched_share", shares._1, "ratio")
    ctx.put("spatialjoin.regions_per_matched_point", shares._2, "ratio")
    ctx.put("coverage.staged_sum_over_e2e", (ctx.metrics("functions.geocode_extract_s")._1 +
      ctx.metrics("spatialjoin.assign_s")._1 + ctx.metrics("tileagg.s")._1) / opS, "ratio")
    ctx.put("trace.overhead_s", opS - Run.median(plain), "s")
    ctx.put("trace.overhead_share", (opS - Run.median(plain)) / Run.median(plain), "ratio")
    Layers.finish(ctx)
  }
}
