package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.Knn
import graft.plans.SessionCaches

/**
 * The kNN layer, staged in the crawl_run traced run: the reference's tag
 * suggestion for untagged pages. Each request is a seeded batch of untagged
 * pages; it runs Knn.nearestIndexed (k = 3) against an index built in
 * set-up, joins the tag dimension and collects the answer. Every answer is
 * checked against Knn.bruteForce.
 */
object Suggest {

  final val PerCluster = 200
  final val Batch = 8
  final val K = 3
  final val Requests = 12
  final val WarmUp = 1000000L

  def staged(ctx: Ctx, spark: SparkSession): Unit = {
    import spark.implicits._
    val tr = ctx.tracer
    val feats = Gen.features(ctx.seed, PerCluster).map(f => (f.fid, f.lat, f.lon, f.tagKey))
      .toDF("fid", "lat", "lon", "tag_key")
    val index = (0 until Run.SetupReps).map { _ =>
      tr("knn", "index_build")(Knn.buildIndex(feats, "fid"))
    }.last
    val tags = feats.select("fid", "tag_key").localCheckpoint(true)

    def request(q: Long, traced: Boolean): Seq[Row] = {
      def span[T](layer: String, name: String)(body: => T): T =
        if (traced) tr(layer, name)(body) else body
      val batch = Gen.probes(ctx.seed, q, Batch).map(p => (p.url, p.lat, p.lon)).toDF("url", "lat", "lon")
      span("suggest", "request") {
        span("knn", "nearest")(Knn.nearestIndexed(batch, "url", index, "fid", K))
          .join(tags, "fid").select("url", "rank", "fid", "tag_key").collect().toSeq
      }
    }
    for (w <- 0 until 3) request(WarmUp + w, traced = false)
    val answers = (0 until Requests).map(q => q -> request(q, traced = true))

    val probes = (0 until Requests).flatMap(q => Gen.probes(ctx.seed, q, Batch))
    val truth = Knn.bruteForce(probes.map(p => (p.url, p.lat, p.lon)).toDF("url", "lat", "lon"),
        "url", feats, "fid", K).collect()
      .groupBy(_.getString(0)).map { case (u, rs) => u -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet }
    for ((q, rows) <- answers) ctx.tally(s"suggest request $q against Knn.bruteForce") {
      val got = rows.groupBy(_.getString(0)).map { case (u, rs) => u -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet }
      Gen.probes(ctx.seed, q, Batch).forall(p => got.get(p.url) == truth.get(p.url)) &&
        rows.forall(r => r.getString(3) == s"it:Luogo_${r.getLong(2)}")
    }
    SessionCaches.unpersistCheckpointed(index)
    SessionCaches.unpersistCheckpointed(tags)

    tr.drain()
    val reqs = tr.of("suggest")
    val knn = tr.of("knn").filter(_.name == "nearest")
    ctx.put("suggest.request_p50_s", Run.median(reqs.map(_.seconds)), "s")
    ctx.put("knn.index_build_s", Layers.spanMedian(ctx, "knn", "index_build"), "s")
    ctx.put("knn.jobs_per_request", knn.map(tr.self(_).jobs).sum.toDouble / knn.length, "count")
    ctx.put("knn.tasks_per_request", knn.map(tr.self(_).tasks).sum.toDouble / knn.length, "count")
    ctx.put("suggest.staged_sum_over_e2e",
      Run.median(knn.map(_.seconds)) / Run.median(reqs.map(_.seconds)), "ratio")
  }
}
