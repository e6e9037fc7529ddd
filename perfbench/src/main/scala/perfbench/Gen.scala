package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.core.Polygons.PolyPart

/**
 * Seeded input generator. Every value is a pure function of (seed, stream,
 * index), so the same seed gives byte-identical inputs at any parallelism
 * and a different seed gives different ones ([[selfCheck]] proves both on
 * every run).
 *
 * Dimensions the engine's behaviour depends on, set by [[PageSpec]], the
 * constants below and the polygon / feature generators:
 *  - geo-marker share: pages without a marker make Geocode scan the body for
 *    both markers; a share of the geocoded pages use the ICBM fallback;
 *  - hot-box share: geocoded points piled into one 0.2 degree box (skew);
 *  - non-ASCII share: it/de/fr prose makes the fused ASCII token counter
 *    bail to the string path;
 *  - html size: 1-4 KB of markup per page;
 *  - recurring urls: a share of rows re-crawl an earlier url at a later
 *    warc_ts with the same content;
 *  - polygon count and vertex count (nested admin hierarchy);
 *  - feature clustering and near / remote kNN probes.
 */
object Gen {

  final val Epoch2024 = 1704067200L

  /** Box as (latMin, latMax, lonMin, lonMax). */
  final case class Box(latMin: Double, latMax: Double, lonMin: Double, lonMax: Double) {
    def lat(r: SplittableRandom): Double = latMin + r.nextDouble() * (latMax - latMin)
    def lon(r: SplittableRandom): Double = lonMin + r.nextDouble() * (lonMax - lonMin)
  }

  val World = Box(-60.0, 60.0, -180.0, 180.0)
  /** An Italy-sized country: the nested polygon hierarchy tiles it. */
  val Country = Box(36.6, 47.1, 6.6, 18.6)

  final case class PageSpec(geoShare: Double, hotShare: Double, hotBox: Box,
                            countryShare: Double, nonAsciiShare: Double)

  // Where each share comes from. No share is measured crawl traffic.
  //  - geo-marker share 2/3 and hot-box share 0.15 of the geocoded rows:
  //    the committed corpus, sources.Pages.synthesize (id % 3 < 2 and
  //    id % 20 < 3) and FIXTURES.md section P;
  //  - non-ASCII share 0.6: the it/de/fr share of FIXTURES.md section P's
  //    lang cycle (it, en, de, fr, es); nearly every it/de/fr page carries
  //    an accented word;
  //  - the ICBM share, the recurring-url share and crawl_run's hot-box and
  //    country shares have no source: they are chosen to exercise a path
  //    (the ICBM fallback, re-crawled urls, a heavier hot box than coverage
  //    with most points inside the polygon hierarchy).

  /** Share of geocoded pages that carry only the ICBM fallback marker. */
  final val IcbmShare = 0.1
  /** Share of rows that re-crawl an earlier url. */
  final val RecurShare = 0.1
  final val GeoShare = 2.0 / 3
  final val NonAsciiShare = 0.6

  /** The flagship corpus: two thirds geocoded, 15% of those in a hot box
    * inside the fixture "quad" region, the rest spread over the world. */
  val CoverageSpec = PageSpec(geoShare = GeoShare, hotShare = 0.15,
    hotBox = Box(9.8, 10.0, 19.8, 20.0), countryShare = 0.0, nonAsciiShare = NonAsciiShare)

  /** A crawl of the country: most points land in the polygon hierarchy and
    * a heavier share piles into one city box. */
  val CrawlSpec = PageSpec(geoShare = GeoShare, hotShare = 0.35,
    hotBox = Box(41.8, 42.0, 12.4, 12.6), countryShare = 0.75, nonAsciiShare = NonAsciiShare)

  /** One generated page plus the facts the output checks need. `lat`/`lon`
    * are NaN for pages without a geo marker; `tokens` is the whitespace
    * token count of `text`. */
  final case class Page(url: String, warcTs: Long, html: Array[Byte],
                        text: String, lang: String,
                        lat: Double, lon: Double, tokens: Int) {
    def geocoded: Boolean = !lat.isNaN
  }

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), i))

  private val Vocab: Map[String, Array[String]] = Map(
    "en" -> "the map lists every place in the region with its name and the page that describes it".split(' '),
    "es" -> "el mapa muestra cada lugar de la zona con su nombre y la pagina que lo describe".split(' '),
    "it" -> "la città è così bella perché il comune più antico della provincia ha una piazza".split(' '),
    "de" -> "die Straße über dem Fluss führt zur Bürger Kirche im schönen Dorf nördlich der Stadt".split(' '),
    "fr" -> "la rivière traverse le village où l'élève français apprend à lire près du château".split(' '))
  private val AsciiLangs = Array("en", "es")
  private val AccentLangs = Array("it", "de", "fr")

  /** Page i of a corpus. A recurring row re-crawls the url of an earlier
    * row with that row's content; only warc_ts differs. */
  def page(seed: Long, spec: PageSpec, i: Long): Page = {
    val r0 = rng(seed, 1, i)
    val src = if (i > 16 && r0.nextDouble() < RecurShare) i - 1 - r0.nextLong(16) else i
    val p = content(seed, spec, src)
    p.copy(warcTs = Epoch2024 + i * 37 + r0.nextLong(30))
  }

  private def content(seed: Long, spec: PageSpec, i: Long): Page = {
    val r = rng(seed, 2, i)
    val accented = r.nextDouble() < spec.nonAsciiShare
    val lang = if (accented) AccentLangs(r.nextInt(3)) else AsciiLangs(r.nextInt(2))
    val vocab = Vocab(lang)
    def word(): String = {
      val w = vocab(r.nextInt(vocab.length))
      // escaped in html, decoded in text: the entity path of extraction
      if (w.contains('\'')) w else if (r.nextInt(40) == 0) w + "&amp;co" else w
    }
    val html = new StringBuilder(4096)
    val tokens = scala.collection.mutable.ArrayBuffer.empty[String]
    def emitWords(n: Int): Unit = {
      var k = 0
      while (k < n) {
        val w = word()
        if (k > 0) html.append(if (r.nextInt(8) == 0) "\n  " else " ")
        html.append(w)
        tokens += w.replace("&amp;", "&")
        k += 1
      }
    }
    val (lat, lon, marker) =
      if (r.nextDouble() >= spec.geoShare) (Double.NaN, Double.NaN, "")
      else {
        val u = r.nextDouble()
        val box = if (u < spec.hotShare) spec.hotBox
                  else if (u < spec.hotShare + spec.countryShare) Country
                  else World
        val latS = fixed4(box.lat(r))
        val lonS = fixed4(box.lon(r))
        val m = if (r.nextDouble() < IcbmShare)
            s"""<meta name="ICBM" content="$latS, $lonS">"""
          else s"""<meta name="geo.position" content="$latS;$lonS">"""
        (java.lang.Double.parseDouble(latS), java.lang.Double.parseDouble(lonS), m)
      }
    val id = java.lang.Long.toHexString(mix(seed, i) & 0xffffffffffffL)
    html.append("<html><head>").append(marker).append("\n<title>")
    emitWords(3)
    html.append("</title>\n<style>p { margin: 0 }</style>\n</head>\n<body>\n")
    val target = 1024 + r.nextInt(3072)
    while (html.length < target) {
      html.append(if (r.nextInt(4) == 0) "<div class=\"box\"><p>" else "<p>")
      emitWords(6 + r.nextInt(18))
      html.append("</p>\n")
      if (r.nextInt(5) == 0) html.append("<script>var n = 1 < 2;</script>\n")
    }
    html.append("<p>id ").append(id).append("</p>\n</body></html>")
    tokens += "id"
    tokens += id
    val url = s"https://$lang.site${r.nextInt(97)}.example/wiki/p$id"
    Page(url, 0L, html.toString.getBytes(StandardCharsets.UTF_8),
      tokens.mkString(" "), lang, lat, lon, tokens.length)
  }

  /** Fixed four-decimal rendering, independent of the JVM locale. */
  def fixed4(x: Double): String = {
    val v = math.round(x * 10000.0)
    val a = math.abs(v)
    f"${if (v < 0) "-" else ""}${a / 10000}.${a % 10000}%04d"
  }

  // --- Polygons: a nested admin hierarchy over Country ---------------------

  /** Region / province / comune parts of a country: a grid of star-shaped
    * parts at each level (shell inside its grid rectangle, so siblings never
    * overlap), every seventh province with a hole, and two regions with an
    * island part off the grid. Vertex counts grow with the level's size. */
  def polygons(seed: Long): Seq[PolyPart] = {
    val (regionsX, regionsY, provX, provY, comX, comY) = (4, 5, 2, 3, 5, 6)
    val out = Seq.newBuilder[PolyPart]
    val rw = (Country.lonMax - Country.lonMin) / regionsX
    val rh = (Country.latMax - Country.latMin) / regionsY
    var prov = 0
    var com = 0
    for (ry <- 0 until regionsY; rx <- 0 until regionsX) {
      val rid = 1L + ry * regionsX + rx
      val x0 = Country.lonMin + rx * rw
      val y0 = Country.latMin + ry * rh
      val r = rng(seed, 3, rid)
      out += PolyPart(rid, 0, s"region_$rid",
        Array(star(r, x0, y0, rw, rh, 96 + r.nextInt(96), 0.86, 0.98)))
      if (rid <= 2) {
        val ix = 2.0 + rid * 1.6
        out += PolyPart(rid, 1, s"island_$rid",
          Array(star(r, ix, 37.2, 1.4, 1.8, 48, 0.7, 0.95)))
      }
      val pw = rw / provX
      val ph = rh / provY
      for (py <- 0 until provY; px <- 0 until provX) {
        prov += 1
        val pid = 1000L + prov
        val pr = rng(seed, 4, pid)
        val shell = star(pr, x0 + px * pw, y0 + py * ph, pw, ph, 32 + pr.nextInt(48), 0.86, 0.98)
        val rings =
          if (prov % 7 == 0) Array(shell,
            star(pr, x0 + px * pw, y0 + py * ph, pw, ph, 12, 0.08, 0.14))
          else Array(shell)
        out += PolyPart(pid, 0, s"province_$pid", rings)
        val cw = pw / comX
        val ch = ph / comY
        for (cy <- 0 until comY; cx <- 0 until comX) {
          com += 1
          val cid = 100000L + com
          val cr = rng(seed, 5, cid)
          out += PolyPart(cid, 0, s"comune_$cid", Array(star(cr,
            x0 + px * pw + cx * cw, y0 + py * ph + cy * ch, cw, ch,
            6 + cr.nextInt(19), 0.80, 0.98)))
        }
      }
    }
    out.result()
  }

  /** Star-shaped ring around the centre of the rectangle (x0, y0, w, h):
    * increasing angles make it simple; radii in [lo, hi] of the inscribed
    * ellipse keep it inside the rectangle. Flat [lon, lat, ...], open. */
  private def star(r: SplittableRandom, x0: Double, y0: Double, w: Double,
                   h: Double, n: Int, lo: Double, hi: Double): Array[Double] = {
    val cx = x0 + w / 2
    val cy = y0 + h / 2
    val ring = new Array[Double](2 * n)
    var k = 0
    while (k < n) {
      val th = 2 * math.Pi * (k + 0.8 * r.nextDouble()) / n
      val rho = lo + (hi - lo) * r.nextDouble()
      ring(2 * k) = cx + w / 2 * rho * math.cos(th)
      ring(2 * k + 1) = cy + h / 2 * rho * math.sin(th)
      k += 1
    }
    ring
  }

  // --- kNN features and probes --------------------------------------------

  final case class Feature(fid: Long, lat: Double, lon: Double, tagKey: String)
  final case class Probe(url: String, lat: Double, lon: Double)

  final val Clusters = 24

  private def clusterCentre(seed: Long, c: Int): (Double, Double) = {
    val r = rng(seed, 6, c)
    (Country.lat(r), Country.lon(r))
  }

  /** Mapped features: tight clusters around a few dozen centres. */
  def features(seed: Long, perCluster: Int): Seq[Feature] =
    for (c <- 0 until Clusters; j <- 0 until perCluster) yield {
      val fid = c.toLong * perCluster + j
      val r = rng(seed, 7, fid)
      val (clat, clon) = clusterCentre(seed, c)
      Feature(fid, clat + 0.15 * r.nextGaussian(), clon + 0.15 * r.nextGaussian(),
        s"it:Luogo_$fid")
    }

  /** Request `q`'s batch of untagged pages. Most probes sit near a cluster
    * and resolve in the first kNN round; every third batch also carries one
    * remote probe 4.5 degrees from a cluster centre, which needs about three
    * rounds. A fixed share keeps the median among the near-only requests
    * and the 75th percentile among the remote ones. */
  def probes(seed: Long, q: Long, batch: Int): Seq[Probe] = {
    val r = rng(seed, 8, q)
    (0 until batch).map { j =>
      val url = s"https://it.example/wiki/Untagged_${q}_$j"
      val (clat, clon) = clusterCentre(seed, r.nextInt(Clusters))
      if (q % 3 == 2 && j == 0) {
        val th = 2 * math.Pi * r.nextDouble()
        Probe(url, clat + 4.5 * math.sin(th), clon + 4.5 * math.cos(th))
      } else Probe(url, clat + 0.3 * r.nextGaussian(), clon + 0.3 * r.nextGaussian())
    }
  }

  // --- Content hash and self-check ----------------------------------------

  /** SHA-256 over the first `n` pages, the polygons and the features and
    * probes a seed generates. */
  def contentHash(seed: Long, n: Int = 100): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
    for (spec <- Seq(CoverageSpec, CrawlSpec); i <- 0 until n) {
      val p = page(seed, spec, i)
      put(s"${p.url}|${p.warcTs}|${p.text}|${p.lang}|${p.lat}|${p.lon}|")
      md.update(p.html)
    }
    polygons(seed).foreach(p => put(s"${p.regionId}|${p.part}|${p.rings.map(_.mkString(",")).mkString(";")}"))
    features(seed, 8).foreach(f => put(f.toString))
    (0 until 20).flatMap(q => probes(seed, q, 4)).foreach(p => put(p.toString))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Same seed -> identical hash; another seed -> another hash. */
  def selfCheck(seed: Long): Boolean = {
    val a = contentHash(seed)
    a == contentHash(seed) && a != contentHash(seed + 1)
  }
}
