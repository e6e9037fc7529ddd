package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions, TextFunctions}
import graft.operators.{Knn, SpatialJoin, TileAgg}
import graft.sources.GeoFixtures

/**
 * The geospatial pipeline as driver-checkable queries (SURVEY.md §2.B4-B7,
 * C1-C8, plus the tag-match relational semantics §1.2). Inputs derive
 * deterministically from the driver testdata (GeoFixtures); oracles are
 * generated SQL — Morton arithmetic for cell ids, brute-force ray-cast
 * parity for PIP (the engine's cover+refine must agree exactly), window
 * top-k over the same quantized metric for kNN.
 */
object GeoQueries {
  import GeoFixtures._

  /** Session-scoped memo of the built kNN feature index: three registry
    * queries (knn, knn_shuffle, suggest) share one index — exactly how a
    * production deployment serves many query batches off one build. Size-
    * capped like the other memos; cleared by plans.SessionCaches. */
  private val idxCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** Evicted index frames unpersist their checkpoint blocks eagerly (the
    * leak class SessionCaches exists for), not just drop the map entry. */
  private[graft] def clearIndexMemo(): Unit = {
    idxCache.values.forEach(graft.plans.SessionCaches.unpersistCheckpointed(_))
    idxCache.clear()
  }

  private def featureIndex(s: SparkSession, d: String): DataFrame = {
    if (idxCache.size() >= 4 && !idxCache.containsKey((s, d))) clearIndexMemo()
    // round-6: the index consumes only (fid, lat, lon) — build it from the
    // narrow distinct (identical relation, see GeoFixtures.featureGeo)
    idxCache.computeIfAbsent((s, d), _ => Knn.buildIndex(featureGeo(s, d), "fid"))
  }

  private def points12(s: SparkSession, d: String): DataFrame =
    points(s, d).withColumn("cell12",
      GeoFunctions.cellEncode(col("lat"), col("lon"), lit(12)))

  private val cellSqlR12 = cellEncodeSql("lat", "lon", 12)

  /** Matched (k, region_id) via the engine's cover+PIP plan. */
  def assigned(s: SparkSession, d: String,
               mode: SpatialJoin.Mode = SpatialJoin.Broadcast): DataFrame =
    SpatialJoin.assign(points(s, d), "k", SpatialJoin.coverDF(s), mode)

  private val spatialJoinOracle: String =
    s"""WITH pts AS (${pointsSql}),
       |${pipMatchesSql}
       |SELECT k, region_id FROM pip_matches""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef.sql("q_geo_cell_encode",
      s"""WITH pts AS (${pointsSql})
         |SELECT k, ${cellSqlR12} AS cell12,
         |  ${cellParentSql(cellSqlR12, 12, 8)} AS cell8,
         |  ${tileXSql(cellParentSql(cellSqlR12, 12, 8), 8)} AS tile_x,
         |  ${tileYSql(cellParentSql(cellSqlR12, 12, 8), 8)} AS tile_y
         |FROM pts""".stripMargin) { (s, d) =>
      points12(s, d).select(col("k"), col("cell12"),
        GeoFunctions.cellParent(col("cell12"), lit(8)).as("cell8"),
        GeoFunctions.cellTileX(GeoFunctions.cellParent(col("cell12"), lit(8))).as("tile_x"),
        GeoFunctions.cellTileY(GeoFunctions.cellParent(col("cell12"), lit(8))).as("tile_y"))
    },

    QueryDef.sql("q_geo_spatial_join", spatialJoinOracle) { (s, d) =>
      assigned(s, d).select("k", "region_id")
    },

    QueryDef.sql("q_geo_join_shuffle", spatialJoinOracle) { (s, d) =>
      assigned(s, d, SpatialJoin.Shuffle).select("k", "region_id")
    },

    QueryDef.sql("q_geo_join_distcover", spatialJoinOracle) { (s, d) =>
      // the DISTRIBUTED cover-enrichment path (covers computed on
      // executors from a polygon relation, only the bounded summary
      // collected) must produce the exact same join rows — oracle-checked,
      // not just spec-asserted
      import s.implicits._
      val polyDf = graft.core.Polygons.all
        .map(p => (p.regionId, p.part, p.rings.map(_.toSeq).toSeq))
        .toDF("region_id", "part", "rings")
      SpatialJoin.assign(points(s, d), "k",
        SpatialJoin.coverDFDistributed(polyDf)).select("k", "region_id")
    },

    QueryDef.sql("q_text_extract",
      // B2's green-oracle row (the testdata has no html column, so the
      // fixture html is CONSTRUCTED in-engine from known columns and run
      // through the REAL byte-level extractor; the oracle computes the
      // expected text from the same generating columns directly — it knows
      // the construction, it never re-implements the extractor). The
      // template exercises the whole grammar: tag strip, script AND style
      // block drop, named + decimal + hex entity decode, whitespace
      // collapse + trim
      s"""WITH pts AS (${pointsSql})
         |SELECT k, 'Doc ' || k || ' alpha&beta ' || lang || ' caf' ||
         |  chr(233) || ' / ' || (k % 7) AS text
         |FROM pts""".stripMargin) { (s, d) =>
      val p = points(s, d)
      val html = encode(concat(
        lit("<html><head><meta name=\"geo.position\" content=\""),
        format_string("%.2f", col("lat")), lit(";"),
        format_string("%.2f", col("lon")),
        lit("\">\n<title>Doc "), col("k"),
        lit("</title></head><body>\n<p> alpha&amp;beta  "), col("lang"),
        lit(" </p>\n<style>p { color: red }</style>\n<p>caf&#233; &#x2F; "),
        col("k") % 7,
        lit("</p>\n<script>var x = 1;</script>\n</body></html>")), "UTF-8")
      p.select(col("k"), TextFunctions.extractText(html).as("text"))
    },

    QueryDef.sql("q_geo_geocode",
      // B3's green-oracle row, same construction idea: html built from the
      // fixture lat/lon (%.2f — the fixture coords are exact 2-decimal
      // values, so format->parse round-trips to the same double on both
      // sides: printf + CAST in DuckDB, format_string + the byte-windowed
      // parser in the engine). k%13 rows carry NO marker (null coords),
      // k%11 rows only the ICBM fallback — both parser paths are on the
      // hash
      s"""WITH pts AS (${pointsSql})
         |SELECT k,
         |  CASE WHEN k % 13 = 0 THEN NULL
         |       ELSE CAST(printf('%.2f', lat) AS DOUBLE) END AS lat_g,
         |  CASE WHEN k % 13 = 0 THEN NULL
         |       ELSE CAST(printf('%.2f', lon) AS DOUBLE) END AS lon_g
         |FROM pts""".stripMargin) { (s, d) =>
      val p = points(s, d)
      val marker = when(col("k") % 13 === 0, lit(""))
        .when(col("k") % 11 === 0, concat(
          lit("<meta name=\"ICBM\" content=\""),
          format_string("%.2f", col("lat")), lit(", "),
          format_string("%.2f", col("lon")), lit("\">")))
        .otherwise(concat(
          lit("<meta name=\"geo.position\" content=\""),
          format_string("%.2f", col("lat")), lit(";"),
          format_string("%.2f", col("lon")), lit("\">")))
      val html = encode(concat(lit("<html><head>"), marker,
        lit("<title>Doc "), col("k"),
        lit("</title></head><body><p>body text</p></body></html>")), "UTF-8")
      p.select(col("k"),
        TextFunctions.geoLat(html).as("lat_g"),
        TextFunctions.geoLon(html).as("lon_g"))
    },

    QueryDef.sql("q_geo_assign_outer",
      // LEFT-OUTER assign: every point survives — matched points one row
      // per containing region, unmatched one row with NULL region_id (the
      // single-scan flagship shape; SpatialJoin.assignRegions)
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql}
         |SELECT p.k, m.region_id
         |FROM pts p LEFT JOIN pip_matches m ON p.k = m.k""".stripMargin) { (s, d) =>
      SpatialJoin.assignOuter(points(s, d), "k", SpatialJoin.coverDF(s))
        .select("k", "region_id")
    },

    QueryDef.sql("q_geo_join_salted",
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql}
         |SELECT k, region_id FROM pip_matches WHERE region_id = 7""".stripMargin) { (s, d) =>
      // the mega region drives skew: prove the salted shuffle path returns
      // identical rows for the hot polygon
      assigned(s, d, SpatialJoin.Salted(8))
        .where(col("region_id") === 7).select("k", "region_id")
    },

    QueryDef.sql("q_geo_join_hot",
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql}
         |SELECT k, region_id FROM pip_matches WHERE region_id = 7""".stripMargin) { (s, d) =>
      // identical rows through the PRE-DECLARED hot/cold split
      // (SpatialJoin.Salted with HotTiles): the hot set comes from a
      // tile-stats relation built from the fixture points — the shape of
      // a previous run's persisted coverage output — NOT from a counting
      // scan of the probe input
      val stats = points(s, d)
        .withColumn("tile",
          GeoFunctions.cellEncode(col("lat"), col("lon"), lit(4)))
        .groupBy(GeoFunctions.cellTileX(col("tile")).as("tile_x"),
          GeoFunctions.cellTileY(col("tile")).as("tile_y"))
        .agg(count("*").as("pages"))
      val hot = SpatialJoin.hotTilesFromStats(stats, 4, hotThreshold = 10)
      assigned(s, d, SpatialJoin.Salted(8, Some(SpatialJoin.HotTiles(hot, 4))))
        .where(col("region_id") === 7).select("k", "region_id")
    },

    QueryDef.sql("q_geo_tile_agg", {
      val tile7 = cellParentSql(cellEncodeSql("p.lat", "p.lon", 12), 12, 7)
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql}
         |SELECT ${tileXSql(tile7, 7)} AS tile_x, ${tileYSql(tile7, 7)} AS tile_y,
         |  m.region_id, CAST(count(*) AS BIGINT) AS n
         |FROM pip_matches m JOIN pts p ON m.k = p.k
         |GROUP BY 1, 2, 3""".stripMargin
    }) { (s, d) =>
      TileAgg.perRegion(assigned(s, d), 7).select("tile_x", "tile_y", "region_id", "n")
    },

    QueryDef.sql("q_geo_tile_coverage", {
      val tile7 = cellParentSql(cellEncodeSql("lat", "lon", 12), 12, 7)
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql},
         |tiled AS (SELECT k, ${tileXSql(tile7, 7)} AS tile_x,
         |            ${tileYSql(tile7, 7)} AS tile_y FROM pts),
         |matched AS (SELECT DISTINCT k FROM pip_matches)
         |SELECT tile_x, tile_y, CAST(count(*) AS BIGINT) AS pages,
         |  CAST(count(m.k) AS BIGINT) AS matched
         |FROM tiled LEFT JOIN matched m USING (k)
         |GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      TileAgg.coverage(points(s, d), assigned(s, d), "k", 7)
        .select("tile_x", "tile_y", "pages", "matched")
    },

    QueryDef.sql("q_geo_quadkey", {
      // oracle derives each digit from the Morton payload arithmetically
      // and the coarse key by STRING PREFIX, while the engine goes through
      // cell_parent — so the quadkey prefix property itself is what the
      // hash compare verifies
      val digits = (1 to 12).map { p =>
        val shift = 2 * (12 - p)
        s"CAST(((cell12 & 16777215) >> $shift) & 3 AS VARCHAR)"
      }.mkString(" || ")
      s"""WITH pts AS (${pointsSql}),
         |c AS (SELECT k, ${cellSqlR12} AS cell12 FROM pts)
         |SELECT k, ($digits) AS qk12,
         |  substr(($digits), 1, 7) AS qk7
         |FROM c""".stripMargin
    }) { (s, d) =>
      points12(s, d).select(col("k"),
        GeoFunctions.cellQuadkey(col("cell12")).as("qk12"),
        GeoFunctions.cellQuadkey(
          GeoFunctions.cellParent(col("cell12"), lit(7))).as("qk7"))
    },

    QueryDef.sql("q_geo_tile_pyramid", {
      // oracle recomputes every level INDEPENDENTLY from the raw matches;
      // the engine aggregates once at zMax and rolls coarser levels up
      // from the previous level's aggregates (TileAgg.pyramid)
      def level(z: Int): String = {
        val tz = cellParentSql(cellEncodeSql("p.lat", "p.lon", 12), 12, z)
        s"""SELECT $z AS tile_z, ${tileXSql(tz, z)} AS tile_x, ${tileYSql(tz, z)} AS tile_y, m.region_id, CAST(count(*) AS BIGINT) AS n FROM pip_matches m JOIN pts p ON m.k = p.k GROUP BY 1, 2, 3, 4"""
      }
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql}
         |${(4 to 7).map(level).mkString(" UNION ALL ")}""".stripMargin
    }) { (s, d) =>
      TileAgg.pyramid(assigned(s, d), zMax = 7, zMin = 4)
        .select("tile_z", "tile_x", "tile_y", "region_id", "n")
    },

    QueryDef.sql("q_geo_knn",
      s"""WITH pts AS (SELECT * FROM (${pointsSql}) WHERE k % 100 = 0),
         |feats AS (${featuresSql}),
         |scored AS (
         |  SELECT p.k, f.fid,
         |    (p.lat - f.lat) * (p.lat - f.lat)
         |      + (p.lon - f.lon) * (p.lon - f.lon) AS d2,
         |    row_number() OVER (PARTITION BY p.k ORDER BY
         |      (p.lat - f.lat) * (p.lat - f.lat)
         |        + (p.lon - f.lon) * (p.lon - f.lon), f.fid) AS rank
         |  FROM pts p CROSS JOIN feats f)
         |SELECT k, rank, fid FROM scored WHERE rank <= 3""".stripMargin) { (s, d) =>
      Knn.nearestIndexed(points(s, d).where(col("k") % 100 === 0), "k",
          featureIndex(s, d), "fid", k = 3)
        .select("k", "rank", "fid")
    },

    QueryDef.sql("q_geo_knn_shuffle",
      s"""WITH pts AS (SELECT * FROM (${pointsSql}) WHERE k % 100 = 0),
         |feats AS (${featuresSql}),
         |scored AS (
         |  SELECT p.k, f.fid,
         |    (p.lat - f.lat) * (p.lat - f.lat)
         |      + (p.lon - f.lon) * (p.lon - f.lon) AS d2,
         |    row_number() OVER (PARTITION BY p.k ORDER BY
         |      (p.lat - f.lat) * (p.lat - f.lat)
         |        + (p.lon - f.lon) * (p.lon - f.lon), f.fid) AS rank
         |  FROM pts p CROSS JOIN feats f)
         |SELECT k, rank, fid FROM scored WHERE rank <= 3""".stripMargin) { (s, d) =>
      // the 100x path: sort-merge on the index cell, no full-index
      // broadcast — must equal the broadcast mode's oracle exactly
      Knn.nearestIndexed(points(s, d).where(col("k") % 100 === 0), "k",
          featureIndex(s, d), "fid", k = 3, mode = Knn.Shuffle)
        .select("k", "rank", "fid")
    },

    QueryDef.sql("q_geo_suggest",
      s"""WITH pts AS (SELECT * FROM (${pointsSql})
         |  WHERE k % 50 = 0 AND (wiki_raw LIKE 'http%' OR wiki_raw NOT LIKE '%:%')),
         |feats AS (${featuresSql}),
         |scored AS (
         |  SELECT p.k, f.fid,
         |    row_number() OVER (PARTITION BY p.k ORDER BY
         |      (p.lat - f.lat) * (p.lat - f.lat)
         |        + (p.lon - f.lon) * (p.lon - f.lon), f.fid) AS rank
         |  FROM pts p CROSS JOIN feats f)
         |SELECT s.k, s.rank, s.fid, f.tag_key AS suggested
         |FROM scored s JOIN feats f USING (fid) WHERE s.rank <= 3""".stripMargin) { (s, d) =>
      // the reference's headline feature: for pages whose wikipedia tag is
      // malformed (would route to errors), suggest the tags of the k
      // nearest mapped features — kNN composed with the feature dimension
      val untagged = points(s, d).where(col("k") % 50 === 0 &&
        TextFunctions.tagParse(col("wiki_raw")).isNull)
      // round-6: the suggestion dimension is (fid, tag_key) — the narrow
      // distinct replaces the corpus-wide 5-column distinct (guide §2.3;
      // identical relation, GeoFixtures.featureTagDim)
      val feats = featureTagDim(s, d)
      Knn.nearestIndexed(untagged, "k", featureIndex(s, d), "fid", k = 3)
        .join(feats.select(col("fid"), col("tag_key").as("suggested")), "fid")
        .select(col("k"), col("rank"), col("fid"), col("suggested"))
    },

    QueryDef.sql("q_geo_tag_match",
      s"""WITH pts AS (${pointsSql}),
         |feats AS (${featuresSql}),
         |keyed AS (
         |  SELECT k, lang || ':' ||
         |    upper(substr(replace(substr(wiki_raw, length(lang) + 2), '_', ' '), 1, 1)) ||
         |    substr(replace(substr(wiki_raw, length(lang) + 2), '_', ' '), 2) AS tag_key
         |  FROM pts
         |  WHERE wiki_raw NOT LIKE 'http%' AND wiki_raw LIKE '%:%')
         |SELECT DISTINCT p.k, p.tag_key
         |FROM keyed p JOIN (SELECT DISTINCT tag_key FROM feats) f USING (tag_key)""".stripMargin) { (s, d) =>
      val keyed = points(s, d)
        .withColumn("tag_key", TextFunctions.tagParse(col("wiki_raw")))
        .where(col("tag_key").isNotNull)
      // round-6: distinct over the narrow tag_key projection directly —
      // the previous form shuffled the corpus-wide 5-column distinct
      // first, then reduced it to ~1.5k keys (guide §2.3)
      keyed.join(featureTagKeys(s, d), Seq("tag_key"))
        .select("k", "tag_key").distinct()
    },

    QueryDef.sql("q_geo_tag_untagged",
      s"""WITH pts AS (${pointsSql}),
         |feats AS (${featuresSql}),
         |keyed AS (
         |  SELECT k, lang, lang || ':' ||
         |    upper(substr(replace(substr(wiki_raw, length(lang) + 2), '_', ' '), 1, 1)) ||
         |    substr(replace(substr(wiki_raw, length(lang) + 2), '_', ' '), 2) AS tag_key
         |  FROM pts
         |  WHERE wiki_raw NOT LIKE 'http%' AND wiki_raw LIKE '%:%')
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_untagged
         |FROM keyed p
         |WHERE NOT EXISTS (SELECT 1 FROM feats f WHERE f.tag_key = p.tag_key)
         |GROUP BY lang""".stripMargin) { (s, d) =>
      val keyed = points(s, d)
        .withColumn("tag_key", TextFunctions.tagParse(col("wiki_raw")))
        .where(col("tag_key").isNotNull)
      // round-6: an anti join consumes only the right side's key SET — the
      // vocabulary-sized distinct tag_key dim replaces the corpus-wide
      // wide-row distinct, turning the anti join broadcastable (guide §3.1)
      keyed.join(featureTagKeys(s, d), Seq("tag_key"), "left_anti")
        .groupBy("lang").agg(count("*").as("n_untagged"))
    },

    QueryDef.sql("q_geo_tag_errors",
      s"""WITH pts AS (${pointsSql})
         |SELECT k,
         |  CASE WHEN wiki_raw LIKE 'http://%' OR wiki_raw LIKE 'https://%'
         |         THEN 'url_value'
         |       ELSE 'missing_lang' END AS error_class
         |FROM pts
         |WHERE wiki_raw LIKE 'http%' OR wiki_raw NOT LIKE '%:%'""".stripMargin) { (s, d) =>
      points(s, d)
        .withColumn("error_class", TextFunctions.tagClassify(col("wiki_raw")))
        .where(col("error_class") =!= "ok")
        .select("k", "error_class")
    },

    QueryDef.sql("q_pub_progress",
      // the publish layer's aggregation core (Publish.progressSummary)
      // over a tag-classified, region-assigned feature relation built
      // from the geo fixture. The one-decimal pct column is deliberately
      // NOT oracled: Java's %.1f rounds HALF_UP while C printf rounds
      // half-even, so an exactly-representable x.x5 ratio (e.g. 53/80 =
      // 66.25) would hash-differ; pct stays spec-tested (PublishSpec)
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql},
         |f AS (SELECT m.region_id,
         |        CASE WHEN wiki_raw LIKE 'http://%' OR wiki_raw LIKE 'https://%'
         |               THEN 'url_value'
         |             WHEN wiki_raw NOT LIKE '%:%' THEN 'missing_lang'
         |             ELSE 'ok' END AS error_class
         |      FROM pip_matches m JOIN pts p ON m.k = p.k)
         |SELECT region_id, CAST(count(*) AS BIGINT) AS total,
         |  CAST(sum(CASE WHEN error_class = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS tagged,
         |  CAST(sum(CASE WHEN error_class <> 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS errors
         |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      val feats = assigned(s, d).select(col("region_id"),
        TextFunctions.tagClassify(col("wiki_raw")).as("error_class"))
      graft.operators.Publish.progressSummary(feats)
        .select("region_id", "total", "tagged", "errors")
    },

    QueryDef.sql("q_geo_region_rollup",
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql}
         |SELECT CAST(region_id % 3 AS BIGINT) AS theme, region_id,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM pip_matches GROUP BY ROLLUP (theme, region_id)""".stripMargin) { (s, d) =>
      assigned(s, d)
        .select((col("region_id") % 3).as("theme"), col("region_id"))
        .rollup(col("theme"), col("region_id"))
        .agg(count("*").as("n"))
        .select("theme", "region_id", "n")
    },

    QueryDef.sql("q_geo_theme_rollup",
      // the REAL category-tree dimension (SURVEY §1.4 Category/
      // PageCategory; the reference rolls matches up a curated category →
      // theme hierarchy): a two-level parent/child Category relation
      // derived from nation→region, pages assigned to leaf categories,
      // and the rollup resolved through a PARENT-EDGE SELF-JOIN on the
      // one Category relation — the "deeper trees" path of §2.A10, not a
      // modulo-synthesized theme
      s"""WITH pts AS (${pointsSql}),
         |${pipMatchesSql},
         |category AS (
         |  SELECT r_regionkey AS cat_id, r_name AS name,
         |         CAST(NULL AS BIGINT) AS parent_id FROM region
         |  UNION ALL
         |  SELECT n_nationkey + 100, n_name, CAST(n_regionkey AS BIGINT)
         |  FROM nation),
         |pagecat AS (SELECT k, 100 + k % 25 AS cat_id FROM pts)
         |SELECT p.name AS theme, c.name AS category,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM pip_matches m
         |JOIN pagecat pc ON m.k = pc.k
         |JOIN category c ON pc.cat_id = c.cat_id
         |JOIN category p ON c.parent_id = p.cat_id
         |GROUP BY ROLLUP (theme, category)""".stripMargin) { (s, d) =>
      val category = table(s, d, "region").select(
          col("r_regionkey").cast("long").as("cat_id"),
          col("r_name").as("name"),
          lit(null).cast("long").as("parent_id"))
        .unionByName(table(s, d, "nation").select(
          (col("n_nationkey") + 100).cast("long").as("cat_id"),
          col("n_name").as("name"),
          col("n_regionkey").cast("long").as("parent_id")))
      // parent edge: the SAME relation joined twice (child row -> its
      // parent row), disambiguated by projection — a tiny dim, both hops
      // broadcast
      val child = category.select(col("cat_id").as("c_id"),
        col("name").as("category"), col("parent_id"))
      val parent = category.select(col("cat_id").as("p_id"),
        col("name").as("theme"))
      // round-6 (guide §8 "attach, don't re-join"): pagecat assigns one
      // cat_id per page key, so the assignment rides THROUGH the spatial
      // join as a carried column instead of re-joining the corpus-sized
      // pagecat relation to the matches afterwards — 8 bytes per point in
      // the existing plan vs a second scan + corpus-sized join (which at
      // 100 TB could not be broadcast). Identical rows: k is unique in
      // pagecat, so join-on-k == attach-by-k. Oracle unchanged (it keeps
      // the explicit pagecat JOIN — same rows is the proof).
      val ptsWithCat = points(s, d).withColumn("cat_id",
        lit(100) + col("k") % 25)
      SpatialJoin.assign(ptsWithCat, "k", SpatialJoin.coverDF(s),
          SpatialJoin.Broadcast)
        .select("k", "cat_id")
        .join(broadcast(child), col("cat_id") === col("c_id"))
        .join(broadcast(parent), col("parent_id") === col("p_id"))
        .rollup(col("theme"), col("category"))
        .agg(count("*").as("n"))
        .select("theme", "category", "n")
    })
}
