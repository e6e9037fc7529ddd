package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Publish, Similarity, TextAnalysis}

/** Round-6 robustness items from the r5 verdict/advice: bounded adaptive
  * LSH hot-detection collect (loud failure, never an unbounded driver
  * list), null-key capping, null-text unit dedup, null-tag_key publish
  * rows. */
class RobustnessSpec extends SparkTestBase {
  import spark.implicits._

  test("adaptive LSH hot-detection fails loudly past maxHot") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(emb.where(col("vec_id") % 97 === 0), emb,
        "vec_id", "embedding", k = 3, dim = 64, planes = 8,
        hotSalt = 2, hotThreshold = 0, maxHot = 1).count()
    }
    assert(e.getMessage.contains("hotThreshold"))
    assert(e.getMessage.contains("hotBuckets"))
  }

  test("capPerKey caps null-key groups too (null-safe threshold join)") {
    val docs = (1 to 8).map(i => (i.toLong, Option.empty[String])) ++
      (9 to 11).map(i => (i.toLong, Some("small")))
    val df = docs.toDF("doc_id", "key")
    val out = Curation.capPerKey(df, "key", "doc_id", cap = 3)
    val byKey = out.groupBy("key").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byKey(None) == 3L, s"null-key group must be capped, got $byKey")
    assert(byKey(Some("small")) == 3L) // at cap: untouched
    // determinism: the kept null-key subset is the md5-order prefix
    val again = Curation.capPerKey(df, "key", "doc_id", cap = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("dedupUnits keeps null-text documents with empty clean_text") {
    val df = Seq((1L, "a b a"), (2L, null), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupUnits(df, "doc_id", "text", " ")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"all docs must survive: $out")
    assert(out(2L) == "")
    assert(out(1L) == "a b") // repeated 'a' within doc 1: first kept
    assert(out(3L) == "c") // 'a' already seen at (1,0)
  }

  test("progressPages renders ok-rows with null tag_key instead of dropping") {
    val feats = Seq(
      (1L, 10L, "node", Some("en:Foo"), "ok"),
      (1L, 11L, "node", Option.empty[String], "ok"), // the advice case
      (1L, 12L, "way", Option.empty[String], "url_value"))
      .toDF("region_id", "feature_id", "feature_type", "tag_key", "error_class")
    val html = Publish.progressPages(feats).select("html").collect()(0).getString(0)
    assert(html.contains("<td>10</td>"))
    assert(html.contains("<td>11</td>"), "null-tag_key ok row must render")
    assert(html.contains("missing_tag_key"))
    // the table row count equals the total the summary reports
    assert(html.split("<tr><td>").length - 1 == 3)
  }
}
