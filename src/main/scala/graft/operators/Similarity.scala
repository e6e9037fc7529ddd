package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`ARRAY<FLOAT>`).
 *
 * Exact-match discipline: ranking uses a QUANTIZED integer dot product
 * (floor(x*1000) per component, 64-bit accumulation) so scores are
 * order-of-summation independent and bit-identical in Spark and the DuckDB
 * oracle. A double-precision cosine is also provided for reporting.
 *
 * Scale paths: brute-force top-k is the baseline (O(Q x N) — fine when the
 * query set is small and broadcast); the LSH variant buckets vectors by
 * deterministic hyperplane sign bits so candidate generation is
 * bucket-local (the 100 TB path: bucket ids are shuffle keys).
 */
object Similarity {

  /** floor(x*1000) per component, as ARRAY<BIGINT>.
    *
    * Round 6: a codegen expression (functions/VectorExpressions) replaces
    * the `transform` HOF — HOF lambdas evaluate interpreted, one boxed
    * lambda frame per component (guide §4; the K2 re-plan precedent).
    * Bit-identical output (VectorSpec asserts vs the HOF form). */
  def quantized(vec: Column): Column =
    graft.functions.VectorFunctions.quantizeVec(vec)

  /** The r1-r5 HOF form of [[quantized]] — kept as the parity reference
    * for VectorSpec, never on a query path. */
  private[graft] def quantizedHof(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1000).cast("long"))

  /** Integer dot product of two quantized vectors.
    *
    * Round 6: codegen expression (flat loop over UnsafeArrayData) replaces
    * `aggregate(zip_with(...))` — the interpreted per-element lambda pair
    * dominated every q_sim_* plan (this evaluates once per CANDIDATE PAIR
    * x component, the hottest multiply in the ANN family). Null contract
    * preserved exactly: length mismatch or any null component -> null. */
  def qdot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.qdotLong(a, b)

  /** The r1-r5 HOF form of [[qdot]] — parity reference for VectorSpec. */
  private[graft] def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Double cosine similarity (reporting only — not oracle-checked). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Brute-force top-k neighbors by quantized dot product (desc), ties by
    * neighbor id asc; self-pairs excluded. `queries` and `corpus` both
    * need (idCol, vecCol). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      quantized(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("nid"),
      quantized(col(vecCol)).as("nv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid"))
    q.join(c, col("qid") =!= col("nid"))
      .withColumn("score", qdot(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("score"))
  }

  /** Deterministic pseudo-hyperplane sign: component i of plane j is
    * +1 when (i*31 + j*17) % 7 < 3 else -1 (fixed, seedless, and trivially
    * reproducible in SQL). Bucket id packs `planes` sign bits.
    *
    * Round 6: one codegen expression computes all `planes` sign sums in a
    * single pass over the vector, replacing `planes` separate interpreted
    * `aggregate(zip_with(...))` trees that each re-quantized the vector
    * (no common-subexpression elimination in interpreted eval). Identical
    * output including the degenerate cases (null vector / length != dim /
    * null component -> bucket 0) — asserted in VectorSpec. */
  def lshBucket(vec: Column, dim: Int, planes: Int): Column =
    graft.functions.VectorFunctions.lshBucket(vec, dim, planes)

  /** The r1-r5 HOF form of [[lshBucket]] — parity reference for VectorSpec. */
  private[graft] def lshBucketHof(vec: Column, dim: Int, planes: Int): Column = {
    val qv = quantizedHof(vec)
    (0 until planes).map { j =>
      val signedSum = aggregate(
        zip_with(qv, lshPlane(dim, j),
          (x, s) => x * s),
        lit(0L), (acc, v) => acc + v)
      when(signedSum > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  private def lshPlane(dim: Int, j: Int): Column =
    array((0 until dim).map(i =>
      lit(if ((i * 31 + j * 17) % 7 < 3) 1L else -1L)): _*)

  /** IVF-flat ANN: a deterministic coarse quantizer (every `centroidEvery`-th
    * corpus vector is a centroid — at production scale the centroids come
    * from a k-means job, but the operator shape is identical), inverted
    * lists keyed by nearest centroid, queries probe their `nprobe` nearest
    * centroids and rescore exactly (quantized dot) inside the probed lists.
    * All shuffles key on centroid id — bucket-local at 100 TB. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, centroidEvery: Int = 50,
              nprobe: Int = 4): DataFrame = {
    val cents = corpus.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), quantized(col(vecCol)).as("cv"))
    // corpus -> nearest centroid is an ARGMAX, not a window: max_by is a
    // declarative aggregate with map-side partial aggregation, so the
    // corpus x centroids candidate rows collapse to one row per vector
    // BEFORE the shuffle — a window would shuffle all N x C raw rows at
    // 100 TB. Tie-break (higher cscore, then smaller cent_id) matches the
    // window ordering the oracle uses.
    val corpusAssigned = corpus
      .select(col(idCol).as("nid"), quantized(col(vecCol)).as("nv"))
      .crossJoin(broadcast(cents))
      .withColumn("cscore", qdot(col("nv"), col("cv")))
      .groupBy(col("nid"))
      .agg(
        max_by(col("cent_id"), struct(col("cscore"), -col("cent_id"))).as("cent_id"),
        first(col("nv")).as("nv")) // nv is constant within the group
    // queries probe their nprobe nearest centroids: tiny side, window is fine
    val queryProbes = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cscore").desc, col("cent_id"))
      queries.select(col(idCol).as("qid"), quantized(col(vecCol)).as("qv"))
        .crossJoin(broadcast(cents))
        .withColumn("cscore", qdot(col("qv"), col("cv")))
        .withColumn("crank", row_number().over(w))
        .where(col("crank") <= nprobe)
        .drop("cv", "cscore", "crank")
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid"))
    queryProbes.join(corpusAssigned, Seq("cent_id"))
      .where(col("qid") =!= col("nid"))
      .withColumn("score", qdot(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("score"))
  }

  /** Bucketed ANN: candidates share the query's bucket (or any bucket at
    * Hamming distance <= 1 when `probe1` — multiprobe improves recall),
    * then exact quantized scoring + top-k inside the candidate set.
    *
    * Skew: `hotSalt > 1` salts detected hot buckets (corpus bucket size >
    * `hotThreshold`, measured by a first-pass count like SpatialJoin's
    * adaptive mode) — probes of hot buckets take a salt from their qid,
    * the corpus rows of hot buckets replicate xS, cold buckets salt 0:
    * ONE conditional-salt join over one pass of each relation (a
    * hot/cold union would scan both inputs twice). Results are identical
    * across salting configurations (asserted in KnnSpec): the candidate
    * pair SET is unchanged, only its partitioning spreads.
    *
    * `hotBuckets` pre-declares the hot set and skips the detection count
    * entirely — the ANN twin of SpatialJoin.Salted with HotTiles: bucket
    * populations are stable across crawl cycles (they depend on the
    * corpus distribution, not the queries), so a persisted bucket
    * profile from the previous cycle buys skew handling with zero extra
    * passes over the corpus. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, planes: Int,
              probe1: Boolean = true, hotSalt: Int = 1,
              hotThreshold: Long = Long.MaxValue,
              hotBuckets: Seq[Long] = Nil,
              maxHot: Int = 65536): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"),
      quantized(col(vecCol)).as("nv"),
      lshBucket(col(vecCol), dim, planes).as("bucket"))
    val qBase = queries.select(col(idCol).as("qid"),
      quantized(col(vecCol)).as("qv"),
      lshBucket(col(vecCol), dim, planes).as("qbucket"))
    val probes =
      if (!probe1) qBase.withColumn("bucket", col("qbucket"))
      else qBase.withColumn("bucket", explode(array(
        (col("qbucket") +: (0 until planes).map(j =>
          col("qbucket").bitwiseXOR(lit(1L << j)))): _*)))

    val candidates =
      if (hotSalt <= 1) probes.join(c, Seq("bucket"))
      else {
        // round-6 (r5 verdict "what's wrong #1"): detection collect is
        // bounded with the hotTilesFromStats loud-failure contract — an
        // unbounded hot-bucket list must never reach driver memory / an
        // InSet literal on a 100-TB corpus with a too-low threshold.
        val hot: Seq[java.lang.Long] =
          if (hotBuckets.nonEmpty) hotBuckets.map(Long.box)
          else {
            val detected = c.groupBy(col("bucket")).count()
              .where(col("count") > hotThreshold)
              .select(col("bucket")).orderBy(col("bucket"))
              .limit(maxHot + 1).collect()
              .map(r => Long.box(r.getLong(0))).toSeq
            require(detected.length <= maxHot,
              s"more than $maxHot buckets exceed hotThreshold=$hotThreshold; " +
                "raise the threshold or pre-declare hotBuckets from a " +
                "previous cycle's bucket profile")
            detected
          }
        if (hot.isEmpty) probes.join(c, Seq("bucket"))
        else {
          // ONE conditional-salt join, not a hot/cold two-branch union:
          // each union branch would materialize from its own scan of the
          // query and corpus relations — the double-read SpatialJoin's
          // saltedSplitJoin measures and avoids (same shape here)
          val isHot = col("bucket").isInCollection(hot)
          val salted = probes.withColumn("salt",
            when(isHot, pmod(xxhash64(col("qid")), lit(hotSalt)).cast("int"))
              .otherwise(lit(0)))
          val corpusRep = c.withColumn("salt",
            explode(sequence(lit(0),
              when(isHot, lit(hotSalt - 1)).otherwise(lit(0)))))
          salted.join(corpusRep.hint("merge"), Seq("bucket", "salt"))
            .drop("salt")
        }
      }

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid"))
    candidates
      .where(col("qid") =!= col("nid"))
      .withColumn("score", qdot(col("qv"), col("nv")))
      .dropDuplicates("qid", "nid")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("score"))
  }
}
