package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.sources.Tables
import graft.functions.QDot

/** Similarity search over the `embeddings` fixture (vec_id, embedding
  * ARRAY<FLOAT> dim 64, label) — the LLM-pipeline ANN north star.
  *
  * Cross-engine determinism: embeddings are quantized to integers
  * (floor(x·10⁶) as BIGINT — float→double widening is exact and floor of a
  * correctly-rounded double is identical in Spark and DuckDB), so dot
  * products and norms are EXACT integer sums, order-independent, and scores
  * derived from them (one sqrt + one divide on identical inputs) are
  * bit-identical IEEE doubles on both engines. Scores are emitted in basis
  * points with a floor that both engines compute on the same double.
  *
  * Scale posture (100 TB): brute-force top-k broadcasts the bounded query
  * set and makes ONE linear scan of the corpus (per-partition top-k via
  * window, no corpus shuffle beyond the final k·|Q| rows); the LSH variant
  * buckets the corpus by sign-random-projection so candidate generation is
  * an equi-join on the bucket key — the corpus never self-cross-joins.
  */
object Similarity {

  /** Rule 4 (object doc): the `keep` columns of the embeddings, the
    * quantized vector `ql` (native QDot.quantize, floor(x·10⁶) as BIGINT)
    * and its exact squared norm `nrm` (native QDot: Σ ql[i]²). */
  private def quantized(s: SparkSession, dir: String, keep: Column*): DataFrame =
    Tables.embeddings(s, dir)
      .select(keep :+ QDot.quantize(col("embedding")).as("ql"): _*)
      .withColumn("nrm", QDot(col("ql"), col("ql")))

  /** The exact 64-dim dot product of quantized vectors `a` and `b` in
    * DuckDB SQL: the oracle's mirror of QDot. */
  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(0, 64), i -> $a[i+1] * $b[i+1])) AS BIGINT)"

  /** The oracle's mirror of [[quantized]]: CTE `e` (`keep` and `ql`), and
    * CTE `n` (`keep`, `ql`, `nrm`, then `extra`). */
  private def quantizedSql(keep: String, extra: String = ""): String =
    s"""WITH e AS (SELECT $keep,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS ql
       |  FROM embeddings),
       |n AS (SELECT $keep, ql,
       |  ${dotSql("ql", "ql")} AS nrm$extra
       |  FROM e)""".stripMargin

  /** Deterministic pseudo-random hyperplane weight in {-3..3}:
    * w(i,j) = ((i·2654435761 + j·40503) % 7) − 3. Same integer arithmetic in
    * both engines; i is the 0-based dimension, j the 0-based plane. */
  private[graft] def planeWeightExpr(i: String, j: String): String =
    s"((($i) * 2654435761 + ($j) * 40503) % 7) - 3"

  /** 8-bit sign-LSH bucket of a quantized vector in DuckDB SQL: the
    * oracle's mirror of the native EmbedOps.lshBucket (OperatorsSpec pins
    * the kernel against the same math in Spark built-ins). */
  private def bucketSql(qlCol: String): String = {
    val bits = (0 until 8).map { j =>
      val dot = s"list_sum(list_transform(range(0, 64), " +
        s"i -> $qlCol[i + 1] * (${planeWeightExpr("i", j.toString)})))"
      s"(CASE WHEN $dot > 0 THEN ${1 << j} ELSE 0 END)"
    }
    bits.mkString(" + ")
  }

  /** score_bp = floor(10⁴·dot / (‖a‖·‖b‖)) on exact integer inputs. */
  private def scoreBp(dot: Column, na: Column, nb: Column): Column =
    floor(lit(10000.0) * dot / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
      .cast("long")

  private val scoreBpSql =
    "CAST(floor(10000.0 * dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))) AS BIGINT)"

  val queries: Seq[Q] = Seq(
    // ---- Brute-force cosine top-k: the correctness baseline every ANN
    // variant is measured against. Bounded query set broadcasts; corpus
    // scanned once.
    Q(
      "sim_topk_bruteforce",
      (s, dir) => {
        val e = quantized(s, dir, col("vec_id"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("ql").as("qv"), col("nrm").as("qn"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            scoreBp(QDot(col("qv"), col("ql")), col("qn"), col("nrm")).as("score_bp"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(desc("score_bp"), asc("n_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("n_id"), col("score_bp"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""${quantizedSql("vec_id")},
              |q AS (SELECT vec_id AS q_id, ql AS qv, nrm AS qn FROM n WHERE vec_id < 5),
              |scored AS (
              |  SELECT q_id, vec_id AS n_id,
              |    ${dotSql("qv", "ql")} AS dot,
              |    qn AS na, nrm AS nb
              |  FROM n CROSS JOIN q WHERE vec_id <> q_id),
              |ranked AS (
              |  SELECT q_id, n_id, $scoreBpSql AS score_bp,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY $scoreBpSql DESC, n_id ASC) AS rank
              |  FROM scored)
              |SELECT q_id, rank, n_id, score_bp
              |FROM ranked WHERE rank <= 10
              |ORDER BY q_id, rank""".stripMargin),
      headline = true),

    // ---- All-pairs above threshold, blocked on the bounded `label` key —
    // the embedding-cosine near-dup operator.
    Q(
      "sim_pairs_threshold",
      (s, dir) => {
        val e = quantized(s, dir, col("vec_id"), col("label"))
        e.as("a").join(e.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
            col("a.label").as("label"),
            scoreBp(QDot(col("a.ql"), col("b.ql")), col("a.nrm"), col("b.nrm")).as("score_bp"))
          .filter(col("score_bp") >= 2500)
          .orderBy(col("v1"), col("v2"))
      },
      Some(s"""${quantizedSql("vec_id, label")},
              |pairs AS (
              |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label,
              |    ${dotSql("a.ql", "b.ql")} AS dot,
              |    a.nrm AS na, b.nrm AS nb
              |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
              |SELECT v1, v2, label, $scoreBpSql AS score_bp
              |FROM pairs
              |WHERE $scoreBpSql >= 2500
              |ORDER BY v1, v2""".stripMargin)),

    // ---- Sign-LSH bucketing + in-bucket exact rerank: the ANN scale path.
    // Candidate generation is an equi-join on the 8-bit bucket key;
    // hyperplanes are deterministic integer weights so the whole operator
    // (bucketing included) is oracle-checkable — unusual for an ANN.
    Q(
      "sim_ann_lsh",
      (s, dir) => {
        // bucket is the native EmbedOps.lshBucket kernel (same exact integer
        // math as bucketSql above, the oracle's mirror): the
        // built-in form ran 8 planes × aggregate(transform(sequence(0,63)))
        // = 512 interpreted lambda calls per row (guide §4.1 — prefer
        // codegen'd expressions in the hot path). With the bucket native,
        // the r21 fanOut no longer pays (0.56 s plain vs 0.79 fanned median
        // at sf0.1; 10× fixture scans arrive ≥ cores partitions anyway), so
        // the scan is direct again — one less Exchange.
        val e = quantized(s, dir, col("vec_id"))
          .withColumn("bucket", QDot.lshBucket(col("ql")))
        e.as("a").join(e.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
            col("a.bucket").as("bucket"),
            scoreBp(QDot(col("a.ql"), col("b.ql")), col("a.nrm"), col("b.nrm")).as("score_bp"))
          .filter(col("score_bp") >= 0)
          .orderBy(col("v1"), col("v2"))
      },
      Some(s"""${quantizedSql("vec_id", s",\n  CAST(${bucketSql("ql")} AS BIGINT) AS bucket")},
              |pairs AS (
              |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.bucket AS bucket,
              |    ${dotSql("a.ql", "b.ql")} AS dot,
              |    a.nrm AS na, b.nrm AS nb
              |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT v1, v2, bucket, $scoreBpSql AS score_bp
              |FROM pairs
              |WHERE $scoreBpSql >= 0
              |ORDER BY v1, v2""".stripMargin)),

    // ---- IVF (inverted-file) ANN: KMeans coarse quantizer partitions the
    // corpus into 16 cells; each query probes its 2 nearest cells and
    // reranks exactly (quantized dot). The scan per query drops from N to
    // ~N·(probes/cells); at 100 TB the cells are the partition key, so a
    // probe touches only its cells' partitions. Centroid math is driver-
    // side but bounded by k·dim, never corpus size. Model-seeded → rows
    // only; recall vs the brute-force baseline is scalatested.
    Q(
      "sim_ivf_topk",
      (s, dir) => {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        // Persisted: `e` feeds the KMeans fit AND the cell-assignment
        // transform, and `assigned` feeds the bounded query collect AND the
        // probe join — without the caches the scan+quantize chain runs ~3×
        // (guide §2.4 / §5). Values and partitioning are unchanged, so the
        // seeded fit is unchanged.
        val e = quantized(s, dir, col("vec_id"), col("embedding"))
          .withColumn("fv", array_to_vector(col("embedding").cast("array<double>")))
          .persist()
        val km = new KMeans().setK(16).setSeed(42L)
          .setFeaturesCol("fv").setPredictionCol("cell")
        val model = km.fit(e.select(col("fv")))
        val assigned = model.transform(e)
          .select(col("vec_id"), col("ql"), col("nrm"), col("cell"))
          .persist()
        val centers = model.clusterCenters // bounded: k × dim
        val queries = assigned.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("ql").as("qv"), col("nrm").as("qn"))
          .collect() // bounded: |Q| rows
        val probes = queries.flatMap { r =>
          val qv = r.getSeq[Long](1).toArray
          centers.zipWithIndex
            .map { case (c, i) =>
              val dist = c.toArray.zip(qv.map(_ / 1e6)).map { case (a, b) =>
                val d = a - b; d * d
              }.sum
              (i, dist)
            }
            .sortBy(_._2).take(2)
            .map { case (cell, _) => (r.getLong(0), cell) }
        }.toSeq
        val probeDf = s.createDataFrame(probes).toDF("q_id", "cell")
        val qDf = s.createDataFrame(
          queries.map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq)
          .toDF("q_id", "qv", "qn")
        val w = Window.partitionBy(col("q_id"))
          .orderBy(desc("score_bp"), asc("n_id"))
        assigned
          .join(broadcast(probeDf), "cell")
          .join(broadcast(qDf), "q_id")
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            scoreBp(QDot(col("qv"), col("ql")), col("qn"), col("nrm")).as("score_bp"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("n_id"), col("score_bp"))
          .orderBy(col("q_id"), col("rank"))
      },
      None)
  )
}
