package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.sources.Tables
import graft.functions.{Cleaning, Words}

/** Deduplication operators over the `documents` fixture — the LLM-pipeline
  * north star (exact, bag-of-words, n-gram Jaccard, SimHash, MinHash+LSH).
  * No reference analogue (the reference never dedups); designed Spark-first.
  *
  * Cross-engine determinism: fingerprints are md5 (bit-identical) or
  * integer-arithmetic hashes (the SimHash word hash is a small polynomial
  * over character codes — exact in BIGINT on both engines); Jaccard scores
  * are basis-point integers via floor-division.
  *
  * Scale posture (100 TB): exact/BoW dedup is one hash-partitioned groupBy on
  * the fingerprint (shuffle O(docs), no pairwise work); Jaccard pairs are
  * blocked on a bounded key (`source`) so the quadratic blowup is per-block,
  * and the word-set join forms only pairs that share a prefix word;
  * SimHash reduces near-dup detection to an equality/band join on a 16-bit
  * key; MinHashLSH (the real 100 TB path) is banded bucket-join — candidate
  * pairs only, never all-pairs.
  */
object Dedup {

  private def cleanCol: Column = Cleaning.cleanText(col("text"))

  /** dedup_jaccard_pairs' threshold t = JNum/JDen (j_bp >= 9000), exact in
    * integers: the prefix length, the length filter and the verify all use
    * it. */
  private val JNum = 9
  private val JDen = 10

  /** Exact Jaccard |a∩b|/|a∪b| in basis points, floor-divided (rule 2),
    * from the intersection size `ni` and the set sizes `na`, `nb`. */
  private def jaccardBp(ni: Column, na: Column, nb: Column): Column =
    floor(lit(10000) * ni / (na + nb - ni)).cast("long")

  /** The oracles' exact-Jaccard pairs of CTE `d` (doc_id, source and a set
    * column `set`) at `j_bp >= minBp`: every pair of a source sharing a
    * member (aliased `tok`), its intersection counted by a join, then
    * scored as [[jaccardBp]]. Ends the query: `d1, d2, j_bp` by (d1, d2). */
  private def jaccardSql(set: String, tok: String, minBp: Int): String =
    s"""tok AS (SELECT doc_id, source, unnest($set) AS $tok FROM d),
       |sizes AS (SELECT doc_id, len($set) AS n FROM d),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
       |  FROM tok a JOIN tok b
       |    ON a.$tok = b.$tok AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  CAST((10000 * ni) // (sa.n + sb.n - ni) AS BIGINT) AS j_bp
       |FROM inter
       |JOIN sizes sa ON d1 = sa.doc_id
       |JOIN sizes sb ON d2 = sb.doc_id
       |WHERE (10000 * ni) // (sa.n + sb.n - ni) >= $minBp
       |ORDER BY d1, d2""".stripMargin

  /** DuckDB mirror of the native TokenOps.strHash31 kernel (graft.functions):
    * weighted character-code sum × Knuth multiplier mod a Mersenne prime.
    * Keep in lockstep with TokenOps.strHash31. */
  private def wordHashSql(wordCol: String): String =
    s"((list_sum(list_transform(range(1, len($wordCol) + 1), " +
      s"k -> k * ascii(substring($wordCol, k, 1)))) * 2654435761) % 2147483647)"

  val queries: Seq[Q] = Seq(
    // ---- Exact dedup: md5 fingerprint → hash-group → canonical = min id.
    // One shuffle on the fingerprint; O(docs) at any scale.
    Q(
      "dedup_exact",
      (s, dir) => {
        val w = Window.partitionBy(col("doc_md5"))
        TextOps.docs(s, dir)
          .select(col("doc_id"), md5(cleanCol.cast("binary")).as("doc_md5"))
          .withColumn("canonical_id", min(col("doc_id")).over(w))
          .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH h AS (SELECT doc_id, md5(${Cleaning.CleanTextSql}) AS doc_md5 FROM documents)
              |SELECT doc_id, doc_md5,
              |  min(doc_id) OVER (PARTITION BY doc_md5) AS canonical_id,
              |  CAST(doc_id <> min(doc_id) OVER (PARTITION BY doc_md5) AS INT) AS is_dup
              |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- Dedup stats: corpus-level uniqueness under exact, bag-of-words
    // (order-insensitive) and distinct-word-set normalization.
    Q(
      "dedup_stats",
      (s, dir) => {
        // Persist the cleaned text: the three fingerprints below each
        // reference it (CollapseProject would inline the 8-regex chain into
        // all three, running it 3× per doc — guide §2.4 / §5).
        val cleaned = TextOps.docs(s, dir)
          .select(cleanCol.as("clean"))
          .persist()
        val words = Words(col("clean"))
        cleaned
          .select(
            md5(col("clean").cast("binary")).as("h_exact"),
            md5(array_join(sort_array(words), " ").cast("binary")).as("h_bow"),
            md5(array_join(sort_array(array_distinct(words)), " ").cast("binary")).as("h_set"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("h_exact")).as("n_unique_exact"),
            countDistinct(col("h_bow")).as("n_unique_bow"),
            countDistinct(col("h_set")).as("n_unique_set"))
      },
      Some(s"""WITH c AS (SELECT ${Cleaning.CleanTextSql} AS clean FROM documents),
              |h AS (SELECT md5(clean) AS h_exact,
              |  md5(array_to_string(list_sort(${Cleaning.WordsSql}), ' ')) AS h_bow,
              |  md5(array_to_string(list_sort(list_distinct(${Cleaning.WordsSql})), ' ')) AS h_set
              |  FROM c)
              |SELECT count(*) AS n_docs,
              |  count(DISTINCT h_exact) AS n_unique_exact,
              |  count(DISTINCT h_bow) AS n_unique_bow,
              |  count(DISTINCT h_set) AS n_unique_set
              |FROM h""".stripMargin)),

    // ---- Exact word-set Jaccard near-dup pairs (J >= JNum/JDen), blocked on
    // the bounded `source` key, as a prefix-filtered join (AllPairs/PPJoin):
    // only pairs sharing a prefix word inside a block are ever formed, and
    // each is verified exactly. Score in exact basis points.
    Q(
      "dedup_jaccard_pairs",
      (s, dir) => {
        // Each doc's distinct words are sorted once (the merge-scan verify
        // needs ascending sets), and only their prefixes under TokenOps'
        // global order are exploded. A pair with J >= t shares a prefix
        // word, so the self-join on (source, prefix word) loses none. On
        // the near_dup benchmark corpus (seed 7) it matches 80,987 keys
        // where the full word explode matched 1,476,244 and counted them
        // per pair, and verifies the 25,654 that pass the length filter.
        //
        // The join condition runs left to right and short-circuits: doc
        // order and the length filter t·|x| <= |y| (both ways) come before
        // the exact verify (den+num)·|x∩y| >= num·(|x|+|y|), which is
        // den·|x∩y| >= num·|x∪y|, i.e. j_bp >= 10000·t. As a `filter` after
        // the join, Catalyst would push the verify into the condition ahead
        // of the cheap predicates. The shuffle-hash hint keeps the sets off
        // a broadcast (a broadcast build side collects every row's `ws`
        // into one relation sent to every task); both sides read one
        // reused exchange, so the cleaning chain runs once per doc without
        // a cache. Pairs sharing several prefix words repeat, hence the
        // `distinct`.
        //
        // A NULL text gets the empty set, which, like NULL, explodes to no
        // rows. `ws` is then non-nullable, so Catalyst infers no
        // isnotnull(ws) filter, which would run the cleaning chain in the
        // scan's single task ahead of the fan-out.
        val docs = TextOps.docs(s, dir)
          .select(col("doc_id"), col("source"),
            coalesce(sort_array(array_distinct(Words(cleanCol))),
              typedLit(Array.empty[String])).as("ws"))
          .select(col("doc_id"), col("source"), col("ws"),
            size(col("ws")).cast("long").as("n"),
            explode(graft.functions.JaccardPrefix(col("ws"), JNum, JDen)).as("w"))
        val (a, b) = (docs.as("a"), docs.as("b"))
        val ni = graft.functions.SortedIntersectSize(col("a.ws"), col("b.ws"))
        a.hint("shuffle_hash").join(b,
            col("a.source") === col("b.source") && col("a.w") === col("b.w") &&
              col("a.doc_id") < col("b.doc_id") &&
              lit(JNum) * col("a.n") <= lit(JDen) * col("b.n") &&
              lit(JNum) * col("b.n") <= lit(JDen) * col("a.n") &&
              lit(JDen + JNum) * ni >= lit(JNum) * (col("a.n") + col("b.n")))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            jaccardBp(ni, col("a.n"), col("b.n")).as("j_bp"))
          .distinct()
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH c AS (SELECT doc_id, source, ${Cleaning.CleanTextSql} AS clean FROM documents),
              |d AS (SELECT doc_id, source,
              |  list_distinct(${Cleaning.WordsSql}) AS ws
              |  FROM c),
              |${jaccardSql("ws", "word", 9000)}""".stripMargin)),

    // ---- n-gram (3-shingle) Jaccard near-dup pairs. Word-SET Jaccard is
    // saturated on this small-vocabulary corpus (hundreds of ≥0.9 pairs);
    // shingle Jaccard isolates the one genuinely near-identical pair —
    // word ORDER is the discriminative signal. Same blocked explode+count
    // shape as the word-set variant.
    Q(
      "dedup_shingle_jaccard",
      (s, dir) => {
        // Persisted LAZILY for the same reason as dedup_jaccard_pairs:
        // clean+shingle feeds both self-join sides and the sizes table
        // (measured 5.2 s → 3.7 s fresh at sf0.1 local[32]). Eager
        // materialization (OPTIMIZATION_r22.md) REVERTED with numbers: the
        // materialized cache's true size flips the shingle self-join to
        // sort-merge and the (d1,d2) partial agg loses doc-locality —
        // 11.6–16.4 s lazy vs 26.5–34.2 s eager at the 10× fixture.
        // No filter on the word count: ShingleSet gives [] below 3 words,
        // which explodes to no rows, and Catalyst would push such a filter
        // below the fan-out exchange, cleaning every doc twice, once in the
        // scan's single task.
        val docs = TextOps.docs(s, dir)
          .select(col("doc_id"), col("source"),
            graft.functions.ShingleSet(Words(cleanCol)).as("sh"))
          .persist()
        val tok = docs.select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
        val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
        tok.as("a").join(tok.as("b"),
            col("a.g") === col("b.g") && col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("ni"))
          .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "na"), "d1")
          .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "nb"), "d2")
          .select(col("d1"), col("d2"), jaccardBp(col("ni"), col("na"), col("nb")).as("j_bp"))
          .filter(col("j_bp") >= 2000)
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH c AS (SELECT doc_id, source, ${Cleaning.CleanTextSql} AS clean FROM documents),
              |w AS (SELECT doc_id, source,
              |  ${Cleaning.WordsSql} AS w
              |  FROM c),
              |d AS (SELECT doc_id, source,
              |  list_distinct(list_transform(generate_series(1, len(w) - 2),
              |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
              |  FROM w WHERE len(w) >= 3),
              |${jaccardSql("sh", "g", 2000)}""".stripMargin),
      headline = true),

    // ---- SimHash-16 fingerprint: per-word 31-bit hashes vote (weighted by
    // term frequency) on each of 16 bits. Near-dups land at small hamming
    // distance, turning near-dup search into an equality/band join.
    Q(
      "dedup_simhash",
      (s, dir) => {
        // Per-row native SimHash16 (guide §2.4): the previous explode →
        // groupBy(doc_id, word) count → 16-bit-sum groupBy(doc_id) shuffled
        // the exploded token stream TWICE to regroup values already
        // co-located in the row's array. Voting ±1 per occurrence equals
        // Σ cnt·(±1) over distinct words exactly, so the fingerprint is
        // bit-identical (oracle-checked) and both Exchanges vanish. The
        // filter replicates explode's drop of token-less docs. SimHash16 of
        // no words is 0, a legal fingerprint, so the filter cannot move onto
        // the output instead.
        Tables.nonEmpty(TextOps.docs(s, dir).select(col("doc_id"), Words(cleanCol).as("w")),
            "w")
          .select(col("doc_id"),
            graft.functions.SimHash16(col("w")).as("simhash16"))
          .orderBy(col("doc_id"))
      },
      Some {
        val bitSumCols = (0 until 16).map { j =>
          val pow = 1L << j
          s"sum(cnt * (2 * ((wh // $pow) % 2) - 1)) AS s$j"
        }.mkString(",\n              ")
        val hashExpr = (0 until 16).map { j =>
          s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH c AS (SELECT doc_id, ${Cleaning.CleanTextSql} AS clean FROM documents),
           |tok AS (
           |  SELECT doc_id, word, count(*) AS cnt
           |  FROM c, unnest(${Cleaning.WordsSql}) AS u(word)
           |  GROUP BY 1, 2),
           |hashed AS (SELECT doc_id, cnt, ${wordHashSql("word")} AS wh FROM tok),
           |bits AS (SELECT doc_id,
           |  $bitSumCols
           |  FROM hashed GROUP BY doc_id)
           |SELECT doc_id, CAST($hashExpr AS BIGINT) AS simhash16
           |FROM bits ORDER BY doc_id""".stripMargin
      }),

    // ---- MinHash + LSH (the 100 TB near-dup path): shingle → 16 minhash
    // permutations → 4 bands of 4 → bucket equi-join → exact-Jaccard
    // rerank. Hand-built with deterministic integer hashes (no model
    // seeding, no mega-bucket degeneracy — word-level MLlib MinHashLSH on
    // this saturated-vocabulary corpus benchmarked minutes at sf0.1; this
    // runs in seconds). Candidates are pairs agreeing on ≥1 full band;
    // false positives are removed by the exact rerank, so output ⊆ the
    // oracle-checked dedup_shingle_jaccard at the same threshold.
    // Scale: one min-aggregate pass (map-side combine), one equi-join on
    // band keys, exact verification only on candidates — never all-pairs.
    Q(
      "dedup_minhash_lsh",
      (s, dir) => {
        // Persisted LAZILY: the shingle sets feed the minhash signatures AND
        // the exact rerank (`sets`) — one clean+shingle pass instead of two.
        // Eager materialization (OPTIMIZATION_r22.md) REVERTED with numbers:
        // accurate IMR stats flip the rerank joins to sort-merge — 7.4–9.5 s
        // lazy vs 14.9–32.8 s eager at the 10× fixture. Docs with fewer than
        // 3 words (no shingle) are dropped.
        val docs = Tables.nonEmpty(TextOps.docs(s, dir)
          .select(col("doc_id"), graft.functions.ShingleSet(Words(cleanCol)).as("sh")), "sh")
        // 16 minhashes in ONE pass over each row's shingle array (native
        // MinHashSig; guide §2.4): the previous explode + strHash31 +
        // 16-min groupBy(doc_id) shuffled O(shingles) rows only to regroup
        // values already co-located in the row. Mins are order-independent
        // exact integers over the same set → signatures bit-identical
        // (snapshot-proven); one Exchange gone from the plan.
        val sigs = docs
          .select(col("doc_id"), graft.functions.MinHashSig(col("sh")).as("sig"))
        val bands = sigs.select(col("doc_id"), posexplode(array((0 until 4).map { b =>
          concat_ws(",", (0 until 4).map(r => element_at(col("sig"), 4 * b + r + 1)): _*)
        }: _*)).as(Seq("band", "key")))
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct()
        val sets = docs.select(col("doc_id"), sort_array(col("sh")).as("sh"))
        cand
          .join(sets.withColumnRenamed("doc_id", "d1").withColumnRenamed("sh", "sh1"), "d1")
          .join(sets.withColumnRenamed("doc_id", "d2").withColumnRenamed("sh", "sh2"), "d2")
          .select(col("d1"), col("d2"),
            graft.functions.SortedIntersectSize(col("sh1"), col("sh2")).as("ni"),
            size(col("sh1")).cast("long").as("na"),
            size(col("sh2")).cast("long").as("nb"))
          .select(col("d1"), col("d2"), jaccardBp(col("ni"), col("na"), col("nb")).as("j_bp"))
          .filter(col("j_bp") >= 2000)
          .orderBy(col("d1"), col("d2"))
      },
      None)
  )
}
