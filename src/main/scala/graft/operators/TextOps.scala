package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.sources.Tables
import graft.functions.{Cleaning, TokenStats, VocabPositions, WordTfPairs, Words}

/** The text-processing surface over the `documents` fixture: the reference's
  * preprocessing DAG (clean → tokenize → stopword-filter → word count → top-V
  * vocabulary → doc-term encoding, /root/reference/src/LDATopicModelingWithGibbs.py:28-90
  * and ExtractTwitterData.py:122-164) plus the LLM-pipeline text-analysis
  * operators (quality scoring, language ID, token counting, fingerprinting).
  *
  * Every query is declarative DataFrame API (no UDFs — regex/array built-ins
  * are codegen'd) with a DuckDB oracle. Cross-engine determinism rules:
  *  - ratios are emitted as basis-point integers via floor-division (exact on
  *    both engines; double division of small ints never lands within 1 ulp of
  *    an integer, so floor() agrees with DuckDB's integer //)
  *  - fingerprints use md5 (bit-identical in Spark and DuckDB)
  *  - the vocabulary tiebreak is (count DESC, word ASC) — deterministic,
  *    unlike the reference's arbitrary-tie top() (SURVEY §7.5.1)
  *
  * Scale posture: tokenize/clean are narrow per-row projections fused into
  * the scan; word count is a partial+final hash aggregate; the vocab join
  * broadcasts only the bounded top-V side; no driver-side state anywhere.
  */
object TextOps {

  /** Vendored stopword list used by the oracle-checked queries (the LDA
    * pipeline uses Spark's full english list; this bounded list is mirrored
    * verbatim into the DuckDB oracles). Reference analogue: the custom
    * stopword set at LDATopicModelingWithGibbs.py:36-41. */
  val StopWords: Seq[String] =
    Seq("a", "the", "and", "of", "to", "in", "is", "it", "on", "for")

  private val swSqlList = StopWords.map(w => s"'$w'").mkString(", ")

  /** Clean + whitespace-tokenize + stopword/empty filter, as one Column over
    * `text` (P1/P2). */
  private def tokensCol: Column = Words(Cleaning.cleanText(col("text")), StopWords)

  /** documents scan fanned out to every core (guide §2.2: the single-row-
    * group fixture plans as ONE scan task, serializing the regex chain). */
  private[operators] def docs(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir), s"$dir/documents")

  private def docsWithTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), tokensCol.as("w"))

  /** doc_id, word — the exploded token stream (E2). */
  private def tokenStream(s: SparkSession, dir: String): DataFrame =
    docsWithTokens(s, dir).select(col("doc_id"), explode(col("w")).as("word"))

  private val tokSql: String =
    s"""WITH cleaned AS (
       |  SELECT doc_id, ${Cleaning.CleanTextSql} AS clean FROM documents),
       |tok AS (
       |  SELECT doc_id, word
       |  FROM cleaned, unnest(string_split(clean, ' ')) AS u(word)
       |  WHERE word <> '' AND word NOT IN ($swSqlList))""".stripMargin

  private val vocabSqlCte: String = // requires tokSql's `tok`
    """wc AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
      |vocab AS (
      |  SELECT word, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, word ASC) - 1 AS pos
      |  FROM wc ORDER BY cnt DESC, word ASC LIMIT 100)""".stripMargin

  /** Top-V vocabulary with deterministic (count DESC, word ASC) tiebreak
    * (T1 + SURVEY §7.5.1); pos 0..V-1. V=100 bounds the result, so the
    * single-partition row_number window is driver-cheap at any sf. */
  private def vocabFromCounts(wc: DataFrame, v: Int): DataFrame = {
    val w = Window.orderBy(desc("cnt"), asc("word"))
    wc.orderBy(desc("cnt"), asc("word")).limit(v)
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /** The per-doc token arrays `w` as one (word, in-doc count `c0`) row per
    * DISTINCT word per doc (per-row WordTfPairs), grouped by word. Summing
    * `c0` gives the same totals as counting the exploded stream (guide
    * §2.3: Σ over per-doc in-array counts = Σ over exploded occurrences),
    * and the hash aggregate consumes one row per distinct word per doc
    * instead of one per token occurrence. */
  private def wordTf(docsTok: DataFrame): RelationalGroupedDataset =
    docsTok
      .select(explode(WordTfPairs(col("w"))).as("p"))
      .select(col("p.word").as("word"), col("p.cnt").as("c0"))
      .groupBy(col("word"))

  /** The corpus word counts `word, cnt`. */
  private def wordCounts(docsTok: DataFrame): DataFrame =
    wordTf(docsTok).agg(sum(col("c0")).as("cnt"))

  /** Vocab from per-doc token arrays: the top-V of [[wordCounts]] under the
    * same (cnt DESC, word ASC) tiebreak as the exploded stream's. */
  private def vocabFromArrays(docsTok: DataFrame, v: Int = 100): DataFrame =
    vocabFromCounts(wordCounts(docsTok), v)

  /** `docsWithTokens` persisted, and each doc's sorted positions in its
    * top-100 vocabulary as a Column over that cache. The vocabulary is
    * bounded driver state, collected here, so the positions are computable
    * per row (native VocabPositions: one hash probe per token, as the hash
    * join's): the explode, the broadcast hash join and the groupBy(doc_id)
    * regroup Exchange all disappear from the plan (guide §2.4; equivalence
    * in RowStatOps.vocabPositions' scaladoc, pinned by a ScalaCheck
    * property and the unchanged DuckDB oracle). The clean→tokenize chain
    * feeds both the vocab aggregate and the positions, hence the persist:
    * the chain runs once per doc. The collect materializes the cache
    * sequentially inside the (timed) query build, so there is no
    * concurrent cache-build race (the lazy-persist + broadcast-join form
    * was bimodal 2.2–8.1 s at the 10× fixture for that reason). */
  private def vocabPositions(s: SparkSession, dir: String): (DataFrame, Column) = {
    val docsTok = docsWithTokens(s, dir).persist()
    val vocab = vocabFromArrays(docsTok).select(col("word"), col("pos"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    (docsTok, VocabPositions(col("w"), vocab))
  }

  /** Native TokenStats over the single-space split of `clean`, next to the
    * `keep` columns of `df`: the token count, the stopword count and the
    * total token length, the first `names.size` of them named `names`. The
    * counts attach to the row the text lives on, so no explode, regroup or
    * Exchange is needed (guide §2.4). */
  private def tokenStats(df: DataFrame, keep: Seq[String], clean: Column,
      names: String*): DataFrame = {
    val kept = keep.map(col)
    df.select(kept :+ TokenStats(split(clean, " "), StopWords).as("st"): _*)
      .select(kept ++ names.zipWithIndex.map { case (n, i) =>
        element_at(col("st"), i + 1).as(n)
      }: _*)
  }

  /** The oracles' mirror of [[tokenStats]]: CTE `cleaned` (`keep` and the
    * cleaned text) and CTE `stats` (`statsKeep` and the counts named
    * `names`, each cast to BIGINT when `cast`). */
  private def tokenStatsSql(keep: String, statsKeep: String, names: Seq[String],
      cast: Boolean = false): String = {
    val counts = Seq(s"len(${Cleaning.WordsSql})",
      s"len(list_filter(string_split(clean, ' '), t -> t IN ($swSqlList)))",
      s"list_sum(list_transform(${Cleaning.WordsSql}, t -> len(t)))")
      .zip(names).map { case (e, n) => (if (cast) s"CAST($e AS BIGINT)" else e) + s" AS $n" }
    s"""WITH cleaned AS (
       |  SELECT $keep, ${Cleaning.CleanTextSql} AS clean FROM documents),
       |stats AS (
       |  SELECT $statsKeep,
       |    ${counts.mkString(",\n    ")}
       |  FROM cleaned)""".stripMargin
  }

  /** Rule 2 (object doc): ⌊k·x/n⌋ as a BIGINT, and 0 where n is 0. */
  private def bp(x: Column, n: Column, k: Int = 10000): Column =
    when(n > 0, floor(lit(k) * x / n)).otherwise(0L).cast("long")

  /** [[bp]]'s SQL twin over columns `x` and `n`. */
  private def bpSql(x: String, n: String, k: Int = 10000): String =
    s"CAST(CASE WHEN $n > 0 THEN ($k * $x) // $n ELSE 0 END AS BIGINT)"

  /** Standalone vocab path (text_vocab). */
  private def vocab(s: SparkSession, dir: String, v: Int = 100): DataFrame =
    vocabFromArrays(docsWithTokens(s, dir), v)

  val queries: Seq[Q] = Seq(
    // ---- F1–F7: the composed cleaning chain (ExtractTwitterData.py:158-164).
    Q(
      "text_clean",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), Cleaning.cleanText(col("text")).as("clean"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, ${Cleaning.CleanTextSql} AS clean
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- P1/P2/E2: tokenize + stopword filter + word-with-doc explode.
    Q(
      "text_tokens",
      (s, dir) => tokenStream(s, dir).orderBy(col("doc_id"), col("word")),
      Some(s"""$tokSql
              |SELECT doc_id, word FROM tok ORDER BY doc_id, word""".stripMargin)),

    // ---- E1/A1: word count — partial+final hash agg, the reference's
    // reduceByKey(add) (py:43-48).
    Q(
      "text_wordcount",
      (s, dir) => wordCounts(docsWithTokens(s, dir)).orderBy(desc("cnt"), asc("word")),
      Some(s"""$tokSql
              |SELECT word, count(*) AS cnt FROM tok
              |GROUP BY word ORDER BY cnt DESC, word ASC""".stripMargin),
      headline = true),

    // ---- T1: top-V vocabulary with positions (py:50-68).
    Q(
      "text_vocab",
      (s, dir) => vocab(s, dir).orderBy(col("pos")),
      Some(s"""$tokSql, $vocabSqlCte
              |SELECT word, cnt, pos FROM vocab ORDER BY pos""".stripMargin)),

    // ---- J1/A2: doc-term encoding — tokens ⋈ broadcast(vocab) → per-doc
    // sorted position list (py:70-90). Docs with zero in-vocab words drop out
    // (inner-join corpus shrink, SURVEY §7.5.2).
    Q(
      "text_doc_term",
      (s, dir) => {
        val (docsTok, positions) = vocabPositions(s, dir)
        docsTok
          .select(col("doc_id"), positions.as("ps"))
          // The inner join's corpus shrink. PushDownPredicates substitutes
          // ps into the pushed filter, so the expression evaluates twice per
          // row (once for the size test, once for the projection) — two
          // hash-probe passes over the CACHED arrays, still far cheaper than
          // the explode + broadcast join + regroup Exchange they replace
          // (numbers in OPTIMIZATION_r22.md).
          .filter(size(col("ps")) > 0)
          .select(col("doc_id"),
            array_join(col("ps"), ",").as("positions"),
            size(col("ps")).cast("long").as("n_terms"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$tokSql, $vocabSqlCte
              |SELECT doc_id,
              |  array_to_string(list(pos ORDER BY pos), ',') AS positions,
              |  count(*) AS n_terms
              |FROM tok JOIN vocab USING (word)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- J1 variant: per-doc in-vocab vs out-of-vocab accounting — makes
    // the corpus-shrink semantics of the inner join observable.
    Q(
      "text_vocab_coverage",
      (s, dir) => {
        // The left join kept every doc the explode produced (≥1 token),
        // counting all tokens and the matched ones: per row that is size(w)
        // and size(positions).
        val (docsTok, positions) = vocabPositions(s, dir)
        docsTok
          .filter(size(col("w")) > 0) // explode dropped token-less docs
          .select(col("doc_id"),
            size(col("w")).cast("long").as("n_tokens"),
            size(positions).cast("long").as("n_invocab"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$tokSql, $vocabSqlCte
              |SELECT doc_id, count(*) AS n_tokens, count(pos) AS n_invocab
              |FROM tok LEFT JOIN vocab USING (word)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- Quality scoring: per-doc token stats with ratios as exact
    // basis-point integers (floor-div — see object doc). Computed on the
    // exploded token stream: the cleaning chain runs once per doc and the
    // aggregations reference only cheap attributes (multi-reference array
    // lambdas would re-evaluate the chain per element — see ShingleOps).
    Q(
      "text_quality",
      (s, dir) =>
        tokenStats(docs(s, dir), Seq("doc_id", "n_chars"), Cleaning.cleanText(col("text")),
            "n_tokens", "n_stop", "tot_len")
          .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_stop"),
            bp(col("n_stop"), col("n_tokens")).as("stop_bp"),
            bp(col("tot_len"), col("n_tokens"), 100).as("avg_len_c"))
          .orderBy(col("doc_id")),
      Some(s"""${tokenStatsSql("doc_id, n_chars", "doc_id, n_chars",
                Seq("n_tokens", "n_stop", "tot_len"))}
              |SELECT doc_id, n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  CAST(n_stop AS BIGINT) AS n_stop,
              |  ${bpSql("n_stop", "n_tokens")} AS stop_bp,
              |  ${bpSql("tot_len", "n_tokens", 100)} AS avg_len_c
              |FROM stats ORDER BY doc_id""".stripMargin)),

    // ---- Language ID: marker-word heuristic (english function-word density
    // in basis points; the fixture corpus is english-ish for every `lang`
    // label, so the interesting output is the score, not label recovery).
    Q(
      "text_langid",
      (s, dir) => {
        val enBp = bp(col("n_en"), col("n_all"))
        tokenStats(docs(s, dir), Seq("doc_id", "lang"), Cleaning.cleanText(col("text")),
            "n_all", "n_en")
          .select(col("doc_id"), col("lang").as("lang_label"),
            enBp.as("en_marker_bp"),
            when(enBp >= 400, lit("en")).otherwise(lit("und")).as("lang_pred"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokenStatsSql("doc_id, lang", "doc_id, lang", Seq("n_all", "n_en"))}
              |SELECT doc_id, lang AS lang_label,
              |  ${bpSql("n_en", "n_all")} AS en_marker_bp,
              |  CASE WHEN n_all > 0 AND (10000 * n_en) // n_all >= 400
              |    THEN 'en' ELSE 'und' END AS lang_pred
              |FROM stats ORDER BY doc_id""".stripMargin)),

    // ---- Token counting: whitespace tokens + a BPE-ish regex segmentation
    // (letter runs / digit runs / single other chars).
    Q(
      "text_token_count",
      // Native TokenCounts (guide §4.1): the regex split + interpreted
      // filter lambda + regexp_count scanned the raw text three times per
      // row with two regex engines; one code-point walk produces the
      // identical pair of counts (proof in RowStatOps.tokenCounts' scaladoc,
      // pinned by a ScalaCheck property against both regexes).
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), graft.functions.TokenCounts(col("text")).as("tc"))
        .select(col("doc_id"),
          element_at(col("tc"), 1).as("n_ws_tokens"),
          element_at(col("tc"), 2).as("n_bpe_tokens"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
             |    t -> t <> '')) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             |    AS BIGINT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- TF-IDF core statistics: document frequency + collection frequency
    // per word, all exact integers (the relational heart of TF-IDF; the
    // IDF log-weighting runs Spark-side — ln is not cross-engine
    // bit-stable, so the oracle checks the exact counts).
    Q(
      "text_doc_freq",
      // Per-row WordTfPairs (guide §2.3 — aggregate before you shuffle):
      // count(DISTINCT doc_id) over the exploded stream planned as an
      // Expand (2 aggregate groups per exploded row) and a two-phase
      // distinct aggregate. Emitting one (word, cnt) pair per DISTINCT
      // word per doc makes df a plain count(*) (pairs are unique per doc)
      // and cf a sum of in-doc counts — same integers, one plain
      // partial+final aggregate, no Expand.
      (s, dir) => wordTf(docsWithTokens(s, dir))
        .agg(count(lit(1)).as("df"), sum(col("c0")).as("cf"))
        .orderBy(desc("df"), asc("word")),
      Some(s"""$tokSql
              |SELECT word, count(DISTINCT doc_id) AS df, count(*) AS cf
              |FROM tok GROUP BY word
              |ORDER BY df DESC, word ASC""".stripMargin)),

    // ---- E3: position-aware explode (posexplode — the topic-position zip
    // of LDATopicModelingWithGibbs.py:136).
    Q(
      "text_token_positions",
      (s, dir) => docsWithTokens(s, dir)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(col("w")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("word"))
        .orderBy(col("doc_id"), col("pos")),
      Some(s"""WITH cleaned AS (
              |  SELECT doc_id, ${Cleaning.CleanTextSql} AS clean FROM documents WHERE doc_id < 50),
              |d AS (SELECT doc_id,
              |  list_filter(string_split(clean, ' '),
              |    t -> t <> '' AND t NOT IN ($swSqlList)) AS w
              |  FROM cleaned)
              |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS word
              |FROM d, unnest(generate_series(1, len(w))) AS g(i)
              |ORDER BY doc_id, pos""".stripMargin)),

    // ---- A6: per-doc in-array histogram via higher-order functions (the
    // per-doc topic-histogram shape, py:122) — token-length counts 1..10.
    Q(
      "text_len_hist",
      (s, dir) => {
        // Per-row native LenHist (guide §2.4): the previous explode →
        // groupBy(doc_id) with 10 conditional sums shuffled the exploded
        // stream to regroup per doc, then LEFT-joined a second documents
        // scan to restore token-less docs. The histogram is computable in
        // one pass over the row's token array; token-less docs yield the
        // all-zero histogram the coalesce produced, so the join and both
        // Exchanges go away. Values oracle-identical.
        docsWithTokens(s, dir)
          .select(col("doc_id"),
            array_join(graft.functions.LenHist(col("w")), ",").as("len_hist"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$tokSql, d AS (
              |  SELECT c.doc_id,
              |    coalesce(list(tok.word), []) AS w
              |  FROM cleaned c LEFT JOIN tok ON c.doc_id = tok.doc_id
              |  GROUP BY c.doc_id)
              |SELECT doc_id,
              |  array_to_string(list_transform(generate_series(1, 10),
              |    k -> len(list_filter(w, t -> len(t) = k))), ',') AS len_hist
              |FROM d ORDER BY doc_id""".stripMargin)),

    // ---- A5 + §2.10 UDAF: global elementwise vector reduce of the per-doc
    // histograms via the typed ArraySumAgg Aggregator (the reference's
    // reduce(np.add) n_z accumulation, py:158).
    Q(
      "text_len_hist_global",
      (s, dir) => {
        val a = udaf(graft.functions.ArraySumAgg)
        // Per-row native LenHist feeding the global ArraySumAgg directly:
        // doc_id is unique, so Σ over per-doc grouped hists = Σ over
        // per-row hists — the groupBy(doc_id) Exchange of the exploded
        // stream disappears and only the single-row global agg remains
        // (guide §2.4). Token-less docs contribute the zero vector, which
        // the previous form omitted — additive identity, same sums.
        docsWithTokens(s, dir)
          .select(graft.functions.LenHist(col("w")).as("hist"))
          .agg(a(col("hist")).as("h"))
          .select(array_join(col("h"), ",").as("global_len_hist"))
      },
      Some(s"""$tokSql, hists AS (
              |  SELECT doc_id, len(word) AS l FROM tok),
              |sums AS (
              |  SELECT k, count(*) FILTER (WHERE l = k) AS s
              |  FROM hists, unnest(generate_series(1, 10)) AS g(k)
              |  GROUP BY k)
              |SELECT array_to_string(list(s ORDER BY k), ',') AS global_len_hist
              |FROM sums""".stripMargin)),

    // ---- The composed curation pipeline — what a training-data team runs:
    // clean → token/quality stats → quality gate → exact-dedup keep-first →
    // curated corpus. One declarative plan: the clean chain runs once in the
    // scan projection, stats aggregate off the exploded stream, the dedup
    // canonical is a window over the fingerprint. Every stage is an operator
    // proven above; this query proves they compose.
    Q(
      "pipeline_curate",
      (s, dir) => {
        // Per-row native TokenStats (guide §2.4): supersedes the r21
        // doc_id-only re-key — the stats no longer need ANY grouping (they
        // attach to the row the clean text lives on), so the explode, the
        // hash-aggregate, the first(clean) carry and the regroup Exchange
        // all disappear. CollapseProject will not inline the non-cheap
        // clean chain into both uses, so it still runs once per row.
        val cleaned = docs(s, dir)
          .select(col("doc_id"), Cleaning.cleanText(col("text")).as("clean"))
        val stats = tokenStats(cleaned, Seq("doc_id", "clean"), col("clean"), "n_tokens", "n_stop")
          .withColumn("stop_bp", bp(col("n_stop"), col("n_tokens")))
          .withColumn("doc_md5", md5(col("clean").cast("binary")))
        val w = Window.partitionBy(col("doc_md5"))
        stats
          .withColumn("canonical_id", min(col("doc_id")).over(w))
          .filter(col("doc_id") === col("canonical_id") &&
            col("n_tokens") >= 20 && col("stop_bp") <= 2000)
          .select(col("doc_id"), col("n_tokens"), col("stop_bp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokenStatsSql("doc_id", "doc_id, clean", Seq("n_tokens", "n_stop"),
                cast = true)},
              |scored AS (
              |  SELECT doc_id, md5(clean) AS doc_md5, n_tokens,
              |    ${bpSql("n_stop", "n_tokens")} AS stop_bp
              |  FROM stats),
              |canon AS (
              |  SELECT doc_id, n_tokens, stop_bp,
              |    min(doc_id) OVER (PARTITION BY doc_md5) AS canonical_id
              |  FROM scored)
              |SELECT doc_id, n_tokens, stop_bp
              |FROM canon
              |WHERE doc_id = canonical_id AND n_tokens >= 20 AND stop_bp <= 2000
              |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- Fingerprinting: whole-doc md5 + MinHash-1 over word 3-gram
    // shingles (md5 is bit-identical across engines; min() over shingle
    // hashes is the k=1 MinHash signature — the scale path to MinHashLSH).
    Q(
      "text_fingerprint",
      (s, dir) => {
        // Persist the cleaned text: both `w` and `doc_md5` reference it, and
        // CollapseProject would inline the 8-regex chain into each use,
        // running it 2× per doc (guide §2.4 / §5).
        val cleaned = docs(s, dir)
          .select(col("doc_id"), Cleaning.cleanText(col("text")).as("clean"))
          .persist()
        val w = Words(col("clean"))
        cleaned
          .select(col("doc_id"), w.as("w"),
            md5(col("clean").cast("binary")).as("doc_md5"))
          // ShingleSet is one native call referencing w once — the
          // transform-over-sequence form re-evaluates w's defining chain
          // per element after projection collapse (see ShingleOps.shingles).
          .select(col("doc_id"), col("doc_md5"),
            when(size(col("w")) >= 3,
              array_min(transform(graft.functions.ShingleSet(col("w")),
                g => md5(g.cast("binary")))))
              .otherwise(lit(null)).as("minhash1"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH cleaned AS (
              |  SELECT doc_id, ${Cleaning.CleanTextSql} AS clean FROM documents),
              |words AS (
              |  SELECT doc_id, md5(clean) AS doc_md5,
              |    ${Cleaning.WordsSql} AS w
              |  FROM cleaned),
              |shingles AS (
              |  SELECT doc_id, doc_md5,
              |    md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS sh
              |  FROM words, unnest(generate_series(1, len(w) - 2)) AS g(i)
              |  WHERE len(w) >= 3)
              |SELECT c.doc_id, c2.doc_md5, s.mh AS minhash1
              |FROM cleaned c
              |LEFT JOIN (SELECT doc_id, min(sh) AS mh FROM shingles GROUP BY doc_id) s
              |  ON c.doc_id = s.doc_id
              |LEFT JOIN (SELECT DISTINCT doc_id, doc_md5 FROM words) c2
              |  ON c.doc_id = c2.doc_id
              |ORDER BY c.doc_id""".stripMargin))
  )
}
