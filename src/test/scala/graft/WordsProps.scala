package graft

import org.apache.spark.ml.feature.{RegexTokenizer, StopWordsRemover}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.{Cleaning, Words}
import graft.lda.LdaPipeline
import graft.operators.TextOps

/** The native word splitter against the MLlib formulation it replaced in
  * `LdaPipeline.preprocess`: `RegexTokenizer` (split on `\s+`, lowercase)
  * then `StopWordsRemover` (case-insensitive) over the cleaned text. */
object WordsProps extends Properties("graft.words") {

  /** The reference: two MLlib transformers, each a ScalaUDF per row. */
  private def mllibTokens(df: DataFrame, stopWords: Seq[String], out: String): DataFrame = {
    val tok = new RegexTokenizer()
      .setInputCol("text_clean").setOutputCol(s"${out}_raw")
      .setPattern("\\s+")
      .setToLowercase(true)
    val sw = new StopWordsRemover()
      .setInputCol(s"${out}_raw").setOutputCol(out)
      .setStopWords(stopWords.toArray)
    sw.transform(tok.transform(df))
  }

  /** Texts mixing stopwords in any case, words that clean to stopwords or
    * to nothing, and the noise the cleaning chain strips. */
  private val text: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      4 -> Gen.alphaStr.map(_.take(6)), 4 -> Gen.const(" "),
      3 -> Gen.oneOf("the", "The", "AND", "of", "It", "a", "B", "rt", "amp", "im",
        "don't", "Isn't", "via", "PEOPLE", "today"),
      2 -> Gen.oneOf("\t", "\n", ",", ".", "1", "_", "-", "  "),
      1 -> Gen.oneOf("http://x.co", "@user", "COVID-19", "covid", "😀", "é", "中"))
    ).map(_.mkString)

  property("words equals RegexTokenizer + StopWordsRemover on cleaned text") =
    Prop.forAll(Gen.listOf(text)) { texts =>
      val spark = SparkSpec.session
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .withColumn("text_clean", Cleaning.cleanText(col("text")))
      val ref = mllibTokens(mllibTokens(df, LdaPipeline.StopWords, "lda"),
        TextOps.StopWords, "text_ops")
      val rows = ref.select(col("doc_id"), col("lda"), col("text_ops"),
          Words(col("text_clean"), LdaPipeline.StopWords),
          Words(col("text_clean"), TextOps.StopWords))
        .collect()
      rows.length == texts.length && rows.forall { r =>
        r.getSeq[String](1) == r.getSeq[String](3) && r.getSeq[String](2) == r.getSeq[String](4)
      }
    }
}
