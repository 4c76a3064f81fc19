package graft

import org.apache.spark.sql.SparkSession
import graft.lda.LdaPipeline
import graft.sources.Tables

/** CLI with the reference's exact surface (SURVEY §7.1):
  *   graft.Main <DataDir> <Vocab_size> <Number_of_Topics>
  * mirroring `LDATopicModelingWithGibbs.py <DataFile> <Vocab_size>
  * <Number_of_Topics>` (/root/reference/src/LDATopicModelingWithGibbs.py:10-22)
  * including its argument validation (P6), top-10 corpus-word preview (T2,
  * py:57) and per-topic top-20 word report (M5, py:199-203). <DataDir> is a
  * fixture directory containing documents.parquet.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // P6: the reference's argc + int-parse validation, same messages' intent
    if (args.length != 3) {
      System.err.println(
        "Usage: graft.Main <DataDir> <Vocab_size:int> <Number_of_Topics:int>")
      sys.exit(1)
    }
    val dir = args(0)
    val vocabSize = args(1).toIntOption.getOrElse {
      System.err.println(s"Vocab_size must be an integer, got '${args(1)}'")
      sys.exit(1)
    }
    val numTopics = args(2).toIntOption.getOrElse {
      System.err.println(s"Number_of_Topics must be an integer, got '${args(2)}'")
      sys.exit(1)
    }
    if (vocabSize <= 0 || numTopics <= 0) {
      System.err.println("Vocab_size and Number_of_Topics must be positive")
      sys.exit(1)
    }

    val spark = Run.session()
    run(spark, dir, vocabSize, numTopics, println(_))
    spark.stop()
  }

  /** The CLI's work after argument validation: the top-10 corpus-word
    * preview (T2, py:57), then a fit and one `Topic <t>: <terms>` line per
    * topic (M1–M5, py:199-203), each line handed to `out`. The preview is
    * the model's own top-10 vocabulary (LdaPipeline.vocabulary over the
    * tokens of LdaPipeline.preprocess), ordered by (count desc, word asc). */
  def run(spark: SparkSession, dir: String, vocabSize: Int, numTopics: Int,
      out: String => Unit): Unit = {
    out("Top 10 corpus words (word, count):")
    val docs = LdaPipeline.tokenPairs(LdaPipeline.preprocess(Tables.documents(spark, dir)))
    LdaPipeline.vocabulary(docs, 10).foreach { case (w, n) => out(s"  $w\t$n") }
    LdaPipeline.topicReport(spark, dir,
      vocabSize = vocabSize, numTopics = numTopics, maxIter = 10)
      .collect()
      .foreach(r => out(s"Topic ${r.getInt(0)}: ${r.getString(1)}"))
  }
}
