package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Output-identity snapshot: collects named catalog queries and writes one
  * row-per-line text file per query, for bit-identity diffs across an
  * optimization (used for the no-oracle queries, where the DuckDB compare
  * can't prove results unchanged).
  *   runMain graft.Snap <sfDir> <outPrefix> [name...]
  * Defaults to the five queries without an exact check: `gibbs_topics` has
  * one, GibbsSpec's sequential reference sampler.
  */
object Snap {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val prefix = if (args.length > 1) args(1) else "/tmp/snap"
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("lda_topics", "lda_doc_topics", "dedup_minhash_lsh", "sim_ivf_topk",
        "mm_decode_features")
    val spark = Run.session()
    run(spark, sfDir, prefix, names)
    spark.stop()
  }

  /** Writes each named query's collected rows to `<prefix>_<name>.txt`. */
  def run(spark: SparkSession, sfDir: String, prefix: String, names: Seq[String]): Unit =
    Run.each(spark, sfDir, names.map(Catalog.byName), reps = 1) { (name, df) =>
      Files.writeString(Paths.get(s"${prefix}_$name.txt"),
        df.collect().map(_.toString).mkString("\n"))
    }
}
