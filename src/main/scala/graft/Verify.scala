package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each catalog query's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/oracle_check.py`).
  *   runMain graft.Verify <sfDir> <outDir> */
object Verify {
  def main(args: Array[String]): Unit = {
    usage(args).foreach { u =>
      System.err.println(u)
      sys.exit(1)
    }
    val spark = Run.session()
    run(spark, args(0), args(1), Catalog.all)
    spark.stop()
  }

  /** The usage line, when `args` are not `<sfDir> <outDir>`. */
  def usage(args: Array[String]): Option[String] =
    if (args.length == 2) None else Some("Usage: graft.Verify <sfDir> <outDir>")

  /** Writes each of `queries` to `<outDir>/<name>` as one parquet file, and
    * every catalog query's oracle SQL to `<outDir>/oracle_sql.json`. */
  def run(spark: SparkSession, sfDir: String, outDir: String, queries: Seq[Q]): Unit = {
    new java.io.File(outDir).mkdirs()
    Run.each(spark, sfDir, queries.sortBy(_.name), reps = 1) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in an oracle SQL string would otherwise make the
    * compare's json.load fail, and with it every query's check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
