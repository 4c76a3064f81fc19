package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Measurement harness (optimization guide §1/§7): for each named catalog
  * query, prints its formatted physical plan once, then runs it `reps`
  * times in one session through `Run.each`, so one-time costs (codegen
  * compile, file listing, broadcast build) separate from steady-state
  * compute. Each rep prints its total and every completed stage with wall
  * time, task count, summed executor time, spill, and shuffle records — the
  * local-mode stand-in for the Spark UI's stage table.
  *
  * This is how the r22 cache-materialization race was found: a bimodal query
  * shows the same stages with 3–4× the summed executor time in slow reps
  * (block-lock wait is charged as executor run time), and shuffle record
  * counts expose join-strategy flips (62M vs 697M partial-agg rows for the
  * same final output).
  *
  *   runMain graft.Profile [reps] [name...]
  * Defaults: 3 reps, the headline set, on SPARK_GRAFT_SF_DIR.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Catalog.all.filter(_.headline).map(_.name)
    val spark = Run.session()
    Run.warm(spark, sfDir)
    run(spark, sfDir, reps, names)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    // stage lines by the job description `Run.each` sets, "<name>#<rep>"
    val stages = mutable.Map[String, mutable.ArrayBuffer[(Int, String)]]()
    val listener = new SparkListener {
      private val desc = mutable.Map[Int, String]()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        Option(s.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => desc(s.stageInfo.stageId) = d)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val tm = si.taskMetrics
        val line = f"[profile]   stage ${si.stageId}%3d wall=${wall / 1000.0}%7.2fs " +
          f"tasks=${si.numTasks}%3d exec=${tm.executorRunTime / 1000.0}%8.2fs " +
          f"spill=${tm.memoryBytesSpilled / 1e6}%7.0fMB " +
          f"sRead=${tm.shuffleReadMetrics.recordsRead}%10d " +
          f"sWrite=${tm.shuffleWriteMetrics.recordsWritten}%10d  ${si.name.take(40)}"
        desc.remove(si.stageId).foreach { d =>
          stages.synchronized(stages.getOrElseUpdate(d, mutable.ArrayBuffer()) += si.stageId -> line)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try names.map(Catalog.byName).foreach { q =>
      println(s"===== ${q.name} =====")
      try q.run(spark, sfDir).explain("formatted")
      finally spark.sharedState.cacheManager.clearCache()
      val (_, outcomes) = Run.each(spark, sfDir, Seq(q), reps) { (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      }.head
      outcomes.zipWithIndex.foreach { case (outcome, i) =>
        println(outcome.fold(
          e => s"[profile] ${q.name} rep ${i + 1} failed: ${e.getMessage}",
          t => f"[profile] ${q.name} rep ${i + 1} total $t%.2f s"))
        stages.synchronized(stages.remove(s"${q.name}#${i + 1}"))
          .foreach(_.sortBy(_._1).foreach(s => println(s._2)))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
