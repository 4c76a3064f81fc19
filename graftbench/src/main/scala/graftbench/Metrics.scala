package graftbench

import graftbench.Tracer.{JobRec, Span, unionMs}

/** Per-layer metrics of one traced pass, from the tracer's spans and the
  * jobs, stages, tasks, blocks and query executions recorded under them. */
object Metrics {
  private val MiB = 1024.0 * 1024.0
  private val DedupQueries =
    Set("dedup_jaccard_pairs", "dedup_shingle_jaccard", "dedup_minhash_lsh")

  private def jobUnionMs(js: Iterable[JobRec]): Double =
    unionMs(js.map(j => (j.startMs, j.endMs)).toSeq)

  def pass(t: Tracer, p: Int, runs: Seq[Driver.QueryRun], passS: Double,
      cores: Int): Map[String, Double] = {
    t.drain()
    val querySpans = t.spans.filter(s => s.pass == p && s.parent == 0L).toSeq
    val jobs = t.passJobs(p, querySpans.map(_.id).toSet)
    val stages = t.stagesOf(jobs)
    val jobsBySpan = jobs.groupBy(_.span)
    def spanJobs(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
    def driverMs(s: Span): Double = s.durMs - jobUnionMs(spanJobs(s))

    val runS = stages.map(_.runMs).sum / 1e3
    val exec = Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "exec.core_util" -> runS / (passS * cores),
      "exec.sched_delay_s" -> stages.map(_.schedMs).sum / 1e3,
      "exec.task_gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "shuffle.write_records" -> stages.map(_.swRecords).sum.toDouble,
      "shuffle.write_mb" -> stages.map(_.swBytes).sum / MiB,
      "shuffle.read_records" -> stages.map(_.srRecords).sum.toDouble,
      "shuffle.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> stages.map(_.spillBytes).sum / MiB,
      "driver.gap_s" -> querySpans.map(driverMs).sum / 1e3,
      "driver.result_mb" -> stages.map(_.resultBytes).sum / MiB)

    val blocks = t.blocks.filter(_.pass == p)
    val cache = Map(
      "cache.put_blocks" -> blocks.size.toDouble,
      "cache.mem_mb" -> blocks.map(_.memBytes).sum / MiB,
      "cache.disk_mb" -> blocks.map(_.diskBytes).sum / MiB)

    val plans = t.plans.filter(_.pass == p)
    val planning = Map(
      "planning.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "planning.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "planning.physical_s" -> plans.map(_.planningMs).sum / 1e3,
      "planning.queries" -> plans.size.toDouble)

    val perQuery = querySpans.map(s => s"${s.layer}.${s.name}_s" -> s.durMs / 1e3).toMap

    def kind(k: String) = jobs.filter(_.kind == k)
    val fit = kind("fit")
    val fitMs = jobUnionMs(fit)
    val fitRunS = t.stagesOf(fit).map(_.runMs).sum / 1e3
    val sweeps = kind("gibbs_sweep")
    val gibbsRuns = runs.count(_.name == "gibbs_topics")
    val lda = Map(
      "lda.fit_s" -> fitMs / 1e3,
      "lda.fit_jobs" -> fit.size.toDouble,
      "lda.fit_core_util" -> (if (fitMs > 0) fitRunS / (fitMs / 1e3 * cores) else 0.0),
      "lda.infer_s" -> jobUnionMs(kind("infer")) / 1e3,
      "lda.gibbs_sweep_s" -> jobUnionMs(sweeps) / 1e3,
      // Each fit counts the topic-word matrix once before its first sweep.
      "lda.gibbs_sweeps" -> math.max(0, sweeps.count(_.resultJob) - gibbsRuns).toDouble,
      "lda.driver_s" -> querySpans.filter(_.layer == "lda").map(driverMs).sum / 1e3)

    val dedup = runs.filter(r => DedupQueries(r.name))
    val candidates = dedup.map(_.joins._4).sum.toDouble
    val results = dedup.flatMap(_.result).map(_.rows).sum.toDouble
    val operators = Map(
      "operators.dedup_candidate_rows" -> candidates,
      "operators.dedup_result_rows" -> results,
      "operators.dedup_yield" -> (if (candidates > 0) results / candidates else 0.0),
      "operators.join_bhj" -> runs.map(_.joins._1).sum.toDouble,
      "operators.join_smj" -> runs.map(_.joins._2).sum.toDouble)

    exec ++ cache ++ planning ++ perQuery ++ lda ++ operators
  }

  /** Self time per layer over every span of pass `p`: a span's duration less
    * its child spans and the jobs it launched directly, which are counted
    * as the `spark` layer. */
  def layerSelf(t: Tracer, p: Int): Map[String, Double] = {
    t.drain()
    val spans = t.spans.filter(_.pass == p).toSeq
    val jobsBySpan = t.jobs.values.filter(_.pass == p).groupBy(_.span)
    val childMs = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.durMs).sum }
    val rows = spans.map { s =>
      val jobMs = jobUnionMs(jobsBySpan.getOrElse(s.id, Nil))
      (s.layer, s.durMs - childMs.getOrElse(s.id, 0.0) - jobMs, jobMs)
    }
    val self = Seq("sources", "functions", "operators", "lda").map { l =>
      s"layer.${l}_self_s" -> rows.filter(_._1 == l).map(_._2).sum / 1e3
    }.toMap
    self + ("layer.spark_jobs_s" -> rows.map(_._3).sum / 1e3)
  }

  /** Every span as one JSON line: the benchmark's spans, then Spark jobs
    * (parent: their span) and stages (parent: their job). */
  def spansJsonl(t: Tracer): String = {
    val sb = new StringBuilder
    def line(kv: (String, String)*): Unit = sb ++= Json.obj(kv: _*) ++= "\n"
    t.spans.foreach { s =>
      line("id" -> Json.str(s"s${s.id}"), "parent" -> Json.str(if (s.parent == 0) "" else s"s${s.parent}"),
        "pass" -> s.pass.toString, "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))
    }
    val passOfSpan = t.spans.map(s => s.id -> s.pass).toMap
    t.jobs.values.foreach { j =>
      line("id" -> Json.str(s"j${j.id}"), "parent" -> Json.str(s"s${j.span}"),
        "pass" -> passOfSpan.getOrElse(j.span, j.pass).toString,
        "layer" -> Json.str("spark.job"), "name" -> Json.str(j.kind),
        "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs))
    }
    t.stages.values.foreach { s =>
      line("id" -> Json.str(s"st${s.id}"), "parent" -> Json.str(s"j${s.job}"),
        "pass" -> t.jobs.get(s.job).map(_.pass).getOrElse(-1).toString,
        "layer" -> Json.str("spark.stage"), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.submitMs), "end_ms" -> Json.num(s.completeMs),
        "tasks" -> s.tasks.toString, "run_ms" -> s.runMs.toString,
        "cpu_ms" -> Json.num(s.cpuNs / 1e6), "shuffle_write_records" -> s.swRecords.toString)
    }
    sb.toString
  }
}
