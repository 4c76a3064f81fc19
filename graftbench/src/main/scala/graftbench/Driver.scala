package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.Catalog
import graft.functions.{Cleaning, MinHashSig, ShingleSet, TokenStats, WordTfPairs}
import graft.lda.LdaPipeline
import graft.operators.TextOps
import graft.sources.Tables

/** One benchmark JVM: builds the session and reads the input's metadata
  * (`setups` times), runs the workload's Catalog queries for a fixed number
  * of passes (fewer, but at least 3, if the passes outrun `max-seconds`),
  * and writes what it measured as one JSON object.
  *
  *   Driver --workload near_dup --data DIR --passes 9 --trace 0
  *          --out result.json [--spans spans.jsonl] [--setups 5]
  *          [--max-seconds 60]
  *
  * Each query run is timed from the Catalog call to the end of its sink
  * write (DigestSink: the noop sink plus an output digest); caches are
  * dropped after every query (the Catalog cache-hygiene contract). After
  * every pass the heap is collected and its live size recorded. With
  * `--trace 1` the first pass and every even pass are traced (see Tracer);
  * the other passes run untraced in the same JVM, so the tracing overhead
  * is a paired difference. After the last pass come `ProbeRounds` traced
  * rounds of the per-layer probes, numbered on from the passes. */
object Driver {

  val Workloads: Map[String, Seq[String]] = Map(
    "topic_model" -> Seq("lda_topics", "lda_doc_topics", "gibbs_topics"),
    "near_dup" -> Seq("dedup_jaccard_pairs", "dedup_shingle_jaccard", "dedup_minhash_lsh"),
    "text_curate" -> Seq("text_clean", "text_wordcount", "text_doc_term", "pipeline_curate"))

  /** Queries whose output rows (not only their digest) the checker needs. */
  private val KeepRows =
    Set("lda_topics", "gibbs_topics", "dedup_jaccard_pairs",
      "dedup_shingle_jaccard", "dedup_minhash_lsh")

  private val LdaQueries = Set("lda_topics", "lda_doc_topics", "gibbs_topics")

  private val Sink = classOf[DigestSink].getName
  private val ProbeRounds = 3
  private val MiB = 1024.0 * 1024.0

  final case class JvmSnap(gcMs: Long, gcCount: Long, cpuNs: Long, jitMs: Long,
      codegenNs: Long, classes: Long)

  def snap(): JvmSnap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    JvmSnap(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      os.getProcessCpuTime, ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      CodeGenerator.compileTime, CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }

  /** Heap in use after a full GC, once the pass's garbage is unreachable:
    * queued listener events hold plans and metrics until delivered, the
    * Catalog's cache drop unpersists asynchronously, and Spark's
    * ContextCleaner drops a broadcast only after a GC has found it
    * unreachable. So drain the listener bus, collect, wait (at most 2 s)
    * until the block manager holds under 1 MiB, and collect again. */
  def liveHeapMb(spark: SparkSession): Double = {
    def stored = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    GraftBenchBridge.drainListenerBus(spark.sparkContext)
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (stored > MiB && System.nanoTime() < deadline) Thread.sleep(20)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MiB
  }

  final case class QueryRun(name: String, seconds: Double, error: Option[String],
      result: Option[DigestSink.Result], joins: (Int, Int, Int, Long) = (0, 0, 0, 0L))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = opt("data")
    val numPasses = opt("passes").toInt
    val maxSeconds = opt.get("max-seconds").map(_.toDouble).getOrElse(Double.MaxValue)
    val trace = opt.get("trace").contains("1")
    val queries = Workloads(workload)
    val cores = Runtime.getRuntime.availableProcessors

    // Set-up: create the session and read the input's metadata (schema from
    // the parquet footers, file listing). Done `setups` times, stopping the
    // session in between, so set-up time is a median, not one cold sample.
    def setup(): (SparkSession, Double) = {
      val t0 = System.nanoTime()
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val input = Tables.documents(spark, dir)
      input.schema
      input.inputFiles
      (spark, (System.nanoTime() - t0) / 1e9)
    }
    val setups = ArrayBuffer.empty[Double]
    var session = setup()
    setups += session._2
    while (setups.size < opt.getOrElse("setups", "1").toInt) {
      session._1.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      session = setup()
      setups += session._2
    }
    val spark = session._1

    val tracer = if (trace) Some(new Tracer(spark)) else None
    def inSpan[A](layer: String, name: String)(body: => A): A =
      tracer.fold(body)(_.span(layer, name)(body))

    def writeId(name: String, pass: Int) = s"$name#$pass"
    def runQuery(name: String, pass: Int): QueryRun = {
      val id = writeId(name, pass)
      val layer = if (LdaQueries(name)) "lda" else "operators"
      spark.sparkContext.setJobDescription(id)
      val q0 = System.nanoTime()
      val error = try {
        inSpan(layer, name) {
          Catalog.byName(name).run(spark, dir).write.format(Sink)
            .option("id", id).option("keep", KeepRows(name).toString)
            .mode("overwrite").save()
        }
        None
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[graftbench] $workload pass $pass query $name failed: $msg")
          e.printStackTrace(System.err)
          Some(msg)
      }
      val s = (System.nanoTime() - q0) / 1e9
      spark.sparkContext.setJobDescription(null)
      spark.sharedState.cacheManager.clearCache()
      QueryRun(name, s, error, DigestSink.take(id))
    }

    val passes = ArrayBuffer.empty[String]
    val passStart = System.nanoTime()
    def outrun = (System.nanoTime() - passStart) / 1e9 > maxSeconds
    var p = 0
    while (p < numPasses && (p < 3 || !outrun)) {
      p += 1
      val traced = trace && (p == 1 || p % 2 == 0)
      tracer.foreach(_.startPass(p, traced))
      val before = snap()
      val runs = queries.map(runQuery(_, p))
      val after = snap()
      val passS = runs.map(_.seconds).sum
      val layerMetrics = tracer.filter(_ => traced).map { t =>
        t.drain()
        val joined = runs.map(r => r.copy(joins = t.writeJoins(writeId(r.name, p))))
        Metrics.pass(t, p, joined, passS, cores) ++ Metrics.layerSelf(t, p)
      }.getOrElse(Map.empty)
      tracer.foreach(_.endPass())
      val heap = liveHeapMb(spark)
      passes += Json.obj(
        "pass" -> p.toString,
        "traced" -> traced.toString,
        "s" -> Json.num(passS),
        "live_heap_mb" -> Json.num(heap),
        "gc_s" -> Json.num((after.gcMs - before.gcMs) / 1e3),
        "gc_count" -> (after.gcCount - before.gcCount).toString,
        "cpu_s" -> Json.num((after.cpuNs - before.cpuNs) / 1e9),
        "jit_s" -> Json.num((after.jitMs - before.jitMs) / 1e3),
        "codegen_s" -> Json.num((after.codegenNs - before.codegenNs) / 1e9),
        "codegen_classes" -> (after.classes - before.classes).toString,
        "queries" -> Json.arr(runs.map { r =>
          Json.obj(
            "name" -> Json.str(r.name),
            "s" -> Json.num(r.seconds),
            "error" -> r.error.map(Json.str).getOrElse("null"),
            "rows" -> r.result.map(_.rows.toString).getOrElse("null"),
            "digest" -> r.result.map(x => Json.str(java.lang.Long.toUnsignedString(x.digest)))
              .getOrElse("null"),
            "kept" -> Json.arr(r.result.map(_.kept.map(Json.str)).getOrElse(Nil)))
        }),
        "trace" -> Json.obj(layerMetrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    }

    // Probes run after the passes, so they change nothing the passes time.
    val probeRounds = tracer.toSeq.flatMap { t =>
      (1 to ProbeRounds).map { i =>
        t.startPass(p + i, traced = true)
        val m = probes(spark, dir, t) ++ Metrics.layerSelf(t, p + i)
        t.endPass()
        Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)
      }
    }
    tracer.foreach { t =>
      t.close()
      opt.get("spans").foreach(path => Files.write(Paths.get(path),
        Metrics.spansJsonl(t).getBytes(StandardCharsets.UTF_8)))
    }
    val out = Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "setup_s" -> Json.arr(setups.map(Json.num).toSeq),
      "passes" -> Json.arr(passes.toSeq),
      "probes" -> Json.arr(probeRounds))
    Files.write(Paths.get(opt("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One round of the per-layer probes: the input scan, each native
    * Column function over the workload corpus, and the LDA preprocess —
    * each a call into the layer's public function, written to the noop sink
    * inside its own span. Function inputs are cached first, so a function's
    * span times the function, not the scan and cleaning under it. */
  private def probes(spark: SparkSession, dir: String, t: Tracer): Map[String, Double] = {
    def timed(layer: String, name: String)(df: => DataFrame): Tracer.Span = {
      t.span(layer, name)(noop(df))
      t.spans.last
    }
    val scan = timed("sources", "documents")(Tables.documents(spark, dir))
    val texts = Tables.fanOut(Tables.documents(spark, dir)).select(col("text")).persist()
    val toks = texts.select(filter(split(Cleaning.cleanText(col("text")), " "), _ =!= "").as("w"))
      .persist()
    val shingles = toks.select(ShingleSet(col("w")).as("sh")).persist()
    Seq(texts, toks, shingles).foreach(noop)
    val fns = Seq(
      "clean_text" -> timed("functions", "clean_text")(
        texts.select(Cleaning.cleanText(col("text")))),
      "word_tf_pairs" -> timed("functions", "word_tf_pairs")(
        toks.select(WordTfPairs(col("w")))),
      "token_stats" -> timed("functions", "token_stats")(
        toks.select(TokenStats(col("w"), TextOps.StopWords))),
      "shingle_set" -> timed("functions", "shingle_set")(
        toks.select(ShingleSet(col("w")))),
      "minhash_sig" -> timed("functions", "minhash_sig")(
        shingles.select(MinHashSig(col("sh")))))
    val pre = timed("lda", "preprocess")(LdaPipeline.preprocess(Tables.documents(spark, dir)))
    spark.sharedState.cacheManager.clearCache()
    t.drain()
    // the span's last job is the scan itself; an earlier one reads the footers
    val scanJob = t.jobs.values.filter(_.span == scan.id).toSeq.sortBy(_.id).takeRight(1)
    val scanTasks = t.stagesOf(scanJob).map(_.tasks).sum
    Map("sources.scan_s" -> scan.durMs / 1e3,
      "sources.scan_tasks" -> scanTasks.toDouble,
      "lda.preprocess_s" -> pre.durMs / 1e3) ++
      fns.map { case (n, s) => s"functions.${n}_s" -> s.durMs / 1e3 }
  }
}

/** Minimal JSON rendering for the driver's output. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
