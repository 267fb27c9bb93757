package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    golden: String,
    traceOut: String) {
  /** local[N]: N = min(4, available cores). */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      data = need("data"),
      golden = kv.getOrElse("golden", ""),
      traceOut = kv.getOrElse("trace-out", ""))
  }
}

/** One measured region: the workload's end-to-end figures (name → value,
  * unit, sample count), the per-layer figures of a traced region, and the
  * op counts. */
final case class Region(
    e2e: Map[String, (Double, String, Int)],
    layers: Map[String, (Double, String)],
    attempted: Int,
    failures: Seq[String],
    detail: Map[String, Any] = Map.empty)

/** A workload: set-up (staging, inputs, warm-up), one closed-loop measured
  * region, and the checks that can only run after it. */
trait Workload {
  /** Builds what the timed ops read; runs `SetupReps` times in a run. */
  def prepare(): Unit
  /** Untimed warm-up ops; runs once, after the last prepare. */
  def warmUp(): Unit
  /** Closed-loop ops for a region sized to last about `seconds`. With a
    * tracer, the per-layer figures are filled in too. */
  def measure(seconds: Double, tracer: Option[Tracer]): Region
  /** Checks that need the whole region's answers (run untimed). */
  def finalChecks(): Seq[String] = Nil
  /** What the final checks looked at, for the record. */
  def checkDetail: Map[String, Any] = Map.empty
  /** Extra traced-only figures (e.g. the single-core ingest baseline) and
    * their check failures. Runs last: it may stop the session. */
  def traceExtras(seconds: Double): (Map[String, Any], Seq[String]) = (Map.empty, Nil)
}

/** The listeners and span log of a traced region. */
final class Tracer(val spark: SparkSession) {
  val jobs = new JobTracker(spark.sparkContext)
  val streams = new ProgressTracker
  val spans = new SpanLog
  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }
  def stop(): Unit = {
    jobs.drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }
}

object Session {
  def build(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // The registry's generated-code units outnumber the default cache
      // (100 entries); the same setting as the repo's Bench and Verify.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // One micro-batch per replayed batch: no extra empty batch after a
      // watermark advance, so addData -> commit times one batch.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The confs that change which branch a query takes or how fast it
    * runs, as this session sees them. */
  def confs(s: SparkSession, cores: Int): Map[String, Any] = {
    def c(k: String, d: String) = s.conf.getOption(k).getOrElse(s.sparkContext.getConf.get(k, d))
    Map(
      "master" -> s.sparkContext.master,
      "cores" -> cores,
      "spark.sql.shuffle.partitions" -> c("spark.sql.shuffle.partitions", "200"),
      "spark.sql.adaptive.enabled" -> c("spark.sql.adaptive.enabled", "true"),
      "spark.sql.adaptive.coalescePartitions.enabled" ->
        c("spark.sql.adaptive.coalescePartitions.enabled", "true"),
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
        c("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"),
      "spark.driver.maxResultSize" -> c("spark.driver.maxResultSize", "1g"),
      "spark.sql.codegen.cache.maxEntries" -> c("spark.sql.codegen.cache.maxEntries", "100"),
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        c("spark.sql.streaming.noDataMicroBatches.enabled", "true"),
      "spark.sql.ansi.enabled" -> c("spark.sql.ansi.enabled", "true"),
      "heap_max_mb" -> Jvm.maxHeapMb,
      "code_cache_max_mb" -> Jvm.codeCacheMb,
      "java" -> System.getProperty("java.version"),
      "spark" -> s.version)
  }
}

object Main {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(new java.io.File(a.data, "events.parquet").isFile, s"no data set at ${a.data}")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = Session.build(a.cores)
    try run(a, spark, jvmStartMs)
    finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, jvmStartMs: Double): Unit = {
    val sessionS = (Clock.nowMs - jvmStartMs) / 1000.0
    val golden = Golden.load(a.golden).getOrElse(new java.io.File(a.data).getName, Map.empty)
    if (a.workload == "golden") {
      emit(Map("golden" -> GoldenRun.compute(spark, a.data)))
      return
    }
    val w: Workload = a.workload match {
      case "ingest" => new Ingest(spark, a)
      case "curate" => new Curate(spark, a, golden)
      case other => sys.error(s"unknown workload $other")
    }
    // Set-up: prepare (store staging / inputs) SetupReps times, then warm
    // up once. Every error here aborts the run.
    val prepS = (1 to SetupReps).map { _ =>
      val t = Clock.nowMs; w.prepare(); (Clock.nowMs - t) / 1000.0
    }
    val tw = Clock.nowMs
    w.warmUp()
    val warmS = (Clock.nowMs - tw) / 1000.0
    val setupS = sessionS + Stats.median(prepS) + warmS

    val jit0 = Jvm.jitMs
    val gc0 = Jvm.gcMs
    val plain = w.measure(a.seconds, None)
    val jitMs = Jvm.jitMs - jit0
    val gcMs = Jvm.gcMs - gc0
    val heapMb = Jvm.liveHeapMb()
    val confs = Session.confs(spark, a.cores)

    var traced: Option[Region] = None
    if (a.trace) {
      val tr = new Tracer(spark)
      tr.start()
      val j1 = Jvm.jitMs
      val g1 = Jvm.gcMs
      val t0 = Clock.nowMs
      val r = try w.measure(a.seconds, Some(tr)) finally tr.stop()
      val t1 = Clock.nowMs
      val jvmLayers = Map(
        "jvm.jit_ms" -> ((Jvm.jitMs - j1).toDouble, "ms"),
        "jvm.gc_ms" -> ((Jvm.gcMs - g1).toDouble, "ms"))
      traced = Some(r.copy(layers = r.layers ++ jvmLayers))
      if (a.traceOut.nonEmpty) writeTrace(a, tr, t0, t1)
    }
    val checks = w.finalChecks()
    val (extras, extraFailures) =
      if (a.trace) w.traceExtras(a.seconds) else (Map.empty[String, Any], Nil)

    val failures = plain.failures ++ checks ++ traced.toSeq.flatMap(_.failures) ++ extraFailures
    val attempted = plain.attempted + traced.map(_.attempted).getOrElse(0)
    val failedOps = math.min(failures.size, attempted)
    val e2e = plain.e2e ++ Map(
      "setup_s" -> ((setupS, "s", SetupReps)),
      "heap_live_mb" -> ((heapMb, "MB", 1)),
      "fail_ratio" -> ((failedOps.toDouble / math.max(1, attempted), "ratio", attempted)))
    val overhead = traced.map { t =>
      plain.e2e.collect { case (k, (v, _, _)) if t.e2e.contains(k) && v != 0 =>
        k -> (t.e2e(k)._1 / v - 1.0)
      }
    }
    emit(Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "seconds" -> a.seconds,
      "trace" -> a.trace,
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "failures" -> failures.take(20),
      "e2e" -> e2e.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "n" -> n) },
      "layers" -> traced.map(_.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
        .getOrElse(Map.empty),
      "trace_overhead" -> overhead.getOrElse(Map.empty),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS),
      "timed_region" -> Map("jit_ms" -> jitMs, "gc_ms" -> gcMs),
      "confs" -> confs,
      "detail" -> plain.detail,
      "traced_detail" -> traced.map(_.detail).getOrElse(Map.empty),
      "checks" -> w.checkDetail,
      "trace_extras" -> extras))
  }

  private def writeTrace(a: Args, tr: Tracer, t0: Double, t1: Double): Unit = {
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    spans += Map("id" -> 0, "parent" -> -1, "name" -> s"run:${a.workload}", "start_ms" -> t0, "end_ms" -> t1)
    tr.spans.spans.foreach { s =>
      spans += Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
    tr.jobs.synchronized {
      tr.jobs.jobSpans.foreach { case (id, op, phase, s, e) =>
        spans += Map("id" -> s"job$id", "parent" -> s"$op/$phase", "name" -> s"job:$id",
          "start_ms" -> s.toDouble, "end_ms" -> e.toDouble)
      }
      tr.jobs.stageSpans.foreach { case (id, job, s, e) =>
        spans += Map("id" -> s"stage$id", "parent" -> s"job$job", "name" -> s"stage:$id",
          "start_ms" -> s.toDouble, "end_ms" -> e.toDouble)
      }
    }
    val w = new java.io.PrintWriter(new java.io.File(a.traceOut), "UTF-8")
    try w.println(Json(Map("workload" -> a.workload, "seed" -> a.seed, "spans" -> spans)))
    finally w.close()
  }

  /** The result line `run.py` reads: the last stdout line. */
  def emit(m: Map[String, Any]): Unit = {
    System.out.flush()
    println("GRAFTBENCH_RESULT " + Json(m))
    System.out.flush()
  }
}
