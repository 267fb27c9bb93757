package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The training-data engine as a batch user runs it: passes over a fixed
  * list of registry queries, each fully materialized through a fingerprint
  * aggregate. Each timed pass runs the queries in its own seeded order, so a
  * gain cannot depend on a query's position in the run. An op is one query. */
final class Curate(spark: SparkSession, a: Args, golden: Map[String, String]) extends Workload {
  import Curate._

  private val rng = new scala.util.Random(a.seed)
  private var opSeq = 0

  /** Cold regime. The curate queries build their indexes inline, so
    * there is nothing to stage. */
  def prepare(): Unit = Stores.reset(a.data)

  /** The measured frame of one query: its fingerprint aggregate. */
  private def measured(name: String): DataFrame =
    Fingerprint.frame(SparkEntry.queries(name)(spark, a.data))

  private def query(name: String, tracer: Option[Tracer]): (Timing, Option[String]) = {
    opSeq += 1
    val (t, fp, _) = Op.run(spark, tracer, name, s"c$opSeq")(measured(name))(df =>
      Fingerprint.fromAggRow(df.collect().head))
    val failure = golden.get(name) match {
      case Some(g) if g == fp => None
      case Some(g) => Some(s"$name: fingerprint $fp != golden $g")
      case None => Some(s"$name: no golden fingerprint")
    }
    (t, failure)
  }

  /** The materialization self-test (traced runs): the measured plans
    * still hold the kernels `count()` prunes. */
  override def finalChecks(): Seq[String] = if (!a.trace) Nil else {
    val (ok, detail) = SelfTest.run(spark, a.data)
    selfTest = detail
    if (ok) Nil else Seq(s"self-test: a measured plan lost its kernel: $detail")
  }

  private var selfTest: Map[String, Any] = Map.empty
  override def checkDetail: Map[String, Any] = Map("self_test" -> selfTest)

  /** One untimed pass: it pays the JVM's JIT and each query's code
    * generation, so the timed passes measure the queries' own work. It runs
    * in registry order: the JIT compiles from the profile the first pass
    * leaves, and a seeded order here made whole runs faster or slower by
    * up to a third. */
  def warmUp(): Unit =
    Queries.foreach(q => query(q, None)._2.foreach(f => sys.error(s"warm-up: $f")))

  def measure(seconds: Double, tracer: Option[Tracer]): Region = {
    val ops = mutable.ArrayBuffer[Timing]()
    val failures = mutable.ArrayBuffer[String]()
    val passes = mutable.ArrayBuffer[Double]()
    val start = Clock.nowMs
    // A fixed number of whole passes for the run length, so every run times
    // the same passes after warm-up: later passes run faster while the JIT
    // matures, and a count that followed the clock would mix that in.
    for (_ <- 1 to math.max(1, math.round(seconds / NominalPassS).toInt)) {
      val p0 = Clock.nowMs
      rng.shuffle(Queries).foreach { q =>
        val (t, f) = query(q, tracer)
        ops += t
        failures ++= f
      }
      passes += Clock.nowMs - p0
    }
    val wall = Clock.nowMs - start
    val byQuery = ops.groupBy(_.kind).map { case (q, ts) => q -> ts.map(_.totalMs).toSeq }
    val perQuery = byQuery.map { case (q, ms) => q -> Stats.median(ms) }
    val perQueryBest = byQuery.map { case (q, ms) => q -> ms.min }
    val layers = tracer.map(OpLayers(_, ops.toSeq, wall, a.cores)).getOrElse(Map.empty)
    val perQueryExec = tracer.map { tr =>
      OpLayers.byKind(tr, ops.toSeq).map { case (q, m) =>
        q -> Map(
          "exec.wall_ms" -> m("wall_ms"),
          "exec.task_cpu_ms" -> m("task_cpu_ms"),
          "exec.critical_path_ms" -> m("critical_path_ms"),
          "exec.shuffle_bytes" -> m("shuffle_bytes"),
          "queries.construct_ms" -> m("construct_ms"),
          "plans.plan_ms" -> m("plan_ms"))
      }
    }.getOrElse(Map.empty)
    Region(
      e2e = Map(
        // Every query counts alike: the median of all ops would sit between
        // the third and fourth query's latencies and read only those two.
        // Each query's best run of the region: contention from outside the
        // JVM only ever adds time, and the best run is the steadier figure
        // across runs.
        "latency_ms" -> ((Stats.geomean(perQueryBest.values.toSeq), "ms", ops.size)),
        "throughput_per_s" -> ((ops.size / (wall / 1000.0), "1/s", ops.size)),
        "curate_pass_s" -> ((Stats.median(passes.toSeq) / 1000.0, "s", passes.size))),
      layers = layers,
      attempted = ops.size,
      failures = failures.toSeq,
      detail = Map(
        "passes_ms" -> passes.toSeq,
        "query_median_ms" -> perQuery,
        "query_best_ms" -> perQueryBest,
        "per_query" -> perQueryExec,
        "layer_self_ms" -> tracer.map(OpLayers.selfTime(_, ops.toSeq)).getOrElse(Map.empty)))
  }
}

object Curate {
  /** Seconds a warm pass takes on 4 cores; sizes the timed region. */
  val NominalPassS = 8.0
  /** One query per engine path a curation job leans on in its tasks:
    * minhash LSH dedup, substring dedup, containment with its native verify
    * kernel, the adaptive LSH kNN join, k-means, and VADER enrichment. */
  val Queries: Seq[String] = Seq(
    "dedup_fuzzy_minhash", "dedup_substring_apply", "dedup_containment",
    "knn_join_lsh_adaptive", "kmeans_lloyd_train", "sentiment_score")
}
