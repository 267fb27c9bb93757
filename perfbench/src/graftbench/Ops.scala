package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Timestamps of one op (epoch ms): start, query built, plan forced, done. */
final case class Timing(kind: String, id: String, t0: Double, built: Double,
                        planned: Double, end: Double) {
  def totalMs: Double = end - t0
  def buildMs: Double = built - t0
  def planMs: Double = planned - built
  def actionMs: Double = end - planned
}

/** Runs ops the way a user request pays for them: build the DataFrame
  * through the public entry point, force its physical plan, then run the
  * action. Jobs are tagged with the op id and phase so a traced region can
  * attribute them. */
object Op {
  def run[T](spark: SparkSession, tracer: Option[Tracer], kind: String, id: String)(
      build: => DataFrame)(action: DataFrame => T): (Timing, T, DataFrame) = {
    val sc = spark.sparkContext
    val t0 = Clock.nowMs
    Tags.set(sc, id, "build")
    val df = build
    val t1 = Clock.nowMs
    Tags.set(sc, id, "plan")
    df.queryExecution.executedPlan
    val t2 = Clock.nowMs
    Tags.set(sc, id, "action")
    val out = try action(df) finally Tags.set(sc, null, null)
    val t3 = Clock.nowMs
    tracer.foreach { tr =>
      val root = tr.spans.add(0, s"$kind:$id", t0, t3)
      tr.spans.add(root, "build", t0, t1)
      tr.spans.add(root, "plan", t1, t2)
      tr.spans.add(root, "action", t2, t3)
    }
    (Timing(kind, id, t0, t1, t2, t3), out, df)
  }

  /** Every node of an executed plan, through adaptive stages, reused
    * exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  /** Names of every expression class in an executed plan. */
  def expressionClasses(p: SparkPlan): Set[String] =
    nodes(p).flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName })).toSet
}

/** Per-layer figures of a traced region of build/plan/action ops. */
object OpLayers {
  def apply(tr: Tracer, ops: Seq[Timing], wallMs: Double, cores: Int): Map[String, (Double, String)] = {
    val per = ops.map { t =>
      val b = tr.jobs.phase(t.id, "build")
      val p = tr.jobs.phase(t.id, "plan")
      val a = tr.jobs.phase(t.id, "action")
      val all = Seq(b, p, a)
      (t, b, a, all)
    }
    val cpuMs = per.map(_._4.map(_.cpuNs).sum / 1e6)
    Map(
      "queries.construct_ms" -> (Stats.median(ops.map(_.buildMs)), "ms"),
      "queries.construct_jobs" -> (Stats.mean(per.map(_._2.jobs.toDouble)), "count"),
      "plans.plan_ms" -> (Stats.median(ops.map(_.planMs)), "ms"),
      "exec.jobs" -> (Stats.mean(per.map(_._4.map(_.jobs).sum.toDouble)), "count"),
      "exec.stages" -> (Stats.mean(per.map(_._4.map(_.stages).sum.toDouble)), "count"),
      "exec.tasks" -> (Stats.mean(per.map(_._4.map(_.tasks).sum.toDouble)), "count"),
      "exec.dispatch_ms" -> (Stats.median(per.map { case (t, _, a, _) =>
        math.max(0.0, t.actionMs - a.criticalPathMs) }), "ms"),
      "exec.critical_path_ms" -> (Stats.median(per.map(_._3.criticalPathMs)), "ms"),
      "exec.task_cpu_ms" -> (Stats.median(cpuMs), "ms"),
      "exec.shuffle_bytes" -> (Stats.mean(per.map(_._4.map(_.shuffleBytes).sum.toDouble)), "bytes"),
      "exec.spill_bytes" -> (per.map(_._4.map(_.spillBytes).sum.toDouble).sum, "bytes"),
      "exec.cpu_util" -> (cpuMs.sum / (wallMs * cores), "ratio"))
  }

  /** Self time of each layer over all ops, in ms: a layer's time minus
    * the part its children (the stages its jobs ran) cover. */
  def selfTime(tr: Tracer, ops: Seq[Timing]): Map[String, Double] = {
    val b = ops.map(t => tr.jobs.phase(t.id, "build").criticalPathMs)
    val a = ops.map(t => tr.jobs.phase(t.id, "action").criticalPathMs)
    Map(
      "queries" -> ops.indices.map(i => math.max(0.0, ops(i).buildMs - b(i))).sum,
      "plans" -> ops.map(_.planMs).sum,
      "exec.dispatch" -> ops.indices.map(i => math.max(0.0, ops(i).actionMs - a(i))).sum,
      "exec.stages" -> (b.sum + a.sum))
  }

  /** The same figures per op kind, for the detail record. */
  def byKind(tr: Tracer, ops: Seq[Timing]): Map[String, Map[String, Double]] =
    ops.groupBy(_.kind).map { case (k, ts) =>
      val b = ts.map(t => tr.jobs.phase(t.id, "build"))
      val a = ts.map(t => tr.jobs.phase(t.id, "action"))
      k -> Map(
        "n" -> ts.size.toDouble,
        "construct_ms" -> Stats.median(ts.map(_.buildMs)),
        "construct_jobs" -> Stats.mean(b.map(_.jobs.toDouble)),
        "plan_ms" -> Stats.median(ts.map(_.planMs)),
        "action_ms" -> Stats.median(ts.map(_.actionMs)),
        "wall_ms" -> Stats.median(ts.map(_.totalMs)),
        "critical_path_ms" -> Stats.median(a.map(_.criticalPathMs)),
        "task_cpu_ms" -> Stats.median(ts.indices.map(i => (a(i).cpuNs + b(i).cpuNs) / 1e6)),
        "shuffle_bytes" -> Stats.mean(ts.indices.map(i => (a(i).shuffleBytes + b(i).shuffleBytes).toDouble)),
        "jobs" -> Stats.mean(ts.indices.map(i => (a(i).jobs + b(i).jobs).toDouble)))
    }
}

/** Where the derived stores live and how a run resets them. The engine
  * publishes every store under `/tmp/graft_<name>/<data-set name>/v_...`;
  * the benchmark's data set has its own name, so only its own versions are
  * ever touched. */
object Stores {
  /** Cold regime: remove every published version of this data set. */
  def reset(dataDir: String): Unit = {
    val name = new java.io.File(dataDir).getName
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .foreach(r => delete(new java.io.File(r, name)))
  }

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
