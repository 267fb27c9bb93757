package graftbench

import scala.collection.mutable

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall-clock helpers shared by the timers and the listeners: the harness
  * times with `nanoTime`, Spark stamps its events in epoch milliseconds, so
  * every span is stored in epoch milliseconds (fractional). */
object Clock {
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  def nowMs: Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6
}

/** One traced interval. `parent` is the id of the enclosing span (0 = the
  * run itself). */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Scheduler-side totals of every job a tagged phase launched. */
final class PhaseStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** [submission, completion] of every completed stage, epoch ms. */
  val stageIntervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Wall time during which at least one stage of the phase was running:
    * the critical path of the phase's stage DAG (overlapping stages run
    * in parallel and count once). */
  def criticalPathMs: Double = {
    val sorted = stageIntervals.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total.toDouble
  }
}

/** The benchmark's own SparkListener: attributes every job, stage and task
  * to the (op, phase) the harness tagged with local properties, and keeps
  * job/stage spans for the trace file. Registered only in traced runs. */
final class JobTracker(sc: SparkContext) extends SparkListener {
  val byPhase = mutable.HashMap[(String, String), PhaseStats]()
  val jobSpans = mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
  val stageSpans = mutable.ArrayBuffer[(Int, Int, Long, Long)]()
  private val jobTag = mutable.HashMap[Int, (String, String)]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageTag = mutable.HashMap[Int, (String, String)]()
  private val stageJob = mutable.HashMap[Int, Int]()

  private def stats(tag: (String, String)) = byPhase.getOrElseUpdate(tag, new PhaseStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val tag = (Option(p).flatMap(x => Option(x.getProperty(Tags.Op))).getOrElse("untagged"),
      Option(p).flatMap(x => Option(x.getProperty(Tags.Phase))).getOrElse("untagged"))
    jobTag(e.jobId) = tag
    jobStart(e.jobId) = e.time
    e.stageIds.foreach { s => stageTag(s) = tag; stageJob(s) = e.jobId }
    stats(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.get(e.jobId).foreach { case (op, phase) =>
      jobSpans += ((e.jobId, op, phase, jobStart.getOrElse(e.jobId, e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageTag.get(i.stageId).foreach { tag =>
      val st = stats(tag)
      st.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime) {
        st.stageIntervals += ((s, c))
        stageSpans += ((i.stageId, stageJob.getOrElse(i.stageId, -1), s, c))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      val st = stats(tag)
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  def phase(op: String, phase: String): PhaseStats =
    synchronized(byPhase.getOrElse((op, phase), new PhaseStats))

  def drain(): Unit = BusDrain.drain(sc)
}

/** Keeps every micro-batch progress report of the traced stream. */
final class ProgressTracker extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Local-property keys the harness tags jobs with. */
object Tags {
  val Op = "graftbench.op"
  val Phase = "graftbench.phase"
  def set(sc: SparkContext, op: String, phase: String): Unit = {
    sc.setLocalProperty(Op, op)
    sc.setLocalProperty(Phase, phase)
  }
}

/** Spans recorded by the harness's own timers (requests, batches, queries
  * and their build/plan/action phases). */
final class SpanLog {
  private var next = 0
  val spans = mutable.ArrayBuffer[Span]()
  def add(parent: Int, name: String, startMs: Double, endMs: Double): Int = synchronized {
    next += 1
    spans += Span(next, parent, name, startMs, endMs)
    next
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 100]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** JVM-wide counters: JIT compile time, GC time, live heap. */
object Jvm {
  import java.lang.management.ManagementFactory
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = {
    var sum = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(g =>
      if (g.getCollectionTime > 0) sum += g.getCollectionTime)
    sum
  }
  /** Heap in use after full collections, in MB: the least of three
    * readings, each after a collection and a pause in which Spark's
    * cleaner frees what the collection left weakly referenced. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
  def codeCacheMb: Double = {
    var sum = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach(p =>
      if (p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
        sum += p.getUsage.getMax)
    sum / 1048576.0
  }
}
