package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.model.Tables
import graft.streaming.StreamOps

/** One Kafka-shaped record of the replay. */
final case class Msg(key: String, value: String, timestamp: java.sql.Timestamp)

/** An encoded message with the fields the seeded perturbations need. */
final case class Encoded(key: String, value: String, id: String, news: Boolean, ts: Long)

/** What the replay knows of each message, for the reference model. */
final case class MsgMeta(id: String, isNews: Boolean, ts: Long)

/** Per-batch figures of one replayed micro-batch. */
final case class BatchRec(rows: Int, wallMs: Double, upsert: Timing, storeRows: Long,
                          progress: Option[StreamingQueryProgress]) {
  def upsertMs: Double = upsert.totalMs
}

/** The reference's cold-start backfill: the consumer group starts at the
  * earliest offset and catches up. sf0.1 `events` and `documents` are
  * encoded as 4-topic JSON messages; the seed sets the share of colliding
  * ids (upserts and exact re-deliveries) and of out-of-order messages
  * (some later than the watermark). The messages are replayed through a
  * MemoryStream in fixed-size micro-batches: decode, watermarked dedup,
  * VADER enrichment, and a foreachBatch upsert with retention that
  * materializes the store. */
final class Ingest(spark: SparkSession, a: Args) extends Workload {
  import Ingest._

  private val rng = new scala.util.Random(a.seed)
  /** Seed-drawn shares, kept in the detail record. */
  val collideShare: Double = 0.08 + 0.04 * rng.nextDouble()
  val disorderShare: Double = 0.04 + 0.02 * rng.nextDouble()
  private var msgs: IndexedSeq[Msg] = IndexedSeq.empty
  private var meta: IndexedSeq[MsgMeta] = IndexedSeq.empty
  private var batchAnswer: Map[Int, (String, Model)] = Map.empty
  private var replaySeq = 0

  /** Encodes the sf0.1 tables as messages and applies the seeded
    * collisions and disorder. */
  def prepare(): Unit = {
    val ev = Tables.events(spark, a.data)
    val docs = Tables.documents(spark, a.data)
    val span = ev.agg(min(col("ts")).cast("long"), max(col("ts")).cast("long")).head()
    val (t0, t1) = (span.getLong(0), span.getLong(1))
    val nDocs = docs.count()
    val evMsgs = ev.select(
      concat(lit("EV_"), col("event_id")).as("id"),
      concat(lit("T"), col("user_id") % Tickers).as("ticker"),
      when(col("event_type").isin("view", "click"), lit("intraday_metrics"))
        .when(col("event_type") === "purchase", lit("history"))
        .when(col("event_type") === "signup", lit("daily_summary"))
        .otherwise(lit("technical")).as("type"),
      col("event_type").as("title"),
      col("props").as("summary"),
      col("ts").cast("long").as("publish_time"),
      col("value").as("current_price"),
      lit("REGULAR").as("market_state"),
      lit("EUR").as("currency"))
    val docMsgs = docs.select(
      concat(lit("DOC_"), col("doc_id")).as("id"),
      concat(lit("T"), col("doc_id") % Tickers).as("ticker"),
      lit("news").as("type"),
      substring(col("text"), 1, 40).as("title"),
      col("text").as("summary"),
      (lit(t0) + col("doc_id") * ((t1 - t0) / math.max(1L, nDocs))).as("publish_time"),
      lit(null).cast("double").as("current_price"),
      lit(null).cast("string").as("market_state"),
      lit(null).cast("string").as("currency"))
    // The earliest messages, with room for the ones disorder moves past
    // the end of the replayed prefix.
    val all = evMsgs.unionByName(docMsgs).orderBy(col("publish_time"), col("id"))
      .limit(ReplayRows + 3 * BatchRows)
    val enc = StreamOps.encodeMessages(all)
      .select(col("key"), col("value"),
        get_json_object(col("value"), "$.id").as("id"),
        get_json_object(col("value"), "$.type").as("type"),
        get_json_object(col("value"), "$.publish_time").cast("long").as("ts"))
      .orderBy(col("ts"), col("id"))
      .collect()
    val base = enc.map(r => Encoded(r.getString(0), r.getString(1), r.getString(2), r.getString(3) == "news", r.getLong(4)))
    val r = new scala.util.Random(a.seed * 31 + 7)
    // Collisions among non-retention messages only: half re-deliver an
    // earlier message verbatim, half reuse its id with their own payload.
    val out = mutable.ArrayBuffer[Encoded]()
    val nonNews = mutable.ArrayBuffer[Int]()
    base.indices.foreach { i =>
      val m = base(i)
      if (!m.news && nonNews.nonEmpty && r.nextDouble() < collideShare) {
        val earlier = base(nonNews(nonNews.size - 1 - r.nextInt(math.min(nonNews.size, CollideWindow))))
        out += (if (r.nextBoolean()) earlier
          else m.copy(value = m.value.replace(s"\"id\":\"${m.id}\"", s"\"id\":\"${earlier.id}\""), id = earlier.id))
      } else out += m
      if (!m.news) nonNews += i
    }
    // Disorder: move a share of messages later by up to three batches.
    val ordered = out.indices.map { i =>
      val delay = if (r.nextDouble() < disorderShare) 1 + r.nextInt(3 * BatchRows) else 0
      (i + delay, i)
    }.sorted.map(p => out(p._2)).take(ReplayRows)
    require(ordered.size == ReplayRows, s"only ${ordered.size} messages")
    val ts0 = new java.sql.Timestamp(0L)
    msgs = ordered.map(m => Msg(m.key, m.value, ts0))
    meta = ordered.map(m => MsgMeta(m.id, m.news, m.ts))
    batchAnswer = Map.empty
  }

  private def emptyStore(session: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame =
    session.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** One replay of `batches` micro-batches of `rows` messages. Returns
    * the per-batch records and the final store. */
  def replay(session: SparkSession, rows: Int, batches: Int, tracer: Option[Tracer]): (Seq[BatchRec], DataFrame) = {
    replaySeq += 1
    val tag = s"i$replaySeq"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    val in = MemoryStream[Msg]
    val decoded = StreamOps.decodeMessages(in.toDF())
    val deduped = StreamOps.dedupWithWatermark(
      decoded.withColumn("event_ts", col("publish_time").cast("timestamp")), "event_ts", WatermarkDelay)
    val enriched = graft.ops.EnrichOps.withVaderScore(deduped, col("summary"), "sentiment")
    @volatile var store: DataFrame = null
    @volatile var upsert: Timing = null
    @volatile var storeRows = -1L
    val ckpt = java.nio.file.Files.createTempDirectory("graftbench_ckpt").toString
    val q = enriched.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // build the upsert, force its plan, materialize the store
        val (t, next, _) = Op.run(session, tracer, "upsert", s"$tag.$id") {
          val batch = b.drop("ingest_ts", "event_ts", "kafka_key")
          val cur = if (store == null) emptyStore(session, batch.schema) else store
          StreamOps.upsertBatch(cur, batch, RetainType, RetainDays)
        }(_.localCheckpoint())
        if (store != null) graft.ops.SessionOps.releaseQuiet(store)
        store = next
        upsert = t
        if (tracer.isDefined) storeRows = next.count()
        ()
      }.start()
    val recs = mutable.ArrayBuffer[BatchRec]()
    try {
      (0 until batches).foreach { j =>
        val chunk = msgs.slice(j * rows, (j + 1) * rows)
        val t0 = Clock.nowMs
        in.addData(chunk)
        q.processAllAvailable()
        val t1 = Clock.nowMs
        tracer.foreach(_.spans.add(0, s"batch:$tag.$j", t0, t1))
        recs += BatchRec(chunk.size, t1 - t0, upsert, storeRows, None)
      }
      val prog = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      require(prog.length == recs.size,
        s"expected ${recs.size} progress reports, got ${prog.length}")
      (recs.indices.map(i => recs(i).copy(progress = Some(prog(i)))), store)
    } finally {
      q.stop()
      Stores.delete(new java.io.File(ckpt))
    }
  }

  def warmUp(): Unit = {
    val (recs, store) = replay(spark, BatchRows, WarmBatches, None)
    val f = check(spark, recs, store, BatchRows, WarmBatches)
    if (f.nonEmpty) sys.error(s"warm-up: ${f.mkString("; ")}")
  }

  /** Checks one replay: its stream counts against the reference model,
    * the row balance, and its final store against the batch answer. */
  private def check(session: SparkSession, recs: Seq[BatchRec], store: DataFrame,
                    rows: Int, batches: Int): Seq[String] = {
    val key = rows * 100000 + batches
    val (want, model) = batchAnswer.getOrElse(key, {
      val m = Model.run(meta.take(rows * batches), rows, WatermarkDelaySec, RetainDays)
      val passed = msgs.take(rows * batches).zipWithIndex.filter { case (_, i) => m.passed(i) }.map(_._1)
      import session.implicits._
      val input = StreamOps.decodeMessages(passed.toDF())
      val enriched = graft.ops.EnrichOps.withVaderScore(input, col("summary"), "sentiment")
        .drop("ingest_ts", "kafka_key")
      val answer = StreamOps.upsertBatch(emptyStore(session, enriched.schema), enriched, RetainType, RetainDays)
      val v = (Fingerprint.ofFrame(answer), m)
      batchAnswer += key -> v
      v
    })
    val got = Fingerprint.ofFrame(store)
    val f = mutable.ArrayBuffer[String]()
    val counts = recs.flatMap(_.progress).map(Ingest.dedupCounts)
    counts.filter(_.runs < 1).foreach(c => f += s"ingest: dedup counters do not divide into whole plan runs: $c")
    val late = counts.map(_.late).sum
    val dups = counts.map(_.dups).sum
    val passedRows = counts.map(_.passed).sum
    val decoded = counts.map(_.input).sum
    val stored = store.count()
    if (got != want) f += s"ingest: final store $got != batch answer $want"
    if (late != model.late) f += s"ingest: ${late} rows dropped by the watermark, model says ${model.late}"
    if (dups != model.dups) f += s"ingest: ${dups} duplicate rows dropped, model says ${model.dups}"
    if (stored != model.stored) f += s"ingest: ${stored} rows stored, model says ${model.stored}"
    if (decoded != rows.toLong * batches) f += s"ingest: decoded $decoded of ${rows * batches} messages"
    // decoded = stored + duplicates + retention-deleted + late-dropped
    if (decoded != stored + dups + model.superseded + model.retained + late ||
        passedRows != stored + model.superseded + model.retained)
      f += s"ingest: rows do not balance (decoded $decoded, stored $stored, dups $dups, " +
        s"superseded ${model.superseded}, retention ${model.retained}, late $late)"
    f.toSeq
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Region = {
    val recs = mutable.ArrayBuffer[BatchRec]()
    val failures = mutable.ArrayBuffer[String]()
    var replays = 0
    val start = Clock.nowMs
    var replayWall = 0.0
    // A fixed number of whole replays for the run length, so every run
    // times the same batches.
    while (replays < math.max(1, math.round(seconds / NominalReplayS).toInt)) {
      val (r, store) = replay(spark, BatchRows, ReplayBatches, tracer)
      replayWall += r.map(_.wallMs).sum
      recs ++= r
      failures ++= check(spark, r, store, BatchRows, ReplayBatches)
      graft.ops.SessionOps.releaseQuiet(store)
      replays += 1
    }
    val lat = recs.map(_.wallMs).toSeq
    val rowsPerS = recs.map(_.rows).sum / (replayWall / 1000.0)
    val p50 = Stats.median(lat)
    val p90 = Stats.pct(lat, 90)
    val layers = tracer.map(tr => batchLayers(tr, recs.toSeq, Clock.nowMs - start)).getOrElse(Map.empty)
    Region(
      e2e = Map(
        "latency_ms" -> ((p50, "ms", recs.size)),
        "throughput_per_s" -> ((rowsPerS, "1/s", recs.size)),
        "ingest_rows_per_s" -> ((rowsPerS, "rows/s", recs.size)),
        "ingest_batch_p50_ms" -> ((p50, "ms", recs.size)),
        "ingest_batch_p90_ms" -> ((p90, "ms", recs.size))),
      layers = layers,
      attempted = recs.size,
      failures = failures.toSeq,
      detail = Map(
        "replays" -> replays,
        "batch_rows" -> BatchRows,
        "replay_batches" -> ReplayBatches,
        "collide_share" -> collideShare,
        "disorder_share" -> disorderShare,
        "batch_ms" -> lat,
        "streaming" -> tracer.map(streamLayers(_, recs.toSeq)).getOrElse(Map.empty),
        // the stream's own share of a batch: everything outside the upsert
        "layer_self_ms" -> tracer.map(tr => OpLayers.selfTime(tr, recs.map(_.upsert).toSeq) +
          ("streaming" -> recs.map(r => r.wallMs - r.upsertMs).sum)).getOrElse(Map.empty)))
  }

  /** The traced run's extra figures: the split of batch cost into a fixed
    * and a per-row part (two batch sizes over the same messages), and the
    * same replay on a single core. */
  override def traceExtras(seconds: Double): (Map[String, Any], Seq[String]) = {
    val failures = mutable.ArrayBuffer[String]()
    def one(session: SparkSession, rows: Int): Map[String, Any] = {
      val batches = ReplayBatches
      val (r, store) = replay(session, rows, batches, None)
      failures ++= check(session, r, store, rows, batches)
      val lat = r.map(_.wallMs)
      Map("batch_rows" -> rows, "batches" -> batches, "batch_p50_ms" -> Stats.median(lat),
        "rows_per_s" -> r.map(_.rows).sum / (lat.sum / 1000.0))
    }
    val big = one(spark, BatchRows)
    val small = one(spark, BatchRows / 4)
    val (tb, ts) = (big("batch_p50_ms").asInstanceOf[Double], small("batch_p50_ms").asInstanceOf[Double])
    val perRow = (tb - ts) / (BatchRows - BatchRows / 4)
    val fixed = tb - perRow * BatchRows
    // Single-core baseline: the same replay in a fresh local[1] session.
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val single = Session.build(1)
    val one1 = try one(single, BatchRows) finally single.stop()
    (Map(
      "batch_cost_fixed_ms" -> fixed,
      "batch_cost_per_row_ms" -> perRow,
      "batch_size_runs" -> Seq(big, small),
      "local1" -> one1), failures.toSeq)
  }

  /** The layer figures every workload reports, for micro-batches: the
    * upsert's build and plan (plus the stream's own incremental planning),
    * its jobs, and as dispatch everything of the batch outside build, plan
    * and the stages' critical path (offsets, WAL, commit, job launch). */
  private def batchLayers(tr: Tracer, recs: Seq[BatchRec], wallMs: Double): Map[String, (Double, String)] = {
    val base = OpLayers(tr, recs.map(_.upsert), wallMs, a.cores)
    val planning = recs.map(r => r.progress.map(p =>
      Option(p.durationMs.get("queryPlanning")).map(_.doubleValue).getOrElse(0.0)).getOrElse(0.0))
    val critical = recs.map(r => tr.jobs.phase(r.upsert.id, "action").criticalPathMs)
    base ++ Map(
      "plans.plan_ms" -> (Stats.median(recs.indices.map(i => recs(i).upsert.planMs + planning(i))), "ms"),
      "exec.dispatch_ms" -> (Stats.median(recs.indices.map(i =>
        recs(i).wallMs - recs(i).upsert.buildMs - recs(i).upsert.planMs - planning(i) - critical(i))), "ms"))
  }

  /** The streaming layer's own figures, from the StreamingQueryListener's
    * progress reports and the harness's timers. */
  private def streamLayers(tr: Tracer, recs: Seq[BatchRec]): Map[String, Any] = {
    val prog = tr.streams.synchronized(tr.streams.progress.filter(_.numInputRows > 0).toSeq)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val state = prog.map(p => p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    val mem = prog.map(p => p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    val late = prog.map(p => Ingest.dedupCounts(p).late).sum
    val lag = prog.flatMap { p =>
      Option(p.eventTime.get("watermark")).zip(Option(p.eventTime.get("max"))).map { case (w, m) =>
        (java.time.Instant.parse(m).toEpochMilli - java.time.Instant.parse(w).toEpochMilli) / 1000.0
      }
    }
    // stored / decoded of the last replay
    val decoded = recs.takeRight(ReplayBatches).flatMap(_.progress).map(_.numInputRows).sum.toDouble
    val stored = recs.lastOption.map(_.storeRows.toDouble).getOrElse(0.0)
    // Upsert time against store size: the per-row slope of the upsert.
    val pts = recs.filter(_.storeRows >= 0).map(r => (r.storeRows.toDouble, r.upsertMs))
    val slope = if (pts.size < 2) Double.NaN else {
      val mx = Stats.mean(pts.map(_._1)); val my = Stats.mean(pts.map(_._2))
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (sxx == 0) Double.NaN else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
    }
    Map(
      "streaming.trigger_ms" -> Stats.median(dur("triggerExecution")),
      "streaming.add_batch_ms" -> Stats.median(dur("addBatch")),
      "streaming.query_planning_ms" -> Stats.median(dur("queryPlanning")),
      "streaming.wal_commit_ms" -> Stats.median(dur("walCommit").zip(dur("commitOffsets")).map(x => x._1 + x._2)),
      "streaming.upsert_ms" -> Stats.median(recs.map(_.upsertMs)),
      "streaming.upsert_ms_per_store_row" -> slope,
      "streaming.store_rows" -> stored,
      "streaming.state_rows" -> Stats.median(state),
      "streaming.state_mem_bytes" -> Stats.median(mem),
      "streaming.late_rows_dropped" -> late.toDouble,
      "streaming.watermark_lag_s" -> Stats.median(lag),
      "streaming.kept_ratio" -> (if (decoded == 0) 0.0 else stored / decoded),
      "streaming.batch_plan_runs" -> Stats.mean(prog.map(p => Ingest.dedupCounts(p).runs.toDouble)))
  }
}

/** The dedup operator's counters of one micro-batch, divided by the number
  * of times the batch's plan ran (each run processes every input row, and
  * the counters add up over runs). `runs` is 0 when they do not divide. */
final case class DedupCounts(input: Long, late: Long, dups: Long, passed: Long, runs: Long)

object Ingest {
  def dedupCounts(p: StreamingQueryProgress): DedupCounts = {
    val ops = p.stateOperators
    val late = ops.map(_.numRowsDroppedByWatermark).sum
    val dups = ops.map(s =>
      Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
    val passed = ops.map(_.numRowsUpdated).sum
    val in = p.numInputRows
    val total = late + dups + passed
    val runs = if (in > 0 && total % in == 0) total / in else 0L
    if (runs < 1 || late % runs != 0 || dups % runs != 0) DedupCounts(in, late, dups, passed, 0L)
    else DedupCounts(in, late / runs, dups / runs, passed / runs, runs)
  }

  val BatchRows = 2000
  val ReplayBatches = 8
  /** Seconds a replay takes on 4 cores; sizes the timed region. */
  val NominalReplayS = 10.0
  val WarmBatches = 2
  /** Messages kept for replays (every replay reads a prefix). */
  val ReplayRows: Int = BatchRows * ReplayBatches
  val Tickers = 40
  val CollideWindow = 4000
  val WatermarkDelay = "6 hours"
  val WatermarkDelaySec: Long = 6L * 3600
  val RetainType = "news"
  val RetainDays = 1
}

/** Outcome of the reference model of one replay. */
final case class Model(passed: Set[Int], late: Long, dups: Long, superseded: Long,
                       retained: Long, stored: Long)

/** A plain-Scala model of the replay's semantics, independent of Spark:
  * the watermark of batch n trails the max event time of batches before n
  * by the delay; a row at or below the previous batch's watermark is
  * dropped as late (Structured Streaming's late-event bound); otherwise
  * first-occurrence dedup on (id, event time). Then per batch latest-wins
  * by publish time and retention of the retained type against the running
  * max publish time. */
object Model {
  def run(meta: IndexedSeq[MsgMeta], rows: Int, delaySec: Long, retainDays: Int): Model = {
    val passed = mutable.Set[Int]()
    val seen = mutable.HashSet[(String, Long)]()
    val store = mutable.HashMap[String, (Long, Boolean)]()
    var maxTs = Long.MinValue
    var wm = Long.MinValue
    var late, dups, superseded, retained = 0L
    meta.indices.grouped(rows).foreach { idx =>
      val lateBound = wm
      wm = if (maxTs == Long.MinValue) Long.MinValue else maxTs - delaySec
      val out = mutable.ArrayBuffer[Int]()
      idx.foreach { i =>
        val m = meta(i)
        if (m.ts <= lateBound) late += 1
        else if (!seen.add((m.id, m.ts))) dups += 1
        else { out += i; passed += i }
      }
      idx.foreach(i => maxTs = math.max(maxTs, meta(i).ts))
      out.foreach { i =>
        val m = meta(i)
        store.get(m.id) match {
          case Some((t, _)) if t >= m.ts => superseded += 1
          case Some(_) => superseded += 1; store(m.id) = (m.ts, m.isNews)
          case None => store(m.id) = (m.ts, m.isNews)
        }
      }
      if (store.nonEmpty) {
        val cutoff = store.values.map(_._1).max - retainDays * 86400L
        val gone = store.filter { case (_, (t, news)) => news && t < cutoff }.keys.toSeq
        retained += gone.size
        gone.foreach(store.remove)
      }
    }
    Model(passed.toSet, late, dups, superseded, retained, store.size.toLong)
  }
}
