package perfbench

import java.io.File
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.model.Alert
import graft.operators.AlertOps
import graft.sources.JsonIngest
import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Alerts the sink received, with the wall time each batch reached it. */
final class AlertSink {
  final case class Got(user: Int, tsMs: Long, message: String, emitWallMs: Long)
  val got = ArrayBuffer[Got]()
  // batch id -> (sink start, sink end) in epoch ms
  val batchSpans = scala.collection.mutable.Map[Long, (Double, Double)]()
  @volatile var lastBatch: Long = -1L

  def apply(ds: Dataset[Alert], batchId: Long): Unit = {
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    val rows = ds.collect()
    val emit = System.currentTimeMillis()
    synchronized {
      rows.foreach(a => got += Got(a.user_id, a.ts.getTime, a.message, emit))
      batchSpans(batchId) = (w0.toDouble, w0 + (System.nanoTime() - t0) / 1e6)
      lastBatch = batchId
    }
  }

  def snapshot: Seq[Got] = synchronized(got.toList)
}

/** Deterministic event source for one query. Closed loop: [[round]]
  * returns the next trigger's addData blocks, in feed order. Open loop:
  * [[due]] returns every event due by a wall time, one block per stream.
  */
final class Feeder(sh: Shape, seed: Long, val log: EventLog, t0Ms: Long) {
  private val rnd = new SplittableRandom(seed)
  private var feed = 0
  private var nominal = t0Ms
  private var sliceBp = false
  private var nextIx = 0L

  private def value(bp: Boolean): Int =
    if (bp) { if (rnd.nextDouble() < sh.lowBpP) 70 + rnd.nextInt(30) else 100 + rnd.nextInt(61) }
    else { if (rnd.nextDouble() < sh.highHrP) 101 + rnd.nextInt(60) else 50 + rnd.nextInt(51) }

  /** Closed loop: one trigger's worth of blocks, alternating streams
    * slice by slice, so event time never runs backwards between two
    * addData calls and no event is late under any micro-batch split.
    */
  def round(slices: Int): Seq[(Boolean, Seq[String])] = {
    val out = (0 until slices).map { _ =>
      val bp = sliceBp
      val start = nominal
      val block = (0 until Shape.SliceEvents).map { k =>
        val i = log.size
        log.add(start + k, rnd.nextInt(sh.users), bp, value(bp), feed)
        log.json(i)
      }
      nominal = start + Shape.SliceEvents
      sliceBp = !bp
      (bp, block)
    }
    feed += 1
    out
  }

  /** Open loop: every event due before `wallMs` not yet sent, each
    * stamped with its due time: (heart-rate block, blood-pressure block).
    */
  def due(wallMs: Long): (Seq[String], Seq[String]) = {
    val upTo = (wallMs - t0Ms) * sh.ratePerS / 1000
    val hr = ArrayBuffer[String]()
    val bp = ArrayBuffer[String]()
    while (nextIx < upTo) {
      val isBp = (nextIx & 1L) == 1L
      val ts = t0Ms + nextIx * 1000 / sh.ratePerS
      val i = log.size
      log.add(ts, rnd.nextInt(sh.users), isBp, value(isBp), -1)
      (if (isBp) bp else hr) += log.json(i)
      nextIx += 1
    }
    (hr.toSeq, bp.toSeq)
  }
}

/** One running alert query: MemoryStream sources → AlertPipeline →
  * AlertSinks.foreachBatch.
  */
final class AlertQuery(spark: SparkSession, val sh: Shape, seed: Long,
    ckpt: File, t0Ms: Long) {
  private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._
  val hr: MemoryStream[String] = MemoryStream[String]
  val bp: MemoryStream[String] = MemoryStream[String]
  val cfg: AlertPipeline.Config = AlertPipeline.Config(
    windowLength = sh.windowSpec, windowSlide = sh.slideSpec,
    watermarkDelay = sh.delaySpec, cooldownMs = sh.cooldownMs)
  val log = new EventLog
  val feeder = new Feeder(sh, seed, log, t0Ms)
  val sink = new AlertSink
  val q: StreamingQuery = {
    val alerts = AlertPipeline(hr.toDF(), bp.toDF(), cfg)
    if (sh.openLoop)
      AlertSinks.foreachBatch(alerts, ckpt.getAbsolutePath, sink.apply)
    else
      AlertSinks.foreachBatch(alerts, ckpt.getAbsolutePath, sink.apply,
        Trigger.ProcessingTime(0L))
  }

  /** Closed loop: feed one trigger, wait until it is fully processed. */
  def closedRound(slices: Int = Shape.RoundEvents / Shape.SliceEvents): Int = {
    val blocks = feeder.round(slices)
    blocks.foreach { case (isBp, b) => if (isBp) bp.addData(b) else hr.addData(b) }
    q.processAllAvailable()
    blocks.map(_._2.size).sum
  }

  private var scriptedFeed = 0

  /** Feed scripted events as one trigger, heart-rate block first:
    * (event time, user, is blood pressure, reading).
    */
  def feedScripted(evs: Seq[(Long, Int, Boolean, Int)]): Unit = {
    val blocks = Seq(false, true).map { isBp =>
      evs.filter(_._3 == isBp).map { case (t, u, b, v) =>
        log.add(t, u, b, v, scriptedFeed)
        log.json(log.size - 1)
      }
    }
    if (blocks(0).nonEmpty) hr.addData(blocks(0))
    if (blocks(1).nonEmpty) bp.addData(blocks(1))
    q.processAllAvailable()
    scriptedFeed += 1
  }

  def lastBatchId: Long = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  /** Wait until the engine is idle and the sink has seen the last
    * batch the engine reported; returns that batch's watermark.
    */
  def quiesce(idleMs: Long): Long = {
    q.processAllAvailable()
    var stableSince = System.currentTimeMillis()
    var last = lastBatchId
    val deadline = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() - stableSince < idleMs ||
        sink.lastBatch != last || q.status.isTriggerActive) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("query did not go idle")
      Thread.sleep(20)
      val b = lastBatchId
      if (b != last) { last = b; stableSince = System.currentTimeMillis() }
    }
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => Instant.parse(w).toEpochMilli).getOrElse(Long.MinValue)
  }

  /** Check every alert against the oracle for the panes the final
    * watermark closed: (oracle alerts, missing, extra, bad messages).
    */
  def check(finalWm: Long): (Oracle.Result, Int, Int, Int) = {
    val want = Oracle.alerts(log, sh, finalWm)
    val got = sink.snapshot
    val (missing, extra) = Oracle.diff(want.alerts, got.map(g => (g.user, g.tsMs)))
    val badMsg = got.count(g => g.message != s"User ${g.user} has a problem")
    (want, missing, extra, badMsg)
  }

  def stop(): Unit = q.stop()
}

/** Traces the alert query live: builds each micro-batch's spans when
  * its progress event arrives, for batches that start at or after
  * `fromMs` and no later than `untilMs` (set when the window ends).
  */
final class ProgressTracer(tr: Tracer, parent: Int, aq: AlertQuery, fromMs: Long)
    extends StreamingQueryListener {
  import StreamingQueryListener._
  @volatile var untilMs: Long = Long.MaxValue
  private val got = ArrayBuffer[StreamingQueryProgress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val t = Instant.parse(p.timestamp).toEpochMilli
    if (p.id == aq.q.id && t >= fromMs && t <= untilMs) {
      StreamLayers.spans(tr, parent, Seq(p), aq.sink)
      synchronized(got += p)
    }
  }

  def progress: Seq[StreamingQueryProgress] = synchronized(got.toList)
}

/** Progress-derived layer metrics and spans for a run of batches. */
object StreamLayers {
  val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** One span per micro-batch with its phases as children laid end to
    * end, and the sink call as a child of addBatch.
    */
  def spans(tr: Tracer, parent: Int, ps: Seq[StreamingQueryProgress],
      sink: AlertSink): Unit = ps.foreach { p =>
    val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val ops = p.stateOperators.map(o => Map(
      "op" -> o.operatorName, "rows_total" -> o.numRowsTotal,
      "rows_updated" -> o.numRowsUpdated, "rows_removed" -> o.numRowsRemoved,
      "mem_bytes" -> o.memoryUsedBytes, "update_ms" -> o.allUpdatesTimeMs,
      "removal_ms" -> o.allRemovalsTimeMs, "commit_ms" -> o.commitTimeMs,
      "late_rows" -> o.numRowsDroppedByWatermark)).toSeq
    val b = tr.add(parent, "streaming.batch", start, start + ms(p, "triggerExecution"),
      Map("batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
        "event_time" -> p.eventTime.asScala.toMap, "state" -> ops))
    var t = start
    phases.foreach { ph =>
      val d = ms(p, ph)
      val id = tr.add(b, s"streaming.$ph", t, t + d)
      if (ph == "addBatch") sink.synchronized(sink.batchSpans.get(p.batchId))
        .foreach { case (s, e) => tr.add(id, "streaming.sink", s, e) }
      t += d
    }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def metrics(ps: Seq[StreamingQueryProgress], sink: AlertSink): Map[String, Double] = {
    val trig = ps.map(ms(_, "triggerExecution"))
    val empty = ps.filter(_.numInputRows == 0)
    val lag = ps.flatMap { p =>
      val et = p.eventTime
      if (et.containsKey("max") && et.containsKey("watermark"))
        Some((Instant.parse(et.get("max")).toEpochMilli -
          Instant.parse(et.get("watermark")).toEpochMilli).toDouble)
      else None
    }
    val sinkMs = sink.synchronized(ps.flatMap(p =>
      sink.batchSpans.get(p.batchId).map { case (s, e) => e - s }))
    def op(name: String) = ps.flatMap(_.stateOperators.filter(_.operatorName == name))
    def state(prefix: String, name: String): Map[String, Double] = {
      val os = op(name)
      Map(
        s"$prefix.rows_total_max" -> os.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
        s"$prefix.mem_bytes_max" -> os.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
        s"$prefix.rows_updated" -> os.map(_.numRowsUpdated.toDouble).sum,
        s"$prefix.rows_removed" -> os.map(_.numRowsRemoved.toDouble).sum,
        s"$prefix.update_ms" -> os.map(_.allUpdatesTimeMs.toDouble).sum,
        s"$prefix.removal_ms" -> os.map(_.allRemovalsTimeMs.toDouble).sum,
        s"$prefix.commit_ms" -> os.map(_.commitTimeMs.toDouble).sum)
    }
    val inRows = ps.map(_.numInputRows.toDouble).sum
    val winUpdated = op("stateStoreSave").map(_.numRowsUpdated.toDouble).sum
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.empty_batches" -> empty.size.toDouble,
      "streaming.empty_batch_ms_p50" -> med(empty.map(ms(_, "triggerExecution"))),
      "streaming.trigger_ms_p50" -> med(trig),
      "streaming.trigger_ms_max" -> trig.maxOption.getOrElse(0.0),
      "streaming.latest_offset_ms" -> med(ps.map(ms(_, "latestOffset"))),
      "streaming.query_planning_ms" -> med(ps.map(ms(_, "queryPlanning"))),
      "streaming.add_batch_ms" -> med(ps.map(ms(_, "addBatch"))),
      "streaming.wal_commit_ms" -> med(ps.map(ms(_, "walCommit"))),
      "streaming.commit_offsets_ms" -> med(ps.map(ms(_, "commitOffsets"))),
      "streaming.watermark_lag_ms_p50" -> med(lag),
      "streaming.sink_ms" -> med(sinkMs),
      "operators.panes_per_event" -> (if (inRows > 0) winUpdated / inRows else 0.0),
      "state.window.late_rows_dropped" ->
        op("stateStoreSave").map(_.numRowsDroppedByWatermark.toDouble).sum
    ) ++ state("state.window", "stateStoreSave") ++
      state("state.cooldown", "flatMapGroupsWithState")
  }
}

/** The alert workloads: set-up, measured window, oracle check, and
  * (traced) layer attribution.
  */
object AlertRun {
  /** A measured window: events fed, its wall bounds, and (closed loop)
    * the round trip of every trigger in it.
    */
  final case class Window(events: Long, secs: Double, startMs: Long,
      endMs: Long, rounds: Seq[Double])

  val T0Closed = 1700000000000L

  def newQuery(spark: SparkSession, sh: Shape, seed: Long, work: File,
      tag: String): AlertQuery = {
    val ckpt = new File(work, s"ckpt-$tag-${System.nanoTime()}")
    val t0 = if (sh.openLoop) System.currentTimeMillis() else T0Closed
    new AlertQuery(spark, sh, seed, ckpt, t0)
  }

  /** Set-up's warm-up: a first trigger with data on both streams, which
    * plans and compiles the query (open loop: the generator starts, and
    * runs until a first batch with data has completed).
    */
  def warm(aq: AlertQuery, gen: Option[LiveGen]): Unit = gen match {
    case Some(g) =>
      g.start()
      while (!aq.q.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(10)
    case None => aq.closedRound(2)
  }

  /** Untimed fill after set-up. Closed loop: one trigger carrying the
    * rest of a window length of event time, so window state is at its
    * steady size.
    * Open loop: until the query keeps its 1 s trigger (the last two
    * batches each read at most one second of input and ended within the
    * trigger interval), at least 2 s. Right after set-up the engine is
    * still warming up and its batches overrun the trigger.
    */
  def fill(aq: AlertQuery, gen: Option[LiveGen]): Unit = gen match {
    case Some(g) =>
      val c = new Clock
      def drained = {
        val ps = aq.q.recentProgress.toSeq.takeRight(2)
        ps.size == 2 && ps.forall(p => p.numInputRows <= aq.sh.ratePerS &&
          StreamLayers.ms(p, "triggerExecution") < 1000)
      }
      while (c.s < 2.0 || (!drained && c.s < 15.0)) Thread.sleep(50)
      g.lateMaxMs = 0.0
    case None =>
      val sh = aq.sh
      aq.closedRound(((sh.windowMs + sh.slideMs) / Shape.SliceEvents).toInt)
  }

  /** Closed loop: whole triggers until `secs` have passed. */
  def closedWindow(aq: AlertQuery, secs: Double): Window = {
    val s = System.currentTimeMillis()
    val c = new Clock
    var n = 0L
    val rounds = ArrayBuffer[Double]()
    while (c.s < secs) {
      val r = new Clock
      n += aq.closedRound()
      rounds += r.ms
    }
    Window(n, c.s, s, System.currentTimeMillis(), rounds.toSeq)
  }

  /** Open loop: the generator keeps its schedule for `secs`. */
  def liveWindow(g: LiveGen, secs: Double): Window = {
    val e0 = g.sent
    val s = System.currentTimeMillis()
    val c = new Clock
    Thread.sleep((secs * 1000).toLong)
    Window(g.sent - e0, c.s, s, System.currentTimeMillis(), Nil)
  }

  def window(aq: AlertQuery, gen: Option[LiveGen], secs: Double): Window =
    gen match {
      case Some(g) => liveWindow(g, secs)
      case None => closedWindow(aq, secs)
    }

  /** Latency samples of a window. Open loop: emission wall time minus
    * pane end for every alert whose pane ended inside the window (event
    * time is the due time, so this counts queueing and generator
    * lateness, not window length). Closed loop: trigger round trips.
    */
  def latencies(aq: AlertQuery, w: Window): Seq[Double] =
    if (aq.sh.openLoop)
      aq.sink.snapshot.filter { a =>
        val end = a.tsMs + 1
        end > w.startMs && end <= w.endMs
      }.map(a => (a.emitWallMs - (a.tsMs + 1)).toDouble)
    else w.rounds

  /** Open loop: keep the schedule until the watermark can pass the end
    * of the last window, then stop the generator; the next triggers
    * close and emit the window's last panes.
    */
  def finish(aq: AlertQuery, gen: Option[LiveGen]): Unit = gen.foreach { g =>
    Thread.sleep(aq.sh.delayMs + 2 * g.tickMs)
    g.close()
  }

  /** Oracle check of everything the query received. */
  def verify(aq: AlertQuery, out: Result): Unit = {
    val wm = aq.quiesce(if (aq.sh.openLoop) 1200L else 300L)
    val (want, missing, extra, bad) = aq.check(wm)
    out.attempted += math.max(1, want.alerts.size + extra)
    out.failed += missing + extra + bad
    out.info(s"${aq.sh.name}.oracle") = Map(
      "events" -> aq.log.size, "final_watermark_ms" -> wm,
      "oracle_alerts" -> want.alerts.size, "oracle_raw_panes" -> want.rawPanes,
      "late_events" -> want.dropped, "sink_alerts" -> aq.sink.snapshot.size,
      "missing" -> missing, "extra" -> extra, "bad_messages" -> bad)
    if (missing + extra + bad > 0)
      System.err.println(s"ORACLE MISMATCH ${aq.sh.name}: missing=$missing extra=$extra bad=$bad")
  }

  /** Events per second. Closed loop: events fed (each trigger is fully
    * processed) over the window. Open loop: input rows of the batches
    * that started inside the window, over the time from the end of the
    * batch before them to the end of the last one, so a growing backlog
    * shows as a rate below the offered one. Batches are chosen by start,
    * not end, so that a long batch is not more likely to fall outside.
    */
  def throughput(aq: AlertQuery, w: Window): Double =
    if (!aq.sh.openLoop) w.events / w.secs
    else {
      val all = aq.q.recentProgress.toSeq.sortBy(_.batchId)
      def start(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli
      def end(p: StreamingQueryProgress) = start(p) + StreamLayers.ms(p, "triggerExecution")
      val first = all.indexWhere(p => start(p) >= w.startMs)
      val in = all.drop(math.max(0, first)).takeWhile(p => start(p) <= w.endMs)
      if (first < 0 || in.isEmpty)
        throw new IllegalStateException("no batch started inside the window")
      val from = if (first > 0) end(all(first - 1)) else w.startMs.toDouble
      in.map(_.numInputRows).sum / ((end(in.last) - from) / 1000.0)
    }

  /** Progress of every batch that started inside the window. */
  def progressIn(aq: AlertQuery, w: Window): Seq[StreamingQueryProgress] =
    aq.q.recentProgress.toSeq.filter { p =>
      val t = Instant.parse(p.timestamp).toEpochMilli
      t >= w.startMs && t <= w.endMs
    }

  /** Untraced: end-to-end metrics. */
  def run(sh: Shape, a: Args, out: Result): Unit = {
    val setups = ArrayBuffer[Double]()
    val parts = ArrayBuffer[Seq[Double]]()
    var spark: SparkSession = null
    var aq: AlertQuery = null
    var gen: Option[LiveGen] = None
    (1 to Session.SetupReps).foreach { rep =>
      if (aq != null) { gen.foreach(_.close()); aq.stop(); spark.stop() }
      val c = new Clock
      spark = Session.start(a.work)
      val t1 = c.s
      aq = newQuery(spark, sh, a.seed, a.work, s"r$rep")
      gen = if (sh.openLoop) Some(new LiveGen(aq)) else None
      val t2 = c.s
      warm(aq, gen)
      setups += c.s
      parts += Seq(t1, t2 - t1, c.s - t2)
    }
    out.info("setup_session_query_warmup_s") = parts.toSeq
    out.recordSession(spark)
    fill(aq, gen)
    val (cpu0, steal0) = (Jvm.cpuS(), Jvm.stealS())
    val w = window(aq, gen, a.seconds)
    out.info("window_cpu_s") = Jvm.cpuS() - cpu0
    out.info("window_steal_s") = Jvm.stealS() - steal0
    finish(aq, gen)
    verify(aq, out)
    // the query is idle but not stopped, so its state is still held
    val heap = Jvm.heapLiveMb()
    aq.stop()
    spark.stop()
    val lat = latencies(aq, w)
    val (tp, tv) = Stats.tail(lat)
    out.metric("setup_s", Stats.median(setups.toSeq), "s")
    out.metric("throughput_per_s", throughput(aq, w), "1/s")
    out.metric("latency_p50_ms", Stats.median(lat), "ms")
    out.metric("latency_tail_ms", tv, "ms")
    out.metric("heap_live_mb", heap, "MB")
    out.info("samples") = Map("setup" -> setups.toSeq, "latency_ms" -> lat, "latency_n" -> lat.size,
      "latency_tail_percentile" -> tp, "events_sent" -> w.events, "window_s" -> w.secs,
      "latency_kind" -> (if (sh.openLoop) "event_to_alert" else "trigger_round_trip"),
      "generator_late_ms_max" -> gen.map(_.lateMaxMs).getOrElse(0.0),
      "window_start_end_ms" -> Seq(w.startMs, w.endMs),
      "batches" -> aq.q.recentProgress.toSeq.map(p => Map("id" -> p.batchId,
        "start" -> p.timestamp, "trigger_ms" -> StreamLayers.ms(p, "triggerExecution"),
        "rows" -> p.numInputRows)))
  }

  /** Batch replay of the run's events through each layer's public
    * functions, one materialized and timed stage at a time.
    */
  def stagedReplay(spark: SparkSession, aq: AlertQuery, tr: Tracer,
      m: scala.collection.mutable.Map[String, Double]): Unit = {
    import spark.implicits._
    val log = aq.log
    val parts = spark.sparkContext.defaultParallelism
    def raw(bp: Boolean) = spark.createDataset(
      (0 until log.size).filter(i => log.isBp(i) == bp).map(log.json))
      .toDF("value").repartition(parts).cache()
    val hrRaw = raw(false)
    val bpRaw = raw(true)
    val rowsIn = hrRaw.count() + bpRaw.count()
    val cfg = aq.cfg.copy(timeout = GroupStateTimeout.NoTimeout)
    def stage[T <: org.apache.spark.sql.Dataset[_]](parent: Int, name: String)(
        f: => T): (T, Long, Double) = {
      val ((ds, n), id) = tr.time(parent, name) {
        val d = f.cache()
        (d, d.count())
      }
      (ds.asInstanceOf[T], n, tr.spans(id).durMs)
    }
    tr.timeIn(tr.root, "replay") { rp =>
      val (events, nEvents, parseMs) = stage(rp, "sources.parse")(
        JsonIngest.unionEvents(JsonIngest.heartRate(hrRaw),
          JsonIngest.bloodPressure(bpRaw)))
      val (flags, nPanes, flagsMs) = stage(rp, "operators.window_flags")(
        AlertOps.slidingWindowFlags(events, aq.sh.windowSpec, aq.sh.slideSpec))
      val (alerts, nAlerts, filterMs) = stage(rp, "operators.alert_filter")(
        AlertOps.alerts(flags))
      val (deduped, nOut, cooldownMs) = stage(rp, "state.cooldown")(
        AlertPipeline.dedupe(alerts, cfg))
      val qualifying =
        events.filter(AlertOps.highHeartRate || AlertOps.lowBloodPressure).count()
      m("sources.rows_in") = rowsIn.toDouble
      m("sources.rows_out") = nEvents.toDouble
      m("sources.parse_ms") = parseMs
      m("operators.window_flags_ms") = flagsMs + filterMs
      m("operators.qualifying_event_ratio") = qualifying.toDouble / math.max(1L, nEvents)
      m("operators.alert_pane_ratio") = nAlerts.toDouble / math.max(1L, nPanes)
      m("state.cooldown.alerts_in") = nAlerts.toDouble
      m("state.cooldown.alerts_out") = nOut.toDouble
      m("state.cooldown_ms") = cooldownMs
      Seq(events, flags, alerts, deduped).foreach(_.unpersist())
    }
    hrRaw.unpersist(); bpRaw.unpersist()
  }

  /** Traced: per-layer metrics. */
  def traced(sh: Shape, a: Args, out: Result, tr: Tracer): Unit = {
    // the first set-up in a fresh JVM: class loading, object
    // initialisation and code generation included
    val ((spark, aq, gen), setupSpan) = tr.timeIn(tr.root, "setup") { id =>
      val s = tr.time(id, "session")(Session.start(a.work))._1
      val q = newQuery(s, sh, a.seed, a.work, "traced")
      val g = if (sh.openLoop) Some(new LiveGen(q)) else None
      tr.time(id, "warmup")(warm(q, g))
      (s, q, g)
    }
    out.recordSession(spark)
    tr.time(tr.root, "fill")(fill(aq, gen))
    // the traced run measures the same query untraced, traced and
    // untraced again (a quarter, half and quarter of its time), so a
    // steady drift of the host's speed cancels out of the overhead
    // ratio; the traced window has a progress listener that builds every
    // batch's spans as it completes. A quarter is at least 1 s, so each
    // untraced quarter of the open loop holds a batch start.
    val half = a.seconds / 2
    val quarter = math.max(1.0, half / 2)
    val (wu1, _) = tr.time(tr.root, "window.untraced")(window(aq, gen, quarter))
    val gc0 = Jvm.gcMs()
    val ((wt, pt), _) = tr.timeIn(tr.root, "window.traced") { id =>
      val pt = new ProgressTracer(tr, id, aq, System.currentTimeMillis())
      spark.streams.addListener(pt)
      val w = window(aq, gen, half)
      pt.untilMs = w.endMs
      (w, pt)
    }
    val gcMs = Jvm.gcMs() - gc0
    val (wu2, _) = tr.time(tr.root, "window.untraced")(window(aq, gen, quarter))
    tr.time(tr.root, "drain")(finish(aq, gen))
    verify(aq, out)
    // the listener bus is asynchronous: wait for every traced batch
    val want = progressIn(aq, wt).map(_.batchId).toSet
    val deadline = System.currentTimeMillis() + 10000
    while (!want.subsetOf(pt.progress.map(_.batchId).toSet) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.streams.removeListener(pt)
    val ps = pt.progress.filter(p => want.contains(p.batchId))
    if (ps.size != want.size)
      throw new IllegalStateException(s"listener saw ${ps.size} of ${want.size} traced batches")
    val m = scala.collection.mutable.Map[String, Double]() ++ StreamLayers.metrics(ps, aq.sink)
    m("jvm.cold_setup_s") = tr.spans(setupSpan).durMs / 1000.0
    m("jvm.gc_ms") = gcMs.toDouble
    m("bench.generator_late_ms_max") = gen.map(_.lateMaxMs).getOrElse(0.0)
    // open loop: the offered rate is fixed, so compare the engine's
    // per-batch time instead of throughput
    def triggerMs(ws: Window*) = Stats.median(
      ws.flatMap(progressIn(aq, _)).map(StreamLayers.ms(_, "triggerExecution")))
    val untracedRate = (wu1.events + wu2.events) / (wu1.secs + wu2.secs)
    m("trace.overhead_ratio") =
      if (sh.openLoop) triggerMs(wt) / triggerMs(wu1, wu2)
      else untracedRate / (wt.events / wt.secs)
    aq.stop()
    stagedReplay(spark, aq, tr, m)
    spark.stop()
    m("streaming.speedup_vs_1core") = 0.0
    if (sh == Shapes.sparse) {
      // single-threaded baseline of the same job
      val (rate1, _) = tr.time(tr.root, "baseline.1core") {
        val s1 = Session.start(a.work, cores = 1)
        val q1 = newQuery(s1, sh, a.seed, a.work, "1core")
        warm(q1, None)
        fill(q1, None)
        val w1 = closedWindow(q1, half)
        verify(q1, out)
        q1.stop()
        s1.stop()
        w1.events / w1.secs
      }
      m("streaming.speedup_vs_1core") = untracedRate / rate1
    }
    out.layerMetrics ++= m
  }
}

/** Open-loop generator: one thread that ticks every 500 ms and sends
  * every event due by the tick, each stamped with its due time, whether
  * or not the query keeps up.
  */
final class LiveGen(aq: AlertQuery) extends Thread("perfbench-generator") {
  setDaemon(true)
  val tickMs = 500L
  /** Largest delay of a tick behind its schedule since the last reset. */
  @volatile var lateMaxMs = 0.0
  @volatile var sent = 0L
  @volatile private var running = true

  override def run(): Unit = {
    // ticks sit 250 ms off the engine's epoch-aligned 1 s trigger on both
    // sides. If a tick came just after a trigger, a trigger that starts a
    // little late on a loaded host would read the next second's first
    // events, its watermark would pass one second earlier, and an alert
    // would leave one batch sooner: runs would differ by how often that
    // happens, and event-to-alert latency would split into two modes a
    // second apart.
    var nextTick = (System.currentTimeMillis() / tickMs + 1) * tickMs + tickMs / 2
    while (running) {
      val sleep = nextTick - System.currentTimeMillis()
      if (sleep > 0) Thread.sleep(sleep)
      lateMaxMs = math.max(lateMaxMs, (System.currentTimeMillis() - nextTick).toDouble)
      val (hr, bp) = aq.feeder.due(nextTick)
      if (hr.nonEmpty) aq.hr.addData(hr)
      if (bp.nonEmpty) aq.bp.addData(bp)
      sent += hr.size + bp.size
      nextTick += tickMs
    }
  }

  def close(): Unit = { running = false; join() }
}
