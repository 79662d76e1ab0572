package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.{QueryDef, SparkEntry}
import graft.operators.{Bpe, Dedup, EventOps, Multimodal, Relational, Similarity, TextOps, TrainPrep, WebCuration}
import graft.stores.StoreManifest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** Job, stage and task counters from Spark's listener bus. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Int)
  val jobs = ArrayBuffer[Job]()
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageInfos.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** The batch workload: a fixed set of `SparkEntry.queries` in seeded
  * order, each forced through an order-insensitive hash of every
  * output column (the action `graft.Bench.force` uses).
  */
object BatchRun {
  /** Query family (layer module) of every registered query. */
  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> Relational.defs, "eventops" -> EventOps.defs,
    "textops" -> TextOps.defs, "dedup" -> Dedup.defs,
    "similarity" -> Similarity.defs, "multimodal" -> Multimodal.defs,
    "trainprep" -> TrainPrep.defs, "bpe" -> Bpe.defs,
    "storemanifest" -> StoreManifest.defs, "webcuration" -> WebCuration.defs)

  val familyOf: Map[String, String] =
    families.flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap

  /** The measured set: one query from every family, each near the
    * suite's median cost, so a pass takes a few seconds on four cores at
    * sf0.01. q20_sliding_alert is the batch twin of the alert query;
    * q167 writes, refreshes and compacts a DeltaStore table; q186 is the
    * cheapest StoreManifest query.
    */
  val suite: Seq[String] = Seq(
    "q1_agg", "q20_sliding_alert", "q31_lang_id", "q167_gram_store_refresh",
    "q40_knn_brute", "q172_phash", "q47_quantile_filter", "q176_bpe_hybrid",
    "q186_manifest_retention", "q198_wet_frame")

  /** Set-up's warm-up queries: spin up executors, codegen and parquet. */
  val warmup: Seq[String] = Seq("q1_agg", "q20_sliding_alert")

  final case class Exec(name: String, secs: Double, rows: Long, hash: Long,
      error: String, startMs: Double, endMs: Double)

  /** (row count, bit_xor of xxhash64 over every column). */
  def force(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def exec(spark: SparkSession, sf: String, name: String, tr: Tracer): Exec = {
    val fn = SparkEntry.queries(name)
    val s = tr.now()
    val c = new Clock
    try {
      val (n, h) = force(fn(spark, sf))
      Exec(name, c.s, n, h, null, s, tr.now())
    } catch {
      case t: Throwable =>
        Exec(name, c.s, -1L, 0L, s"${t.getClass.getName}: ${t.getMessage}", s, tr.now())
    }
  }

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Whole passes over the suite: at least one, and another only while
    * it is expected to end within `secs` (judged by the last pass).
    */
  def window(spark: SparkSession, sf: String, names: Seq[String], seed: Long,
      secs: Double, tr: Tracer, firstPass: Int): (Seq[Exec], Double, Int) = {
    val c = new Clock
    val out = ArrayBuffer[Exec]()
    var pass = firstPass
    var last = 0.0
    while (pass == firstPass || c.s + last <= secs) {
      val p = new Clock
      order(names, seed, pass).foreach(n => out += exec(spark, sf, n, tr))
      last = p.s
      pass += 1
    }
    (out.toSeq, c.s, pass)
  }

  def setup(a: Args, tr: Tracer): SparkSession = {
    val spark = Session.start(a.work)
    warmup.foreach(n => exec(spark, a.sf, n, tr))
    spark
  }

  /** Untimed fill after set-up: one pass, so first-run planning and
    * code generation stay out of the measured window. With `dump` each
    * answer is written as parquet (with the oracle SQL) for the runner's
    * DuckDB check instead of being hashed.
    */
  def fill(spark: SparkSession, a: Args, names: Seq[String], dump: Boolean,
      tr: Tracer): Unit = {
    val dir = new File(a.work, "oracle_out")
    order(names, a.seed, -1).foreach { n =>
      if (dump) SparkEntry.queries(n)(spark, a.sf).repartition(1).write
        .mode("overwrite").parquet(new File(dir, n).getAbsolutePath)
      else exec(spark, a.sf, n, tr)
    }
    if (dump) {
      val sql = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      Files.write(new File(dir, "oracle_sql.json").toPath,
        Json(sql).getBytes(StandardCharsets.UTF_8))
    }
  }

  def record(out: Result, execs: Seq[Exec]): Unit =
    out.info("executions") = execs.map(e => Map("name" -> e.name,
      "secs" -> e.secs, "rows" -> e.rows, "hash" -> e.hash, "error" -> e.error))

  def run(a: Args, out: Result): Unit = {
    val ns = suite
    val tr = new Tracer
    val setups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to Session.SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val c = new Clock
      spark = setup(a, tr)
      setups += c.s
    }
    fill(spark, a, ns, dump = false, tr)
    out.recordSession(spark)
    val (cpu0, steal0) = (Jvm.cpuS(), Jvm.stealS())
    val (execs, secs, _) = window(spark, a.sf, ns, a.seed, a.seconds, tr, 0)
    out.info("window_cpu_s") = Jvm.cpuS() - cpu0
    out.info("window_steal_s") = Jvm.stealS() - steal0
    val heap = Jvm.heapLiveMb()
    spark.stop()
    record(out, execs)
    val ms = execs.map(_.secs * 1000)
    val (tp, tv) = Stats.tail(ms)
    out.metric("setup_s", Stats.median(setups.toSeq), "s")
    out.metric("throughput_per_s", execs.size / secs, "1/s")
    out.metric("latency_p50_ms", Stats.median(ms), "ms")
    out.metric("latency_tail_ms", tv, "ms")
    out.metric("heap_live_mb", heap, "MB")
    out.info("samples") = Map("setup" -> setups.toSeq, "latency_n" -> ms.size,
      "latency_tail_percentile" -> tp, "window_s" -> secs,
      "passes" -> execs.size / math.max(1, ns.size), "latency_kind" -> "query")
  }

  def traced(a: Args, out: Result, tr: Tracer): Unit = {
    val ns = suite
    // the first set-up in a fresh JVM: class loading, object
    // initialisation and code generation included
    val (spark, setupSpan) = tr.time(tr.root, "setup")(setup(a, tr))
    tr.time(tr.root, "fill")(fill(spark, a, ns, dump = true, tr))
    out.recordSession(spark)
    // untraced, traced (with a job listener) and untraced again, so a
    // steady drift of the host's speed cancels out of the overhead ratio
    val half = a.seconds / 2
    val (u1, _) = tr.time(tr.root, "window.untraced")(
      window(spark, a.sf, ns, a.seed, half / 2, tr, 0))
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    val gc0 = Jvm.gcMs()
    val (t, tspan) = tr.time(tr.root, "window.traced")(
      window(spark, a.sf, ns, a.seed, half, tr, u1._3))
    val gcMs = Jvm.gcMs() - gc0
    // let the listener bus drain before reading it
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(l)
    val (u2, _) = tr.time(tr.root, "window.untraced")(
      window(spark, a.sf, ns, a.seed, half / 2, tr, t._3))
    spark.stop()
    val u = u1._1 ++ u2._1
    record(out, u1._1 ++ t._1 ++ u2._1)
    val jobs = l.synchronized(l.jobs.toList)
    var planning = 0.0
    val fam = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    t._1.foreach { e =>
      val q = tr.add(tspan, s"batch.query", e.startMs, e.endMs,
        Map("query" -> e.name, "family" -> familyOf.getOrElse(e.name, "?")))
      jobs.filter(j => j.startMs >= e.startMs - 1 && j.startMs <= e.endMs + 1)
        .foreach(j => tr.add(q, "batch.job", j.startMs.toDouble,
          math.max(j.startMs, if (j.endMs < 0) j.startMs else j.endMs).toDouble,
          Map("job_id" -> j.id, "stages" -> j.stages)))
      planning += tr.selfMs(q)
      fam(familyOf.getOrElse(e.name, "other")) += e.secs
    }
    val m = scala.collection.mutable.Map[String, Double]()
    families.foreach { case (f, _) => m(s"batch.${f}_s") = fam(f) }
    m("batch.jobs") = jobs.size.toDouble
    m("batch.stages") = l.stages.toDouble
    m("batch.tasks") = l.tasks.toDouble
    m("batch.job_s") = jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1000.0).sum
    m("batch.planning_s") = planning / 1000.0
    m("batch.shuffle_write_bytes") = l.shuffleWriteBytes.toDouble
    m("batch.spill_bytes") = l.spillBytes.toDouble
    m("jvm.cold_setup_s") = tr.spans(setupSpan).durMs / 1000.0
    m("jvm.gc_ms") = gcMs.toDouble
    m("trace.overhead_ratio") =
      (t._1.map(_.secs).sum / t._1.size) / (u.map(_.secs).sum / u.size)
    out.layerMetrics ++= m
  }
}
