package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line for the driver.
  * Queries run in sorted name order after an untimed warmup (JVM/
  * codegen/parquet-footer costs land in the warmup, not in query 1).
  */
object Bench {

  /** Prune-proof bench action (round-10 finding): `count()` lets the
    * optimizer DELETE a query's final enrichment join — a LEFT JOIN
    * whose right side is a per-key aggregate is provably
    * cardinality-preserving, and with no columns demanded the whole
    * joined subtree vanishes. q164's 17.5M-row marking chain
    * benchmarked as a bare parquet scan count (0.3 s) that way, and
    * every left-join-then-project query shape shares the hole. Hashing
    * EVERY output column before counting forces the complete plan
    * while adding one codegen'd xxhash64 per row — the timings are
    * the query, not the optimizer's opinion of what a count needs.
    * (The aggregate is bit_xor of the hashes — count(h) would fold
    * back to count(1) for a non-nullable hash and re-open the hole;
    * xor neither overflows nor prunes.)
    */
  def force(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, xxhash64}
    import org.apache.spark.sql.functions.bit_xor
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), bit_xor(col("h")))
      .head().getLong(0)
  }

  /** (load1, load5, load15, uptime_sec) from /proc — recorded INTO the
    * artifact because this VM shares a host: the same HEAD has
    * measured 69.3 s idle vs 86.0 s at load ~2.4 (round 8), so a
    * cross-round comparison without the load context is up to ~20%
    * noise. Protocol: treat any artifact whose START load1 exceeds ~3
    * OR start load5 exceeds ~2.5 as non-comparable; re-run idle.
    * (Start, not end: the bench's own 32-core burst inflates the end
    * snapshot. Load5 matters: a run at load1 1.1 / load5 3.4 measured
    * ~30% slower across the board than the same HEAD idle —
    * tools/compare_bench.py applies both thresholds.)
    * (-1 values = /proc unavailable.)
    */
  def hostLoad(): (Double, Double, Double, Long) = try {
    val l = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")
    val u = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/uptime"))).trim.split("\\s+")
    (l(0).toDouble, l(1).toDouble, l(2).toDouble, u(0).toDouble.toLong)
  } catch { case _: Throwable => (-1.0, -1.0, -1.0, -1L) }

  /** The load fields appended to a bench JSON line (leading comma). */
  def loadJson(start: (Double, Double, Double, Long)): String = {
    val end = hostLoad()
    s""","loadavg_start":[${start._1},${start._2},${start._3}]""" +
      s""","loadavg_end":[${end._1},${end._2},${end._3}]""" +
      s""","uptime_sec":${end._4}"""
  }

  /** Pinned constant-work calibration probes (round-14 verdict item
    * 2): run before AND after every capture and recorded in the
    * artifact, so cross-round deltas normalize against the measured
    * host instead of a class-pattern essay. Two probes because the
    * r14 ambient drift split by CLASS — compute-bound queries
    * inflated ~1.25× while driver/scheduling-latency-bound lifecycle
    * queries inflated ~1.50× — and one number cannot normalize both:
    *
    *  - `cpu`: 2²⁸ codegen'd hash rows over 64 FIXED partitions
    *    (independent of the cpus env — the work is pinned; wall time
    *    tracks effective core availability on the shared host).
    *    Median of 3.
    *  - `sched`: 20 minimal two-stage jobs; wall time tracks per-job
    *    scheduling latency, the lifecycle class' sensitivity. One
    *    pass — it is already a 20-sample aggregate.
    *
    * Sized to about a second each on 4 cores: the 2³²-row, 100-job
    * probes of the 32-core host took 26–30 s and 7–13 s there, before
    * and after every run. Values are comparable only between captures
    * taken with the same sizes.
    *
    * Comparing rounds: divide a query's time by the SAME round's
    * probe for its class (cpu for data-path queries, sched for
    * store-lifecycle ones) before calling a move a regression.
    */
  def calibrate(spark: SparkSession): (Double, Double) = {
    val cpuTimes = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 1L << 28, 1, 64)
        .selectExpr("xxhash64(xxhash64(xxhash64(id))) AS h")
        .selectExpr("bit_xor(h)").head()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val t0 = System.nanoTime()
    (1 to 20).foreach(_ => spark.range(64).count())
    val sched = (System.nanoTime() - t0) / 1e9
    (cpuTimes(1), sched)
  }

  /** The calibration fields appended to a bench JSON line. */
  def calibJson(before: (Double, Double), after: (Double, Double)): String =
    f""","calib":{"cpu_sec_before":${before._1}%.3f""" +
      f""","sched_sec_before":${before._2}%.3f""" +
      f""","cpu_sec_after":${after._1}%.3f""" +
      f""","sched_sec_after":${after._2}%.3f}"""

  def main(args: Array[String]): Unit = {
    val loadAtStart = hostLoad()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    // Warmup: spin executors + codegen + parquet footers, and JIT the
    // hot code families once (md5/shingle pipeline, window agg, cosine
    // folds) — single-shot timings otherwise charge C2 compilation to
    // whichever query runs a path first.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("q1_agg", "q20_sliding_alert", "q35_ngram_jaccard", "q40_knn_brute")
      .foreach(n => SparkEntry.queries.get(n).foreach { f =>
        try force(f(spark, sfDir)) catch { case _: Throwable => () }
      })
    val calibBefore = calibrate(spark)

    // Optional comma-separated subset for local iteration, e.g.
    // SPARK_GRAFT_BENCH_ONLY=q35_ngram_jaccard,q36_minhash_lsh
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    // Repeat each query N times and keep the fastest. Default 3:
    // single-shot timings of a 60+-query suite swing ±20-30% run to
    // run (JIT/GC/writeback state when a query's turn arrives), and
    // spikes hit 1-2 random queries per pass — min-of-3 keeps the
    // suite total stable across runs.
    val repeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT").map(_.toInt).getOrElse(3)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap(q => Seq.fill(repeat)(q))
    val raw = selected.map { case (name, fn) =>
      spark.catalog.clearCache()
      // Drain the ContextCleaner BEFORE timing: the previous query's
      // shuffle/broadcast garbage otherwise gets collected mid-query,
      // and blocking cleanup contends with the scheduler (measured
      // 10-50x inflation on the query following a large shuffle).
      // Two gc passes + a longer settle: cleanup is asynchronous, and
      // one pass + 300ms left enough backlog to inflate the tail of
      // the suite once the input-split repartitions added shuffles.
      System.gc()
      Thread.sleep(300)
      System.gc()
      Thread.sleep(500)
      val t0 = System.nanoTime()
      // A throwing query must NOT read as a (fast) success: track the
      // failure and keep its timing out of min-of-N, so a regression
      // that breaks a query surfaces as an "errors" entry instead of
      // a suite speedup.
      val ok = try { force(fn(spark, sfDir)); true } catch {
        case t: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${t.getClass.getName}: ${t.getMessage}")
          false
      }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    if (repeat > 1) raw.foreach { case (n, t, ok) =>
      println(s"RUN $n $t${if (ok) "" else " FAILED"}") }
    val byName = raw.groupBy(_._1).toSeq.sortBy(_._1)
    val errors = byName.collect { case (n, rs) if !rs.exists(_._3) => n }
    // A query that fails SOME repeats but succeeds others would
    // otherwise report only the min of its good runs — an intermittent
    // regression (flaky OOM, races) invisible to machine readers.
    // Surface those separately so downstream tooling can tell a clean
    // min-of-N from a partial failure.
    val flaky = byName.collect {
      case (n, rs) if rs.exists(_._3) && rs.exists(!_._3) => n
    }
    val results = byName
      .flatMap { case (n, rs) =>
        val okTimes = rs.collect { case (_, t, true) => t }
        if (okTimes.isEmpty) None else Some(n -> okTimes.min)
      }
    val calibAfter = calibrate(spark)
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flk = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    def jsonLine(fmt: Double => String, key: String => String): String = {
      val qs = results.map { case (k, v) => "\"" + key(k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"flaky":$flk,"sf":"$sfDir"${calibJson(calibBefore, calibAfter)}${loadJson(loadAtStart)}}"""
    }
    val json = jsonLine(_.toString, identity)
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    // The driver parses only the LAST 2000 chars of the run's output,
    // and a line cut mid-way there does not parse. The old replica — a
    // 3-decimal map keyed by the qNN prefix — fit at 75 queries but
    // outgrew the window at 212 (~3 KB, front-cut, unparseable). The
    // LAST thing emitted is therefore a paired-array
    // encoding of the FULL query map that stays ≲1.7 KB at 212
    // queries: "qid" carries each query's numeric id (169 for
    // q169_...; full names live in BENCH_OUT.json) and "qcs" the
    // matching min-of-N time in integer CENTISECONDS, same order.
    // Lossless to 10 ms — decode as queries[s"q${qid(i)}"] =
    // qcs(i)/100.0 (tools/compare_bench.py does). Printed after
    // spark.stop() so no shutdown WARNs land behind it, on stdout
    // (flushed first so the streams can't interleave mid-line) and
    // stderr (unprefixed by sbt). If any query name doesn't parse as
    // qNN, or centiseconds somehow overflow the window, degrade to
    // deciseconds rather than emit an unparseable line.
    val ids = results.map { case (n, _) =>
      scala.util.Try(n.takeWhile(_ != '_').drop(1).toInt).toOption
    }
    // duplicate numeric ids would silently collide in the decoded
    // map (two queries sharing a qNN prefix) — that's a naming bug,
    // but the tail must not paper over it: degrade to the full-name
    // line, which may overflow the window but never mis-keys
    val idsUnique = ids.flatten.distinct.length == ids.flatten.length
    val compact = if (ids.forall(_.isDefined) && idsUnique) {
      def arrays(scale: Int): String = {
        val sorted = ids.flatten.zip(results.map(_._2)).sortBy(_._1)
        val qid = sorted.map(_._1).mkString("[", ",", "]")
        val qv = sorted.map(t => math.round(t._2 * scale))
          .mkString("[", ",", "]")
        s""""qid":$qid,"q${if (scale == 100) "cs" else "ds"}":$qv"""
      }
      def line(scale: Int, errJson: String, flkJson: String): String = {
        val c = calibJson(calibBefore, calibAfter)
        f"""{"metric":"total","value":$total%.2f,"unit":"sec","nq":${results.size},""" +
          s"""${arrays(scale)},"errors":$errJson,"flaky":$flkJson,"sf":"$sfDir"$c${loadJson(loadAtStart)}}"""
      }
      // degradation ladder (advice r16: the deciseconds fallback had
      // no guard of its own — a bad run's long errors/flaky arrays
      // could overflow the window at EVERY precision): centiseconds →
      // deciseconds → deciseconds with errors/flaky as COUNTS (the
      // names are in BENCH_OUT.json; the tail only needs to show
      // something went wrong). The last rung is the smallest line
      // that still carries the full query map.
      val rungs = Iterator(
        line(100, errs, flk),
        line(10, errs, flk),
        line(10, s"${errors.size}", s"${flaky.size}"))
      rungs.find(_.length <= 1850).getOrElse(
        line(10, s"${errors.size}", s"${flaky.size}"))
    } else jsonLine(v => f"$v%.2f",
      if (idsUnique) _.takeWhile(_ != '_') else identity)
    println(compact)
    System.out.flush()
    System.err.println(compact)
    System.err.flush()
  }
}
