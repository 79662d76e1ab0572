package graft

import graft.operators.AlertOps
import graft.sources.JsonIngest
import graft.streaming.AlertPipeline
import org.apache.spark.sql.DataFrame

/** Batch-mode tests of the shared operators: same logical construction
  * as the streaming pipeline (SURVEY.md §7.1), plus the reference's
  * edge-case fixtures (FIXTURES.md §A.5).
  */
class AlertBatchSpec extends SparkSpec {

  private val T0 = 1700000000000L

  private def df(rows: String*): DataFrame = {
    import spark.implicits._
    rows.toDF("value")
  }

  private val batchCfg = AlertPipeline.Config()

  private def hrJson(user: Int, hr: Int, ts: Long) =
    s"""{"user_id":$user,"heart_rate":$hr,"timestamp":$ts}"""
  private def bpJson(user: Int, sys: Int, ts: Long) =
    s"""{"user_id":$user,"systolic":$sys,"diastolic":80,"timestamp":$ts}"""

  test("threshold boundaries are strict: hr=100 / systolic=100 never alert") {
    val events = AlertPipeline.ingest(
      df(hrJson(1, 100, T0 + 1000), hrJson(2, 101, T0 + 1000)),
      df(bpJson(1, 99, T0), bpJson(2, 100, T0)))
    val alerts = AlertPipeline.rawAlerts(events, batchCfg)
    // user 1: hr=100 (not >100); user 2: sys=100 (not <100)
    assert(alerts.count() === 0)
  }

  test("qualifying pair alerts; one-sided users do not") {
    val events = AlertPipeline.ingest(
      df(hrJson(1, 101, T0 + 1000), hrJson(3, 200, T0)),
      df(bpJson(1, 99, T0), bpJson(4, 80, T0)))
    val alerts = AlertPipeline.rawAlerts(events, batchCfg)
    assert(alerts.select("user_id").distinct().collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("malformed JSON and unknown fields are tolerated (P1)") {
    val events = AlertPipeline.ingest(
      df("""not json at all""",
        """{"user_id":7,"heart_rate":150,"timestamp":1700000001000,"extra_field":"ignored"}"""),
      df("""{"systolic":80}""")) // missing user_id -> dropped
    val parsed = events.collect()
    assert(parsed.length === 1)
    assert(parsed.head.getAs[Int]("user_id") === 7)
  }

  test("golden scenario 3 (Kafka fixture): band join + cooldown emits once") {
    val hr = JsonIngest.heartRate(
      df(hrJson(12345, 200, T0 + 1000), hrJson(12345, 200, T0 + 3000)))
    val bp = JsonIngest.bloodPressure(df(bpJson(12345, 92, T0)))
    val raw = AlertOps.bandJoinAlerts(hr, bp, "15 seconds")
    assert(raw.count() === 2) // two qualifying pairs pre-dedup
    val deduped = AlertPipeline.dedupe(raw, batchCfg.copy(cooldownMs = 15000L))
    val rows = deduped.collect()
    assert(rows.length === 1 && rows.head.user_id === 12345)
  }

  test("batch dedupe = greedy leading debounce per user") {
    import spark.implicits._
    val raw = Seq(
      (1, "User 1 has a problem", new java.sql.Timestamp(T0)),
      (1, "User 1 has a problem", new java.sql.Timestamp(T0 + 4000)),
      (1, "User 1 has a problem", new java.sql.Timestamp(T0 + 5000)),
      (2, "User 2 has a problem", new java.sql.Timestamp(T0 + 1000))
    ).toDF("user_id", "message", "ts")
    val out = AlertPipeline.dedupe(raw, batchCfg.copy(cooldownMs = 5000L))
      .collect().sortBy(a => (a.user_id, a.ts.getTime))
    assert(out.map(a => (a.user_id, a.ts.getTime)).toSeq ===
      Seq((1, T0), (1, T0 + 5000), (2, T0 + 1000)))
  }

  test("full pipeline on batch input with the default Config (golden scenario 1)") {
    val alerts = AlertPipeline(
      df(hrJson(12345, 200, T0 + 2000), hrJson(12345, 200, T0 + 2000),
        hrJson(12346, 101, T0 + 2000)),
      df(bpJson(12345, 120, T0), bpJson(12346, 80, T0))).collect()
    // three panes hold both events (ends T0+3s..T0+5s); the 5 s
    // cooldown keeps the earliest
    assert(alerts.map(a => (a.user_id, a.ts.getTime)).toSeq ===
      Seq((12346, T0 + 2999)))
  }
}
