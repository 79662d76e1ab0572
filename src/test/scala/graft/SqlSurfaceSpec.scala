package graft

/** The engine's surface through plain SQL: registered views over the
  * driver tables plus the custom functions — a user can drive
  * everything with `spark.sql(...)` and never touch the DataFrame API.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("tables register as views and SQL joins/aggregates run") {
    Tables.registerAll(spark, sf001)
    val rows = spark.sql(
      """SELECT n.n_name, count(*) AS n_cust
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n_cust DESC, n.n_name LIMIT 3""".stripMargin)
      .collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("custom functions resolve in SQL") {
    Tables.registerAll(spark, sf001)
    graft.functions.MinHashSignature.register(spark)
    val self = spark.sql(
      """SELECT cosine_sim(v, v) AS s FROM
        |  (SELECT transform(embedding, x -> cast(x as double)) AS v
        |   FROM embeddings LIMIT 5)""".stripMargin).collect()
    assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
    val sig = spark.sql(
      """SELECT doc_id, minhash_sig(hash_id) AS sig FROM
        |  (SELECT doc_id,
        |     cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint) AS hash_id
        |   FROM documents)
        |GROUP BY doc_id LIMIT 3""".stripMargin).collect()
    assert(sig.forall(_.getSeq[Long](1).length ===
      graft.functions.MinHashSignature.K))
  }

  test("extension functions resolve on a fresh session with no register call") {
    // a new session has a clean function registry, so no other suite's
    // register call can mask a missing extension
    val fresh = SparkSpec.session.newSession()
    val md5 = fresh.sql("SELECT md5long('a'), " +
      "cast(conv(substr(md5('a'), 1, 15), 16, 10) as bigint)").head()
    assert(md5.getLong(0) === md5.getLong(1))
    assert(fresh.sql("SELECT cosine_sim(array(1D, 0D), array(1D, 0D))")
      .head().getDouble(0) === 1.0)
  }

  test("events view keeps the µs-exact timestamp semantics") {
    Tables.registerAll(spark, sf001)
    val r = spark.sql(
      "SELECT count(*) FROM events WHERE ts >= timestamp'2024-01-01'").collect()
    assert(r.head.getLong(0) > 0)
  }
}
