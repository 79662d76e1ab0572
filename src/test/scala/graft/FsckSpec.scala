package graft

import graft.operators.TextOps
import graft.stores.StoreManifest
import org.apache.spark.sql.functions._

/** [[StoreManifest.fsck]] beyond q184's corruption scenario: the
  * findings it must NOT emit (healthy stores, shared tables, in-flight
  * prepares), and the `df` family glue end-to-end.
  */
class FsckSpec extends SparkSpec {

  private def sweep(tbls: String*): Unit = tbls.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  test("a healthy lifecycle — live, retired, pending, vacuumed — audits clean") {
    sweep("fsckmf", "fsckmf_x_v1_t", "fsckmf_x_v2_t", "fsckmf_x_v3_t")
    StoreManifest.init(spark, "fsckmf")
    val p1 = StoreManifest.prepare(spark, "fsckmf", "x", Seq("t"))
    spark.range(1).write.format("parquet").saveAsTable(p1.tables("t"))
    StoreManifest.publish(spark, "fsckmf", "x", p1)
    val p2 = StoreManifest.prepare(spark, "fsckmf", "x", Seq("t"))
    spark.range(2).write.format("parquet").saveAsTable(p2.tables("t"))
    StoreManifest.publish(spark, "fsckmf", "x", p2)
    // v1 retired with its table still present: healthy (not yet vacuumed)
    // v3 pending with NO table yet: healthy (write in flight)
    StoreManifest.prepare(spark, "fsckmf", "x", Seq("t"))
    assert(StoreManifest.fsck(spark, "fsckmf").count() === 0,
      "no finding may fire on a healthy manifest")
    // a clean vacuum stays clean: v1's table dropped AND marked
    StoreManifest.vacuum(spark, "fsckmf", "x")
    assert(StoreManifest.fsck(spark, "fsckmf").count() === 0,
      "vacuumed-and-absent is the correct state, not a finding")
  }

  test("a vacuumed version's table shared with the live version is not stale") {
    sweep("fsckmf2", "fsckmf2_y_v1_band", "fsckmf2_y_v1_comp",
      "fsckmf2_y_v2_comp")
    StoreManifest.init(spark, "fsckmf2")
    val p1 = StoreManifest.prepare(spark, "fsckmf2", "y", Seq("band", "comp"))
    Seq("band", "comp").foreach(r => spark.range(1).write.format("parquet")
      .saveAsTable(p1.tables(r)))
    StoreManifest.publish(spark, "fsckmf2", "y", p1)
    // v2 reuses v1's band table (append-in-place) — the shared case
    val p2 = StoreManifest.prepare(spark, "fsckmf2", "y", Seq("band", "comp"),
      reuse = Map("band" -> p1.tables("band")))
    spark.range(2).write.format("parquet").saveAsTable(p2.tables("comp"))
    StoreManifest.publish(spark, "fsckmf2", "y", p2)
    StoreManifest.vacuum(spark, "fsckmf2", "y") // v1 vacuumed, band KEPT
    assert(spark.catalog.tableExists(p1.tables("band")),
      "vacuum must keep the shared band table")
    assert(StoreManifest.fsck(spark, "fsckmf2").count() === 0,
      "a vacuumed version's surviving SHARED table is not stale")
  }

  test("df family glue: publish, refresh, score, compact resolve through the manifest") {
    sweep("fsckmf3", "fsckmf3_df_v1_terms", "fsckmf3_df_v1_stats",
      "fsckmf3_df_v2_terms", "fsckmf3_df_v2_stats")
    val docs = Tables(spark, sf001, "documents")
    val roles = Seq("terms", "stats")
    StoreManifest.roll(spark, "fsckmf3", "df", roles)((_, t) =>
      TextOps.writeDfStoreOf(docs.filter(col("doc_id") % 3 =!= 1),
        t("terms"), 4, t("stats")))
    def live = StoreManifest.currentRequired(spark, "fsckmf3", "df")._2
    def refresh() = TextOps.refreshDfStore(spark,
      docs.filter(col("doc_id") % 3 === 1), live("terms"), 1L, live("stats"))
    def score() =
      TextOps.bm25AgainstStore(spark, docs, live("terms"), live("stats"))
    assert(refresh())
    assert(!refresh(), "replay refused via glue")
    // both physical tables are manifest roles — nothing is an orphan
    assert(StoreManifest.fsck(spark, "fsckmf3").count() === 0,
      "the stats table is a first-class role, not fsck debris")
    val direct = TextOps.bm25AgainstStore(spark, docs, "fsckmf3_df_v1_terms",
      "fsckmf3_df_v1_stats")
    val viaMf = score()
    assert(viaMf.except(direct).isEmpty && direct.except(viaMf).isEmpty,
      "manifest-resolved scoring equals direct store scoring")
    StoreManifest.roll(spark, "fsckmf3", "df", roles)((l, t) =>
      TextOps.compactDfStore(spark, l("terms"), t("terms"), l("stats"),
        t("stats")))
    val after = score()
    assert(after.except(direct).isEmpty && direct.except(after).isEmpty,
      "scores are unchanged across compaction")
    StoreManifest.vacuum(spark, "fsckmf3", "df")
    assert(!spark.catalog.tableExists("fsckmf3_df_v1_terms")
      && !spark.catalog.tableExists("fsckmf3_df_v1_stats"),
      "vacuum drops BOTH of the retired version's role tables")
    assert(StoreManifest.fsck(spark, "fsckmf3").count() === 0)
  }

  test("manifest retention: current unchanged, allocation stays monotone") {
    sweep("retmf", "retmfc", "retmf_x_v1_t", "retmf_x_v2_t")
    StoreManifest.init(spark, "retmf")
    def pub(): Unit = {
      val p = StoreManifest.prepare(spark, "retmf", "x", Seq("t"))
      spark.range(1).write.format("parquet").saveAsTable(p.tables("t"))
      StoreManifest.publish(spark, "retmf", "x", p)
    }
    pub(); pub()
    StoreManifest.vacuum(spark, "retmf", "x") // v1 closed
    // family y: every version vacuumed (an abandoned prepare)
    StoreManifest.prepare(spark, "retmf", "y", Seq("t"))
    StoreManifest.vacuum(spark, "retmf", "y")
    StoreManifest.compactManifest(spark, "retmf", "retmfc")
    assert(StoreManifest.current(spark, "retmfc", "x") ===
      StoreManifest.current(spark, "retmf", "x"),
      "retention must not move the live resolution")
    assert(StoreManifest.prepare(spark, "retmfc", "x", Seq("t")).version
      === 3L, "allocation continues past the dropped history")
    assert(StoreManifest.prepare(spark, "retmfc", "y", Seq("t")).version
      === 2L, "an all-vacuumed family must NOT restart at v1 — its max " +
        "version's events survive retention exactly for this")
  }
}
