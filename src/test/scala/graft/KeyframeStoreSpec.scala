package graft

import java.nio.file.Files

import graft.operators.Multimodal
import graft.stores.StoreManifest
import org.apache.spark.sql.functions._

/** The keyframe library store (q192) beyond the driver hash gate:
  * replay-contract edges, the manifest family glue, and the
  * manifest-resolved streaming entry.
  */
class KeyframeStoreSpec extends SparkSpec {

  private def sweep(tbls: String*): Unit = tbls.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  private def clipsOf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(g => (g, Multimodal.y4mClipBytes(g))).toDF("doc_id", "clip")
  }

  /** The keyframe library of `clips` as the next `kf` version. */
  private def publish(mf: String, clips: org.apache.spark.sql.DataFrame) =
    StoreManifest.roll(spark, mf, "kf", Seq("frames"))((_, t) =>
      Multimodal.writeKeyframeStore(spark, clips, t("frames"), 4))

  /** An append-in-place installment into the live library. */
  private def refresh(mf: String, clips: org.apache.spark.sql.DataFrame,
      batchId: Long) =
    Multimodal.refreshKeyframeStore(spark, clips,
      StoreManifest.currentRequired(spark, mf, "kf")._2("frames"), batchId)

  test("replay contract: recorded id refused, non-monotone novel id throws") {
    sweep("kfs_frames")
    Multimodal.writeKeyframeStore(spark, clipsOf(1L to 10L),
      "kfs_frames", 4)
    assert(Multimodal.refreshKeyframeStore(spark, clipsOf(11L to 15L),
      "kfs_frames", 3L), "novel monotone id must fold")
    assert(!Multimodal.refreshKeyframeStore(spark, clipsOf(11L to 15L),
      "kfs_frames", 3L), "recorded id must be a refused no-op")
    val ex = intercept[IllegalArgumentException] {
      Multimodal.refreshKeyframeStore(spark, clipsOf(16L to 18L),
        "kfs_frames", 1L)
    }
    assert(ex.getMessage.contains("watermark"),
      "novel id below the watermark is a checkpoint reset — loud")
    // the refused replay did not double the library
    val perRef = Multimodal.readKeyframeStore(spark, "kfs_frames")
      .groupBy(col("doc_id"), col("scene")).count()
      .filter(col("count") > 1).count()
    assert(perRef === 0L, "no (ref, scene) row may be duplicated")
  }

  test("manifest family: publish, refresh through the manifest, streamed == direct") {
    sweep("kfmf", "kfmf_kf_v1_frames")
    publish("kfmf", clipsOf(1L to 20L))
    assert(refresh("kfmf", clipsOf(21L to 25L), 1L),
      "manifest-resolved refresh folds")

    // stream: a trim of ref 21 (folded via manifest — must be seen),
    // a trim of ref 4 (base build), and a genuinely novel clip (an
    // id outside every mod-240 twin class of the 25 refs)
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val feed = Seq(
      (9021L, Multimodal.y4mClipBytes(21L, trim = true)),
      (9004L, Multimodal.y4mClipBytes(4L, trim = true)),
      (9100L, Multimodal.y4mClipBytes(100L)))
    val src = MemoryStream[(Long, Array[Byte])]
    val outDir = Files.createTempDirectory("kfmf_out").toString
    val ckpt = Files.createTempDirectory("kfmf_ckpt").toString
    val q = graft.streaming.MediaIngest.startFromManifest(
      src.toDF().toDF("doc_id", "clip"), "kfmf", outDir, ckpt)
    src.addData(feed); q.processAllAvailable(); q.stop()

    val landed = graft.streaming.MediaIngest.readStats(spark, outDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(4))).toMap
    assert(landed === Map(9021L -> true, 9004L -> true, 9100L -> false),
      "containment must see both the base build and the manifest refresh")

    val direct = graft.streaming.MediaIngest.readStats(spark, outDir)
      .drop("batch_id")
    val want = Multimodal.scoreAgainstKeyframes(spark,
      feed.toDF("doc_id", "clip"),
      Multimodal.readKeyframeStore(spark, "kfmf_kf_v1_frames"))
    assert(direct.except(want).isEmpty && want.except(direct).isEmpty,
      "streamed landing must equal the direct store scoring")
  }

  test("compaction preserves the serving view and carries the replay watermark") {
    sweep("kfc", "kfc_kf_v1_frames", "kfc_kf_v2_frames")
    publish("kfc", clipsOf(1L to 10L))
    assert(refresh("kfc", clipsOf(11L to 14L), 1L))
    assert(refresh("kfc", clipsOf(15L to 18L), 2L))
    val before = Multimodal.readKeyframeStore(spark, "kfc_kf_v1_frames")

    StoreManifest.roll(spark, "kfc", "kf", Seq("frames"))((live, t) =>
      Multimodal.compactKeyframeStore(spark, live("frames"), t("frames")))
    val (_, cur) = StoreManifest
      .currentRequired(spark, "kfc", "kf")
    assert(cur("frames") === "kfc_kf_v2_frames", "compaction flips version")
    val after = Multimodal.readKeyframeStore(spark, cur("frames"))
    assert(after.except(before).isEmpty && before.except(after).isEmpty,
      "compaction must not change the serving view")
    assert(spark.table(cur("frames")).select(col("batch_id"))
      .distinct().collect().map(_.getLong(0)).toSeq === Seq(2L),
      "one installment left, carrying the max pre-compaction id")
    // a pre-compaction batch replayed after the cutover is still a
    // refused no-op (the carried watermark covers it)
    assert(!Multimodal.refreshKeyframeStore(spark, clipsOf(11L to 14L),
      cur("frames"), 2L))
    val ex = intercept[IllegalArgumentException] {
      Multimodal.refreshKeyframeStore(spark, clipsOf(19L to 20L),
        cur("frames"), 1L)
    }
    assert(ex.getMessage.contains("watermark"))
  }
}
