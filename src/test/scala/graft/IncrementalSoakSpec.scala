package graft

import java.nio.file.Files

import graft.operators.{Dedup, Similarity}
import graft.stores.StoreManifest
import graft.streaming.{AnnIngest, AtomicLanding, CrawlIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FULL-LOOP incremental soak (the round-9 verdict's item 5): three
  * cycles of ingest → assign/score/land → refresh → compact → vacuum,
  * run across ALL FIVE store families through the manifest-managed
  * paths, with the closed-form invariant of each family re-verified
  * after every cycle (fp: store == crawl-corpus md5 set, once each;
  * wet: host admitted-counts == a sequential budget simulation, fp
  * role == crawled md5 set):
  *
  *  - dedup:  the component store's partition structure equals a
  *            from-scratch transitive closure over everything
  *            ingested so far (q152's claim, replayed per cycle and
  *            across a mid-loop compaction);
  *  - gram:   sum-on-read equals a one-shot recount of the whole
  *            corpus (q167's claim), with the replay guard refusing
  *            each batch's re-delivery;
  *  - ivf:    the folded cell store is bit-equal to assigning every
  *            vector under the fixed centroids (row-locality —
  *            q154/q155's claim), and the final warm-start retrain
  *            conserves every vector through the churn report.
  *
  * RefreshPropertySpec replays the dedup family alone; this is the
  * cross-family soak, and every store resolve goes through
  * StoreManifest.current — so it also exercises version flips,
  * shared-table reuse, and vacuum under continuous load.
  */
class IncrementalSoakSpec extends SparkSpec {

  private def partitions(labels: Iterable[(Long, Long)]): Set[Set[Long]] =
    labels.groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  test("3 cycles across dedup + gram + ivf + fp + wet + wetnear stores, invariants green each cycle") {
    val wh = Files.createTempDirectory("graft_wh_soak").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS soak LOCATION '$wh'")
    var mf = "soak.manifest"
    try {
      val docs0 = Tables(spark, sf001, "documents")
        .select(col("doc_id"), col("text"))
      val vecs0 = Tables(spark, sf001, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))

      // every store version below is one StoreManifest.roll:
      // prepare → the family's table writes → publish
      def roll(family: String, roles: Seq[String], carry: Set[String] = Set())(
          write: (=> Map[String, String], Map[String, String]) => Unit) =
        StoreManifest.roll(spark, mf, family, roles, carry)(write)
      def live(family: String) =
        StoreManifest.currentRequired(spark, mf, family)._2
      val wetRoles = Seq("fps", "hosts")
      roll("dedup", Seq("band", "comp")) { (_, t) =>
        Dedup.writeBandStore(spark, sf001, t("band"), buckets = 8)
        Dedup.writeComponentsStore(spark, sf001, t("comp"), buckets = 8)
      }
      roll("gram", Seq("grams"))((_, t) =>
        Dedup.writeGramStore(spark, sf001, t("grams"), buckets = 8))
      roll("ivf", AnnIngest.ivfRoles) { (_, t) =>
        Similarity.writeIvfStore(spark, sf001, t("centroids"), t("cells"))
        Similarity.writePqSidecar(spark, t("cells"), t("codebook"),
          t("codes"))
        AnnIngest.writeWm(spark, t("wm"), -1L)
      }
      // round-12: the fp family (crawl exact-dup store, the first
      // DeltaStore-native family) soaks alongside the original three
      import spark.implicits._
      def gzOf(df: DataFrame) = {
        val rows = df.select(col("doc_id"), col("text")).collect()
          .sortBy(_.getLong(0))
        Seq((0L, rows.flatMap(r => graft.operators.Multimodal.gzipBytes(
          r.getString(1).getBytes("UTF-8"))))).toDF("file_id", "payload")
      }
      roll("fp", Seq("fps"))((_, t) =>
        CrawlIngest.writeFpStore(spark, gzOf(docs0), t("fps"), buckets = 8))
      // round-12 second wave: the wet family (fp + host-budget roles,
      // one version) soaks as the 5th — bootstrap empty, budget 2
      roll("wet", wetRoles) { (_, t) =>
        CrawlIngest.writeFpStoreEmpty(spark, t("fps"), buckets = 8)
        CrawlIngest.writeHostStore(spark, t("hosts"), buckets = 8)
      }
      // round-13: the wetnear QUARTET (fp + hosts + LSH bands + comps)
      // soaks as the 6th family — near-dup assignment at the seam
      // under continuous version flips
      roll("wetnear", CrawlIngest.nearRoles) { (_, t) =>
        CrawlIngest.writeFpStoreEmpty(spark, t("fps"), buckets = 8)
        CrawlIngest.writeHostStore(spark, t("hosts"), buckets = 8)
        CrawlIngest.writeNearStoresEmpty(spark, t("bands"), t("comps"),
          buckets = 8)
      }
      var nearRecords = 0L
      val wetBudget = 2
      def gzWet(df: DataFrame, fileId: Long) = {
        val rows = df.select(col("doc_id"), col("text")).collect()
          .sortBy(_.getLong(0))
        Seq((fileId, rows.flatMap(r =>
          graft.operators.Multimodal.gzipBytes(
            (s"https://s${r.getLong(0) % 5}.example.org/p${r.getLong(0)}" +
              "\r\n\r\n" + r.getString(1)).getBytes("UTF-8")))))
          .toDF("file_id", "payload")
      }
      val hostSim = scala.collection.mutable.Map[String, Long]()
      var wetMd5s = Set.empty[String]

      var corpus: DataFrame = docs0.localCheckpoint(true)
      var allVecs: DataFrame = vecs0.localCheckpoint(true)
      var fpCorpus: DataFrame = docs0.localCheckpoint(true)

      for (c <- 1 to 3) {
        val batch = docs0.filter(col("doc_id") % 7 === (c % 7).toLong)
          .select((col("doc_id") + c * 1000000L).as("doc_id"), col("text"))
          .localCheckpoint(true)
        val vbatch = vecs0.filter(col("vec_id") % 5 === 2)
          .select((col("vec_id") + c * 1000000L).as("vec_id"), col("v"))
          .localCheckpoint(true)

        // ---- ingest + refresh, all through the manifest ----
        roll("dedup", Seq("band", "comp"), carry = Set("band")) { (l, t) =>
          Dedup.refreshStores(spark, batch, l("band"), l("comp"), t("comp"))
        }
        assert(Dedup.refreshGramStore(spark, batch, live("gram")("grams"),
          c.toLong), s"cycle $c gram installment must fold")
        assert(!Dedup.refreshGramStore(spark, batch, live("gram")("grams"),
          c.toLong), s"cycle $c replay must be refused")
        // fp family: the crawl batch carries a cycle-salted text so
        // each cycle contributes NOVEL fingerprints (unsalted, every
        // batch doc is a text-identical re-crawl of a base doc and
        // the novel-only fold would append nothing)
        val fpBatch = batch.select(col("doc_id"),
          concat(lit(s"cyc$c "), col("text")).as("text"))
        assert(CrawlIngest.refreshFpStore(spark, gzOf(fpBatch),
          live("fp")("fps"), c.toLong), s"cycle $c fp installment must fold")
        assert(!CrawlIngest.refreshFpStore(spark, gzOf(fpBatch),
          live("fp")("fps"), c.toLong), s"cycle $c fp replay must be refused")
        fpCorpus = fpCorpus.unionByName(fpBatch).localCheckpoint(true)
        // wet family: same cycle-salted batch through the double fold;
        // sequential budget simulation tracks expected admissions
        // (records per host in doc order, admit while count < budget)
        def wet() = {
          val w = live("wet")
          CrawlIngest.wetBatch(spark, gzWet(fpBatch, c.toLong), w("fps"),
            w("hosts"), wetBudget, c.toLong)
        }
        def wetNear() = {
          val w = live("wetnear")
          CrawlIngest.wetBatch(spark, gzWet(fpBatch, c.toLong), w("fps"),
            w("hosts"), wetBudget, c.toLong,
            near = Some((w("bands"), w("comps"))))
        }
        assert(wet(), s"cycle $c wet installment must fold")
        assert(!wet(), s"cycle $c wet replay must be refused")
        assert(wetNear(), s"cycle $c wetnear installment must fold")
        assert(!wetNear(),
          s"cycle $c wetnear replay must be refused across all four stores")
        nearRecords += fpBatch.count()
        fpBatch.select(col("doc_id"), md5(col("text")).as("m")).collect()
          .sortBy(_.getLong(0)).foreach { r =>
            val h = s"s${r.getLong(0) % 5}.example.org"
            if (hostSim.getOrElse(h, 0L) < wetBudget)
              hostSim(h) = hostSim.getOrElse(h, 0L) + 1L
            wetMd5s += r.getString(1)
          }
        val cellDir = Files.createTempDirectory(s"soak_cells_$c").toString
        val cents = spark.table(
          StoreManifest.currentRequired(spark, mf, "ivf")._2("centroids"))
        AtomicLanding.publish(
          Similarity.assignCells(vbatch, cents).join(vbatch, "vec_id")
            .select(col("vec_id"), col("cell"), col("v")),
          cellDir, c.toLong, Seq("cell"))
        AnnIngest.foldIvfCells(spark, mf, cellDir)

        corpus = corpus.unionByName(batch).localCheckpoint(true)
        allVecs = allVecs.unionByName(vbatch).localCheckpoint(true)

        // ---- mid-loop maintenance ----
        if (c == 2) {
          roll("dedup", Seq("band", "comp")) { (l, t) =>
            Dedup.compactStore(spark, l("band"), t("band"))
            Dedup.compactStore(spark, l("comp"), t("comp"))
          }
          roll("gram", Seq("grams"))((l, t) =>
            Dedup.compactGramStore(spark, l("grams"), t("grams")))
          roll("fp", Seq("fps"))((l, t) =>
            CrawlIngest.compactFpStore(spark, l("fps"), t("fps")))
          roll("wet", wetRoles) { (l, t) =>
            CrawlIngest.compactFpStore(spark, l("fps"), t("fps"))
            CrawlIngest.compactHostStore(spark, l("hosts"), t("hosts"))
          }
          roll("wetnear", CrawlIngest.nearRoles) { (l, t) =>
            CrawlIngest.compactFpStore(spark, l("fps"), t("fps"))
            CrawlIngest.compactHostStore(spark, l("hosts"), t("hosts"))
            CrawlIngest.compactNearStores(spark, l("bands"), t("bands"),
              l("comps"), t("comps"))
          }
          // round-12 verdict item: manifest maintenance IN the loop —
          // roll the event log forward and fsck it mid-soak, so the
          // bounded-log claim holds in the deployed shape (cycle 3
          // continues on the compacted manifest: versioning resumes
          // past the kept max, the families' live tables resolve)
          val mf2 = "soak.manifest_c"
          StoreManifest.compactManifest(spark, mf, mf2)
          val findings = StoreManifest.fsck(spark, mf2)
          assert(findings.count() === 0,
            s"mid-soak fsck must be clean: ${findings.collect().mkString}")
          assert(spark.table(mf2).count() < spark.table(mf).count(),
            "compaction must actually shrink the event log")
          mf = mf2
        }
        Seq("dedup", "gram", "ivf", "fp", "wet", "wetnear")
          .foreach(f => StoreManifest.vacuum(spark, mf, f))

        // ---- invariant 1: dedup closure equality ----
        val cur = StoreManifest.currentRequired(spark, mf, "dedup")._2
        val stored = spark.table(cur("comp")).collect()
          .map(r => r.getLong(0) -> r.getLong(1))
        val control = Dedup.propagate(
          Dedup.pairsFromBands(Dedup.bandSignatures(corpus)))._1
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        assert(partitions(stored) === partitions(control),
          s"cycle $c: store partitions must equal the from-scratch closure")

        // ---- invariant 2: gram sum-on-read == one-shot recount ----
        val gcur = StoreManifest.currentRequired(spark, mf, "gram")._2
        val summed = Dedup.readGramStore(spark, gcur("grams")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val recount = Dedup.gramFrequencies(corpus).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(summed === recount,
          s"cycle $c: gram store must equal the one-shot recount")

        // ---- invariant 3: ivf cells bit-equal to full reassign ----
        val icur = StoreManifest.currentRequired(spark, mf, "ivf")._2
        val storedCells = spark.table(icur("cells"))
          .select(col("vec_id"), col("cell")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val reassign = Similarity.assignCells(allVecs,
          spark.table(icur("centroids"))).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(storedCells === reassign,
          s"cycle $c: folded cells must be bit-equal to a full reassign")

        // ---- invariant 4: fp store == md5 set of everything crawled ----
        val fcur = StoreManifest.currentRequired(spark, mf, "fp")._2
        val fps = spark.table(fcur("fps")).select(col("fp")).collect()
          .map(_.getString(0))
        assert(fps.length === fps.distinct.length,
          s"cycle $c: the novel-only fold must keep the store a SET")
        val wantFps = fpCorpus.select(md5(col("text"))).distinct()
          .collect().map(_.getString(0)).toSet
        assert(fps.toSet === wantFps,
          s"cycle $c: fp store must equal the crawl corpus' md5 set")

        // ---- invariant 5: wet host counts == sequential budget sim ----
        val wcur = StoreManifest.currentRequired(spark, mf, "wet")._2
        val counts = graft.stores.DeltaStore
          .readSum(spark, wcur("hosts"), Seq("host"), Seq("n_admitted"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
          .filter(_._1.nonEmpty).filter(_._2 > 0L).toMap
        assert(counts === hostSim.toMap.filter(_._2 > 0L),
          s"cycle $c: admitted counts must match the sequential budget")
        val wfps = spark.table(wcur("fps")).select(col("fp")).collect()
          .map(_.getString(0))
        assert(wfps.length === wfps.distinct.length &&
          wfps.toSet === wetMd5s,
          s"cycle $c: wet fp role must equal the crawled md5 set, once each")

        // ---- invariant 6: near component store sanity ----
        // exactly ONE label per record ever crawled through the seam,
        // and every label is min-convention (≤ its own key, pointing
        // at a real record) — the exact sequential semantics is
        // oracle-pinned by q206; the soak pins the store's set-ness
        // and label well-formedness under version flips
        val ncur = StoreManifest.currentRequired(spark, mf, "wetnear")._2
        val labels = spark.table(ncur("comps"))
          .select(col("doc_id"), col("comp")).collect()
          .map(r => r.getLong(0) -> r.getLong(1))
        assert(labels.length === nearRecords.toInt,
          s"cycle $c: one near label per crawled record " +
            s"(${labels.length} vs $nearRecords)")
        assert(labels.map(_._1).distinct.length === labels.length,
          s"cycle $c: the comp store must stay a set")
        val keys = labels.map(_._1).toSet
        assert(labels.forall { case (k, v) => v <= k && keys.contains(v) },
          s"cycle $c: labels must be min-convention over real records")
      }

      // ---- final: warm-start retrain conserves every vector ----
      val empty = spark.emptyDataFrame
        .sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          spark.table(StoreManifest.currentRequired(spark, mf, "ivf")
            ._2("cells")).select(col("vec_id"), col("cell"), col("v")).schema)
      val (_, churn) = AnnIngest.retrainIvf(spark, mf, empty)
      val moved = churn.agg(sum(col("n_vecs"))).head().getLong(0)
      val total = allVecs.count()
      assert(moved === total,
        s"retrain churn must conserve all $total vectors, saw $moved")
      val icur = StoreManifest.currentRequired(spark, mf, "ivf")._2
      assert(spark.table(icur("cells")).count() === total)

      // the manifest reflects three refresh versions + maintenance
      val versions = StoreManifest.statusReport(spark, mf)
        .filter(col("status") === "live")
        .select(col("family"), col("version")).distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(versions("dedup") === 5L, s"dedup: v1 +3 refresh +compact: $versions")
      assert(versions("gram") === 2L, s"gram: v1 +compact: $versions")
      assert(versions("ivf") === 5L, s"ivf: v1 +3 folds +retrain: $versions")
      assert(versions("fp") === 2L, s"fp: v1 +compact: $versions")
      assert(versions("wet") === 2L, s"wet: v1 +compact: $versions")
      assert(versions("wetnear") === 2L, s"wetnear: v1 +compact: $versions")
    } finally spark.sql("DROP DATABASE IF EXISTS soak CASCADE")
  }
}
