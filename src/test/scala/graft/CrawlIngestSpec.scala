package graft

import java.nio.file.Files

import graft.operators.Multimodal
import graft.streaming.CrawlIngest
import org.apache.spark.sql.functions._

/** The streaming crawl front door (q195/q196 → CrawlIngest): framing
  * at ingest, quality + fingerprint per recovered record, exact-dup
  * flags against a maintained fp store (the first family built
  * directly on DeltaStore). Pins:
  *
  *  1. framing exactness through the stream: every member of every
  *     fed file lands, at its exact (file_id, rec_idx), with the
  *     plaintext facts of the original docs;
  *  2. dup semantics across batches: a record re-crawled in a LATER
  *     batch is flagged dup_of_store by the earlier batch's fold; a
  *     record duplicated WITHIN a batch is flagged dup_in_batch on
  *     the non-canonical copy only; novel records carry neither flag
  *     (score-before-fold: a batch never matches its own fold);
  *  3. the store fold is replay-guarded (the DeltaStore contract).
  */
class CrawlIngestSpec extends SparkSpec {

  private def doc(i: Long): String =
    (0 until 30).map(w => s"w${(i * 31 + w * 7) % 1000} t$w").mkString(" ")

  private def pack(docs: Seq[String]): Array[Byte] =
    docs.toArray.flatMap(d =>
      Multimodal.gzipBytes(d.getBytes("UTF-8")))

  test("framing, cross-batch dup flags, and the replay guard through the stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def sweep(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    sweep("ci_fps")
    // base store: docs 1..5 crawled before the stream starts
    CrawlIngest.writeFpStore(spark,
      Seq((0L, pack((1L to 5L).map(doc)))).toDF("file_id", "payload"),
      "ci_fps", 4)

    val src = MemoryStream[(Long, Array[Byte])]
    val outDir = Files.createTempDirectory("ci_out").toString
    val ckpt = Files.createTempDirectory("ci_ckpt").toString
    val q = CrawlIngest.startWithFold(
      src.toDF().toDF("file_id", "payload"), "ci_fps", outDir, ckpt)
    try {
      // batch 1: file 10 = re-crawl of doc 2 (in base store), novel
      // doc 100, and doc 101 twice (within-batch dup)
      src.addData(Seq(
        (10L, pack(Seq(doc(2), doc(100), doc(101), doc(101))))))
      q.processAllAvailable()
      // batch 2: file 11 re-crawls doc 100 — batch 1's FOLD must flag
      // it — plus novel doc 102
      src.addData(Seq((11L, pack(Seq(doc(100), doc(102))))))
      q.processAllAvailable()
    } finally q.stop()

    val landed = CrawlIngest.readStats(spark, outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(3), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(landed.size === 6, s"every member lands exactly once: $landed")

    // 1. framing exactness: fingerprints match the plaintext
    def fpOf(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(doc(i).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(landed((10L, 0L))._1 === fpOf(2))
    assert(landed((11L, 1L))._1 === fpOf(102))

    // 2. dup semantics
    assert(landed((10L, 0L))._2, "re-crawl of a base-store doc flagged")
    assert(!landed((10L, 1L))._2 && !landed((10L, 1L))._3,
      "novel record carries neither flag (no self-match on own fold)")
    assert(!landed((10L, 2L))._3 && landed((10L, 3L))._3,
      "within-batch dup: only the non-canonical copy flagged")
    assert(landed((11L, 0L))._2,
      "a later batch's re-crawl is caught by the earlier batch's fold")
    assert(!landed((11L, 1L))._2)

    // 3. the fold is replay-guarded: installment 1 replays as a no-op
    assert(!graft.stores.DeltaStore.refresh(spark,
      Seq("zz").toDF("fp"), "ci_fps", Seq("fp"), 1L))
    // and the store equals base ∪ batch fingerprints, once each
    val stored = spark.table("ci_fps").select(col("fp")).collect()
      .map(_.getString(0))
    assert(stored.length === stored.distinct.length,
      "set store: a re-crawled fingerprint must NOT land twice " +
        "(the novel-only anti-join at fold time)")
    assert(stored.toSet ===
      ((1L to 5L) ++ Seq(100L, 101L, 102L)).map(fpOf).toSet,
      "store covers base + both batches' novel fingerprints, once each")
  }

  test("WET ingest: host budget enforced across batches; saturated batch still watermarks") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def wet(url: String, body: String): String = url + "\r\n\r\n" + body
    def packWet(members: Seq[String]): Array[Byte] =
      members.toArray.flatMap(m =>
        Multimodal.gzipBytes(m.getBytes("UTF-8")))
    Seq("ciw_fps", "ciw_hosts").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    CrawlIngest.writeFpStoreEmpty(spark, "ciw_fps", 4)
    CrawlIngest.writeHostStore(spark, "ciw_hosts", 4)

    val src = MemoryStream[(Long, Array[Byte])]
    val outDir = Files.createTempDirectory("ciw_out").toString
    val q = CrawlIngest.startWet(
      src.toDF().toDF("file_id", "payload"), "ciw_fps", "ciw_hosts",
      budget = 3, outDir,
      Files.createTempDirectory("ciw_ckpt").toString)
    try {
      // batch 1: host a → 2 records, host b → 1 (all inside budget 3)
      src.addData(Seq((0L, packWet(Seq(
        wet("https://a.example.org/p1", doc(1)),
        wet("https://a.example.org/p2", doc(2)),
        wet("https://b.example.org/p1", doc(3)))))))
      q.processAllAvailable()
      // batch 2: host a → 2 more (only the FIRST fits: 2 + 1 ≤ 3),
      // one of them a re-crawl of doc(1)'s body (dup_of_store)
      src.addData(Seq((1L, packWet(Seq(
        wet("https://a.example.org/p1", doc(1)),
        wet("https://a.example.org/p3", doc(4)))))))
      q.processAllAvailable()
      // batch 3: host a saturated — admits NOTHING (the DeltaStore
      // watermark sidecar is what keeps this empty batch replay-refused)
      src.addData(Seq((2L, packWet(Seq(
        wet("https://a.example.org/p4", doc(5)),
        wet("https://a.example.org/p5", doc(6)))))))
      q.processAllAvailable()
    } finally q.stop()

    val landed = CrawlIngest.readWet(spark, outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(3), r.getBoolean(7), r.getBoolean(9)))).toMap
    assert(landed.size === 7)
    assert(landed((0L, 0L)) === (("a.example.org", false, true)))
    assert(landed((0L, 2L)) === (("b.example.org", false, true)))
    assert(landed((1L, 0L)) === (("a.example.org", true, true)),
      "batch-2 re-crawl: dup-flagged by batch 1's fold, still admitted " +
        "(budget counts fetches in delivery order, dedup is downstream)")
    assert(landed((1L, 1L)) === (("a.example.org", false, false)),
      "second record of batch 2 exceeds host a's remaining budget")
    assert(!landed((2L, 0L))._3 && !landed((2L, 1L))._3,
      "saturated host admits nothing")

    // admitted counts: a = 3 (saturated), b = 1
    val counts = graft.stores.DeltaStore
      .readSum(spark, "ciw_hosts", Seq("host"), Seq("n_admitted"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("a.example.org") === 3L && counts("b.example.org") === 1L)

    // the zero-admission batch 3 still landed its watermark: replaying
    // installment 3 must be REFUSED (the empty-delta sidecar record)
    assert(!graft.stores.DeltaStore.refresh(spark,
      Seq(("zz", 1L)).toDF("host", "n_admitted"),
      "ciw_hosts", Seq("host"), 3L),
      "a saturated batch must still record its replay watermark")
  }

  test("near mode: a cross-batch NEAR-duplicate is caught that exact md5 misses") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def wet(url: String, body: String): String = url + "\r\n\r\n" + body
    def packWet(members: Seq[String]): Array[Byte] =
      members.toArray.flatMap(m =>
        Multimodal.gzipBytes(m.getBytes("UTF-8")))
    Seq("cin_fps", "cin_hosts", "cin_bands", "cin_comps").foreach { t =>
      Seq(t, t + "_wm").foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS $n")
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), n)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    CrawlIngest.writeFpStoreEmpty(spark, "cin_fps", 4)
    CrawlIngest.writeHostStore(spark, "cin_hosts", 4)
    CrawlIngest.writeNearStoresEmpty(spark, "cin_bands", "cin_comps", 4)

    // docA re-crawled with a tweaked trailing token: different md5,
    // near-identical shingles — the case exact-only dedup misses
    val docA = doc(1)
    val docATweaked = docA.dropRight(2) + "z9"
    val src = MemoryStream[(Long, Array[Byte])]
    val outDir = Files.createTempDirectory("cin_out").toString
    val q = CrawlIngest.startWet(
      src.toDF().toDF("file_id", "payload"), "cin_fps", "cin_hosts",
      budget = 100, outDir,
      Files.createTempDirectory("cin_ckpt").toString,
      near = Some(("cin_bands", "cin_comps")))
    try {
      src.addData(Seq((0L, packWet(Seq(
        wet("https://a.example.org/p1", docA),
        wet("https://b.example.org/p1", doc(3)))))))
      q.processAllAvailable()
      src.addData(Seq((1L, packWet(Seq(
        wet("https://a.example.org/p2", docATweaked), // near, not exact
        wet("https://c.example.org/p1", docA),        // exact re-crawl
        wet("https://d.example.org/p1", doc(50)))))))  // novel
      q.processAllAvailable()
    } finally q.stop()

    val landed = CrawlIngest.readWetNear(spark, outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getBoolean(7), r.getLong(12), r.getBoolean(13)))).toMap
    assert(landed.size === 5)
    // batch 1: everything novel on both axes
    assert(landed((0L, 0L)) === ((false, 0L, false)))
    assert(landed((0L, 1L)) === ((false, 1L, false)))
    // batch 2: the tweaked re-crawl — NOT an exact dup, IS a near dup,
    // clustered with the stored original (ck 0 = file 0 rec 0)
    assert(landed((1L, 0L)) === ((false, 0L, true)),
      "a tweaked re-crawl must be flagged near_dup_of_store with the " +
        "stored original's cluster, even though its md5 is novel")
    // the exact re-crawl is both an exact AND a near dup (identical
    // bands), same cluster
    assert(landed((1L, 1L)) === ((true, 0L, true)))
    // the novel record is neither
    assert(landed((1L, 2L)) === ((false, 1000002L, false)))

    // the stores folded per batch: band + comp stores carry both
    // installments, replay refused
    assert(!CrawlIngest.foldWet(spark,
      CrawlIngest.readWetNear(spark, outDir)
        .filter(col("batch_id") === 1L)
        .drop("batch_id"),
      "cin_fps", "cin_hosts", 2L, Some(("cin_bands", "cin_comps"))),
      "replaying installment 2 must be refused across all four stores")
    val comps = spark.table("cin_comps").select(col("doc_id"), col("comp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1000000L) === 0L && comps(1000001L) === 0L,
      "the component store records the cross-batch cluster")
  }

  test("near mode composes with robots rules: disallowed content still banded, never admitted") {
    import spark.implicits._
    def wet(url: String, body: String): String = url + "\r\n\r\n" + body
    Seq("cir_fps", "cir_hosts", "cir_bands", "cir_comps").foreach { t =>
      Seq(t, t + "_wm").foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS $n")
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), n)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    CrawlIngest.writeFpStoreEmpty(spark, "cir_fps", 4)
    CrawlIngest.writeHostStore(spark, "cir_hosts", 4)
    CrawlIngest.writeNearStoresEmpty(spark, "cir_bands", "cir_comps", 4)
    val near = Some(("cir_bands", "cir_comps"))
    val rules = Some(Seq(("a.example.org", "/deny", false))
      .toDF("r_host", "prefix", "allow"))
    def packWet(members: Seq[String]): Array[Byte] =
      members.toArray.flatMap(m =>
        Multimodal.gzipBytes(m.getBytes("UTF-8")))
    // wave 1: the DISALLOWED record carries the body a later wave
    // re-crawls — its bands must still fold (a known page is a known
    // page) while it consumes no budget
    val w1 = Seq((0L, packWet(Seq(
      wet("https://a.example.org/deny1", doc(1)),
      wet("https://a.example.org/p1", doc(2))))))
      .toDF("file_id", "payload")
    val v1 = CrawlIngest.wetVerdicts(spark, w1, "cir_fps", "cir_hosts",
      2, 1L, rules, near).localCheckpoint()
    assert(CrawlIngest.foldWet(spark, v1, "cir_fps", "cir_hosts", 1L, near))
    val m1 = v1.collect().map(r => r.getLong(1) ->
      ((r.getBoolean(6), r.getBoolean(9), r.getLong(12),
        r.getBoolean(13)))).toMap
    assert(m1(0L) === ((false, false, 0L, false)),
      "disallowed: allowed=false, not admitted, still self-banded")
    assert(m1(1L) === ((true, true, 1L, false)))

    // wave 2: a near re-crawl of the DISALLOWED body on an allowed
    // path — flagged near-dup of the stored (disallowed) record
    val w2 = Seq((1L, packWet(Seq(
      wet("https://b.example.org/p1", doc(1).dropRight(2) + "z9")))))
      .toDF("file_id", "payload")
    val v2 = CrawlIngest.wetVerdicts(spark, w2, "cir_fps", "cir_hosts",
      2, 2L, rules, near).localCheckpoint()
    val m2 = v2.collect().map(r => r.getLong(1) ->
      ((r.getBoolean(6), r.getBoolean(9), r.getLong(12),
        r.getBoolean(13)))).toMap
    assert(m2(0L) === ((true, true, 0L, true)),
      "a near re-crawl of disallowed content is still a known near-dup")
    // budget audit: the disallowed record consumed nothing
    assert(CrawlIngest.foldWet(spark, v2, "cir_fps", "cir_hosts", 2L, near))
    val counts = graft.stores.DeltaStore
      .readSum(spark, "cir_hosts", Seq("host"), Seq("n_admitted"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("a.example.org" -> 1L, "b.example.org" -> 1L))
  }

  test("near mode: a crawl frame outside the ck encoding bound loud-fails") {
    import spark.implicits._
    Seq("cib_fps", "cib_hosts", "cib_bands", "cib_comps").foreach { t =>
      Seq(t, t + "_wm").foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS $n")
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), n)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    CrawlIngest.writeFpStoreEmpty(spark, "cib_fps", 4)
    CrawlIngest.writeHostStore(spark, "cib_hosts", 4)
    CrawlIngest.writeNearStoresEmpty(spark, "cib_bands", "cib_comps", 4)
    // file_id past the linearization bound: the near path must FAIL
    // the batch loudly (a silently-aliased cluster key would corrupt
    // the store), never truncate
    val files = Seq((9000000000001L, Multimodal.gzipBytes(
      ("https://a.example.org/p1\r\n\r\n" + doc(1)).getBytes("UTF-8"))))
      .toDF("file_id", "payload")
    val e = intercept[Exception] {
      CrawlIngest.wetVerdicts(spark, files, "cib_fps", "cib_hosts",
        10, 1L, None, Some(("cib_bands", "cib_comps"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("encoding bound violated")),
      s"expected the ck bound error, got: $e")
    // the SAME frame through plain (non-near) mode is fine — the
    // bound is a near-mode contract only
    val plain = CrawlIngest.wetVerdicts(spark, files, "cib_fps",
      "cib_hosts", 10, 1L).collect()
    assert(plain.length === 1 && plain.head.getBoolean(9))
  }

  test("near serving: band + comp store sides arrive co-partitioned, no store-side exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    Seq("cip_bands", "cip_comps").foreach { t =>
      Seq(t, t + "_wm").foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS $n")
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), n)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    CrawlIngest.writeNearStoresEmpty(spark, "cip_bands", "cip_comps", 4)
    // one folded installment so the store scans are non-empty
    val seed = Seq((100L, doc(1)), (101L, doc(2))).toDF("doc_id", "text")
    val seedBands = graft.operators.Dedup.bandSignatures(seed)
      .localCheckpoint(true)
    assert(graft.stores.DeltaStore.refresh(spark,
      seedBands.select(col("band"), col("h1"), col("h2"), col("doc_id")),
      "cip_bands", Seq("band", "h1", "h2"), 1L))
    assert(graft.stores.DeltaStore.refresh(spark,
      seed.select(col("doc_id"), col("doc_id").as("comp")),
      "cip_comps", Seq("doc_id"), 1L))

    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val batch = Seq((200L, doc(1)), (201L, doc(50))).toDF("doc_id", "text")
      val assigned = graft.operators.Dedup.assignFromBands(spark,
        graft.operators.Dedup.bandSignatures(batch).localCheckpoint(true),
        batch.select(col("doc_id")),
        spark.table("cip_bands").filter(col("batch_id") < 2L)
          .select(col("doc_id"), col("band"), col("h1"), col("h2")),
        spark.table("cip_comps").filter(col("batch_id") < 2L)
          .select(col("doc_id"), col("comp")),
        withinBatch = false)
      val plan = assigned.queryExecution.executedPlan
      // for each DeltaStore-backed scan (band store: h1 in schema;
      // comp store: comp in schema), the SMJ side holding it must
      // carry NO exchange — the bucketed layout (the join key IS the
      // bucket key) satisfies the join's distribution from disk, so
      // at 100 TB only the batch side ever shuffles
      val joins = plan.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, s"expected sort-merge joins:\n$plan")
      // the INNERMOST join side holding each store scan (outer joins'
      // batch-side subtrees legitimately contain the store scan plus
      // the batch's own distinct/agg exchanges — those are not the
      // store's): the side that scans the store, contains no further
      // join, and therefore must be the bare scan+filter+sort with
      // NO exchange
      def innermostStoreSide(c: String) = joins
        .flatMap(j => Seq(j.left, j.right))
        .filter(s => s.collect { case sc: FileSourceScanExec
            if sc.output.exists(_.name == c) => sc }.nonEmpty)
        .filter(s => s.collect { case j: SortMergeJoinExec => j }.isEmpty)
      Seq("h1", "comp").foreach { c =>
        val sides = innermostStoreSide(c)
        assert(sides.nonEmpty, s"expected a bare store-side scan with '$c':\n$plan")
        sides.foreach(s => assert(
          s.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"the '$c' store side must arrive co-partitioned from disk:\n$plan"))
      }
      val got = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(200L -> 100L, 201L -> 201L),
        "the re-crawl clusters with the stored doc; the novel one self-labels")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("foldWet crash between the two store folds: retry converges bit-for-bit") {
    import spark.implicits._
    def wet(url: String, body: String): String = url + "\r\n\r\n" + body
    def packWet(members: Seq[String]): Array[Byte] =
      members.toArray.flatMap(m =>
        Multimodal.gzipBytes(m.getBytes("UTF-8")))
    Seq("cic_fps", "cic_hosts").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_wm")
      Seq(t, t + "_wm").foreach { n =>
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), n)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    CrawlIngest.writeFpStoreEmpty(spark, "cic_fps", 4)
    CrawlIngest.writeHostStore(spark, "cic_hosts", 4)
    val B = 3
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9))).toSet

    // wave 1: two hosts, one within-batch dup — folds cleanly
    val w1 = Seq((0L, packWet(Seq(
      wet("https://a.example.org/p1", doc(1)),
      wet("https://a.example.org/p2", doc(1)),
      wet("https://b.example.org/p1", doc(3))))))
      .toDF("file_id", "payload")
    val v1 = CrawlIngest
      .wetVerdicts(spark, w1, "cic_fps", "cic_hosts", B, 1L)
      .localCheckpoint()
    assert(CrawlIngest.foldWet(spark, v1, "cic_fps", "cic_hosts", 1L))

    // wave 2: a re-crawl of wave 1's body + novel bodies past budget
    val w2 = Seq((1L, packWet(Seq(
      wet("https://a.example.org/p3", doc(1)),
      wet("https://a.example.org/p4", doc(4)),
      wet("https://a.example.org/p5", doc(5))))))
      .toDF("file_id", "payload")
    val before = snap(CrawlIngest
      .wetVerdicts(spark, w2, "cic_fps", "cic_hosts", B, 2L))
    // CRASH SIMULATION: the fp fold (first half) lands, the host fold
    // (the commit point) never runs
    assert(CrawlIngest.foldFps(spark,
      CrawlIngest.wetVerdicts(spark, w2, "cic_fps", "cic_hosts", B, 2L)
        .select(col("fp")).distinct(), "cic_fps", 2L))
    // RETRY: verdicts recompute bit-equal — both serving reads filter
    // batch_id < inst, so the half-folded fp rows are invisible
    val retry = CrawlIngest
      .wetVerdicts(spark, w2, "cic_fps", "cic_hosts", B, 2L)
      .localCheckpoint()
    assert(snap(retry) === before,
      "a replayed batch must re-score against the same pre-fold snapshot")
    // the full foldWet retries into convergence: the fp refold is a
    // refused no-op, the host fold proceeds and commits the batch
    assert(CrawlIngest.foldWet(spark, retry, "cic_fps", "cic_hosts", 2L),
      "the retry's commit point (host fold) must be admitted")
    // no double count in either store
    val fps = spark.table("cic_fps").select(col("fp")).collect()
      .map(_.getString(0))
    assert(fps.length === fps.distinct.length,
      "the refused fp refold must not duplicate fingerprints")
    val counts = graft.stores.DeltaStore
      .readSum(spark, "cic_hosts", Seq("host"), Seq("n_admitted"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("a.example.org") === 3L,
      "wave1 admitted 2 on host a, the retried wave2 exactly 1 more " +
        "(budget 3) — a double host fold would read 4+")
    assert(counts("b.example.org") === 1L)
    // a second full replay of the batch is refused outright
    assert(!CrawlIngest.foldWet(spark, retry, "cic_fps", "cic_hosts", 2L))
  }

  test("manifest-resolved WET ingest; compactWet rolls both roles atomically") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def wet(url: String, body: String): String = url + "\r\n\r\n" + body
    def packWet(members: Seq[String]): Array[Byte] =
      members.toArray.flatMap(m =>
        Multimodal.gzipBytes(m.getBytes("UTF-8")))
    val wh = Files.createTempDirectory("graft_wh_wim").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS wim LOCATION '$wh'")
    val mf = "wim.manifest"
    try {
      graft.stores.StoreManifest.roll(spark, mf, "wet", Seq("fps", "hosts")) {
        (_, t) =>
          CrawlIngest.writeFpStoreEmpty(spark, t("fps"), 4)
          CrawlIngest.writeHostStore(spark, t("hosts"), 4)
      }
      val src = MemoryStream[(Long, Array[Byte])]
      val outDir = Files.createTempDirectory("wim_out").toString
      val q = CrawlIngest.startWetFromManifest(
        src.toDF().toDF("file_id", "payload"), mf, budget = 2, outDir,
        Files.createTempDirectory("wim_ckpt").toString)
      try {
        src.addData(Seq((0L, packWet(Seq(
          wet("https://a.example.org/p1", doc(1)),
          wet("https://a.example.org/p2", doc(2)),
          wet("https://a.example.org/p3", doc(3)))))))
        q.processAllAvailable()
        src.addData(Seq((1L, packWet(Seq(
          wet("https://a.example.org/p4", doc(4)))))))
        q.processAllAvailable()
      } finally q.stop()
      val admitted = CrawlIngest.readWet(spark, outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(9)).toMap
      assert(admitted === Map((0L, 0L) -> true, (0L, 1L) -> true,
        (0L, 2L) -> false, (1L, 0L) -> false),
        "budget 2: first two admitted, host saturated after batch 1")

      // compaction: BOTH roles flip under one new version; counts and
      // fp set preserved; pre-compaction installment ids stay refused
      val before = graft.stores.StoreManifest.currentRequired(
        spark, mf, "wet")._2
      val fpsBefore = spark.table(before("fps")).select(col("fp"))
        .collect().map(_.getString(0)).toSet
      graft.stores.StoreManifest.roll(spark, mf, "wet", Seq("fps", "hosts")) {
        (live, t) =>
          CrawlIngest.compactFpStore(spark, live("fps"), t("fps"))
          CrawlIngest.compactHostStore(spark, live("hosts"), t("hosts"))
      }
      val (v2, cur2) = graft.stores.StoreManifest.currentRequired(
        spark, mf, "wet")
      assert(cur2("fps") != before("fps") &&
        cur2("hosts") != before("hosts"),
        "one compaction must roll BOTH roles")
      assert(spark.table(cur2("fps")).select(col("fp"))
        .collect().map(_.getString(0)).toSet === fpsBefore)
      val counts = graft.stores.DeltaStore.readSum(
        spark, cur2("hosts"), Seq("host"), Seq("n_admitted"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts("a.example.org") === 2L)
      assert(!graft.stores.DeltaStore.refresh(spark,
        Seq(("zz", 1L)).toDF("host", "n_admitted"),
        cur2("hosts"), Seq("host"), 2L),
        "a pre-compaction installment id must stay refused after the roll")
    } finally spark.sql("DROP DATABASE IF EXISTS wim CASCADE")
  }

  test("manifest-resolved NEAR ingest; compactWetNear rolls all four roles atomically") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def wet(url: String, body: String): String = url + "\r\n\r\n" + body
    def packWet(members: Seq[String]): Array[Byte] =
      members.toArray.flatMap(m =>
        Multimodal.gzipBytes(m.getBytes("UTF-8")))
    val wh = Files.createTempDirectory("graft_wh_wnm").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS wnm LOCATION '$wh'")
    val mf = "wnm.manifest"
    try {
      graft.stores.StoreManifest.roll(spark, mf, "wetnear",
          CrawlIngest.nearRoles) { (_, t) =>
        CrawlIngest.writeFpStoreEmpty(spark, t("fps"), 4)
        CrawlIngest.writeHostStore(spark, t("hosts"), 4)
        CrawlIngest.writeNearStoresEmpty(spark, t("bands"), t("comps"), 4)
      }
      val src = MemoryStream[(Long, Array[Byte])]
      val outDir = Files.createTempDirectory("wnm_out").toString
      val q = CrawlIngest.startWetNearFromManifest(
        src.toDF().toDF("file_id", "payload"), mf, budget = 100, outDir,
        Files.createTempDirectory("wnm_ckpt").toString)
      try {
        src.addData(Seq((0L, packWet(Seq(
          wet("https://a.example.org/p1", doc(1)))))))
        q.processAllAvailable()
        // batch 2: near re-crawl (tweaked tail) through the MANIFEST path
        src.addData(Seq((1L, packWet(Seq(
          wet("https://a.example.org/p2", doc(1).dropRight(2) + "z9"))))))
        q.processAllAvailable()
      } finally q.stop()
      val landed = CrawlIngest.readWetNear(spark, outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getBoolean(7), r.getLong(12), r.getBoolean(13)))).toMap
      assert(landed((1L, 0L)) === ((false, 0L, true)),
        "manifest-resolved near serving must catch the tweaked re-crawl")

      // compaction: all FOUR roles flip under one version; sets and
      // labels preserved; pre-roll installment ids stay refused
      val before = graft.stores.StoreManifest.currentRequired(
        spark, mf, "wetnear")._2
      val compsBefore = spark.table(before("comps"))
        .select(col("doc_id"), col("comp")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.stores.StoreManifest.roll(spark, mf, "wetnear",
          CrawlIngest.nearRoles) { (live, t) =>
        CrawlIngest.compactFpStore(spark, live("fps"), t("fps"))
        CrawlIngest.compactHostStore(spark, live("hosts"), t("hosts"))
        CrawlIngest.compactNearStores(spark, live("bands"), t("bands"),
          live("comps"), t("comps"))
      }
      val cur2 = graft.stores.StoreManifest.currentRequired(
        spark, mf, "wetnear")._2
      Seq("fps", "hosts", "bands", "comps").foreach(r =>
        assert(cur2(r) != before(r), s"role $r must roll"))
      val compsAfter = spark.table(cur2("comps"))
        .select(col("doc_id"), col("comp")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(compsAfter === compsBefore,
        "compaction must preserve the component labels")
      assert(compsAfter === Map(0L -> 0L, 1000000L -> 0L),
        "both records clustered with the batch-1 original")
      assert(!graft.stores.DeltaStore.refresh(spark,
        Seq((0, 1L, 2L, 3L)).toDF("band", "h1", "h2", "doc_id"),
        cur2("bands"), Seq("band", "h1", "h2"), 2L),
        "a pre-compaction installment id must stay refused after the roll")
    } finally spark.sql("DROP DATABASE IF EXISTS wnm CASCADE")
  }

  test("manifest-resolved ingest; compaction preserves the set and the watermark") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = Files.createTempDirectory("graft_wh_cim").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS cim LOCATION '$wh'")
    val mf = "cim.manifest"
    try {
      graft.stores.StoreManifest.roll(spark, mf, "fp", Seq("fps"))((_, t) =>
        CrawlIngest.writeFpStore(spark,
          Seq((0L, pack((1L to 4L).map(doc)))).toDF("file_id", "payload"),
          t("fps"), 4))
      val src = MemoryStream[(Long, Array[Byte])]
      val outDir = Files.createTempDirectory("cim_out").toString
      val q = graft.streaming.CrawlIngest.startFromManifest(
        src.toDF().toDF("file_id", "payload"), mf, outDir,
        Files.createTempDirectory("cim_ckpt").toString)
      try {
        src.addData(Seq((20L, pack(Seq(doc(1), doc(200))))))
        q.processAllAvailable()
      } finally q.stop()
      val landed = graft.streaming.CrawlIngest.readStats(spark, outDir)
        .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
      assert(landed === Map(0L -> true, 1L -> false),
        "manifest-resolved serving: base-store re-crawl flagged, novel not")

      // compaction: set preserved, watermark carried, replay refused
      val before = spark.table(graft.stores.StoreManifest
        .currentRequired(spark, mf, "fp")._2("fps"))
        .select(col("fp")).collect().map(_.getString(0)).toSet
      graft.stores.StoreManifest.roll(spark, mf, "fp", Seq("fps"))((live, t) =>
        CrawlIngest.compactFpStore(spark, live("fps"), t("fps")))
      val cur2 = graft.stores.StoreManifest
        .currentRequired(spark, mf, "fp")._2("fps")
      val after = spark.table(cur2)
        .select(col("fp")).collect().map(_.getString(0)).toSet
      assert(after === before, "compaction must preserve the fp set")
      assert(!graft.stores.DeltaStore.refresh(spark,
        Seq("zz").toDF("fp"), cur2, Seq("fp"), 1L),
        "a pre-compaction installment id must stay refused after the roll")
    } finally spark.sql("DROP DATABASE IF EXISTS cim CASCADE")
  }

  test("startWet serves a TRAINED clf store: seam scores equal the trained model, keep is margin > 0") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TrainPrep

    Seq("cit_fps", "cit_hosts", "cit_clf").foreach { t =>
      Seq(t, t + "_wm").foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS $n")
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), n)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    CrawlIngest.writeFpStoreEmpty(spark, "cit_fps", 4)
    CrawlIngest.writeHostStore(spark, "cit_hosts", 4)
    // train 2 perceptron steps on a tiny labeled corpus (labels = the
    // q32 quality floor, same as q208) into the clf store
    TrainPrep.writeClfStoreEmpty(spark, "cit_clf", 4)
    val corpus = (1L to 8L).map(i => (i, doc(i)))
      .toDF("doc_id", "text")
    val feats = TrainPrep.clfFeatures(corpus, "text", Seq("doc_id"))
      .localCheckpoint(true)
    val labels = TrainPrep.clfLabels(corpus)
    (1L to 2L).foreach(t =>
      assert(TrainPrep.trainClfStep(spark, feats, labels, "cit_clf", t)))
    val vec = TrainPrep.readClfVector(spark, "cit_clf")
    assert(vec.exists(_ != 0L), "training must produce nonzero weights")

    def wet(url: String, body: String): String = url + "\r\n\r\n" + body
    def packWet(members: Seq[String]): Array[Byte] =
      members.toArray.flatMap(m =>
        Multimodal.gzipBytes(m.getBytes("UTF-8")))
    val src = MemoryStream[(Long, Array[Byte])]
    val outDir = Files.createTempDirectory("cit_out").toString
    val q = CrawlIngest.startWet(
      src.toDF().toDF("file_id", "payload"), "cit_fps", "cit_hosts",
      budget = 10, outDir,
      Files.createTempDirectory("cit_ckpt").toString,
      clfTable = Some("cit_clf"))
    try {
      src.addData(Seq((0L, packWet(Seq(
        wet("https://a.example.org/p1", doc(3)),
        wet("https://a.example.org/p2", doc(100)))))))
      q.processAllAvailable()
    } finally q.stop()
    val landed = CrawlIngest.readWet(spark, outDir)
      .select(col("rec_idx"), col("clf_score"), col("clf_keep"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2)))).toMap
    // the reference: the same bodies scored in batch under the same
    // trained vector through the same fused path
    val want = TrainPrep.withClfScore(
      Seq((0L, doc(3)), (1L, doc(100))).toDF("rec_idx", "text"),
      "text", Some(vec))
      .select(col("rec_idx"), col("clf_score"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(landed.size === 2)
    landed.foreach { case (ri, (score, keep)) =>
      assert(score === want(ri),
        s"seam score for rec $ri must equal the trained model's")
      assert(keep === (score > 0),
        "trained-path keep is the perceptron margin > 0")
    }
  }
}
