package graft

import java.nio.file.Files

import graft.operators.Dedup
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The incremental-dedup production path end to end: persist BOTH
  * stores (band signatures bucketed on the full (band, h1, h2)
  * collision key, components bucketed on doc_id), then assign a new
  * ingest batch to clusters without recomputing anything corpus-sized.
  *
  * Fixture batch: exact clones of stored documents (every band
  * collides → must land in the source doc's cluster), plus novel
  * documents from a disjoint vocabulary (no collision → must seed
  * their own id). Plan pin: neither store side shuffles.
  */
class IncrementalClusterSpec extends SparkSpec {

  test("clones join their source's cluster, novels seed their own; stores never shuffle") {
    val wh = Files.createTempDirectory("graft_wh_inc").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS incstore LOCATION '$wh'")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      Dedup.writeBandStore(spark, sf001, "incstore.bands_b")
      Dedup.writeComponentsStore(spark, sf001, "incstore.comps_b")
      val comp = Dedup.components(spark, sf001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // batch: clones of 5 stored docs (ids offset by 10^6) + 3 novel
      // docs over a vocabulary no stored doc shares a shingle with
      val docs = Tables(spark, sf001, "documents")
      val clones = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      import spark.implicits._
      val novel = Seq(
        (2000000L, (0 until 40).map(i => s"zq$i").mkString(" ")),
        (2000001L, (0 until 40).map(i => s"xv${i * 3}").mkString(" ")),
        (2000002L, (0 until 40).map(i => s"kj${i * 7}").mkString(" ")))
        .toDF("doc_id", "text")
      val batch = clones.union(novel)

      // force the join shapes that would otherwise broadcast/re-plan
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val assigned = Dedup.assignToClusters(spark, batch,
        spark.table("incstore.bands_b"), spark.table("incstore.comps_b"))
      val got = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      (0L until 5L).foreach { id =>
        val expect = comp.getOrElse(id, id)
        assert(got(id + 1000000L) === expect,
          s"clone of doc $id must land in cluster $expect, got ${got(id + 1000000L)}")
      }
      Seq(2000000L, 2000001L, 2000002L).foreach { id =>
        assert(got(id) === id, s"novel doc $id must seed its own cluster")
      }

      // neither persisted store side may shuffle: the band join's
      // store side is bucketed on the full (band, h1, h2) collision
      // key (subset bucketing was tried and rejected — it forces a
      // store-side re-shuffle; see writeBandStore), the component
      // join's on doc_id
      val plan = assigned.queryExecution.executedPlan
      val joins = plan.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, s"expected SMJs:\n$plan")
      val bandJoin = joins.find(_.leftKeys.size == 3)
      assert(bandJoin.isDefined, s"expected the 3-key band join:\n$plan")
      assert(bandJoin.get.right.collect {
        case e: ShuffleExchangeExec => e
      }.isEmpty, s"band store side must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP DATABASE IF EXISTS incstore CASCADE")
    }
  }

  test("streaming ClusterIngest assigns across restarts with offset-only state") {
    val wh = Files.createTempDirectory("graft_wh_ci").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS cistore LOCATION '$wh'")
    try {
      Dedup.writeBandStore(spark, sf001, "cistore.bands_b")
      Dedup.writeComponentsStore(spark, sf001, "cistore.comps_b")
      val comp = Dedup.components(spark, sf001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val srcText = Tables(spark, sf001, "documents")
        .filter(col("doc_id") < 3).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

      implicit val ctx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docs = MemoryStream[(Long, String)]
      val outDir = Files.createTempDirectory("ci_out").toString
      val ckpt = Files.createTempDirectory("ckpt_ci").toString
      def startQ() = graft.streaming.ClusterIngest.start(
        docs.toDF().toDF("doc_id", "text"),
        spark.table("cistore.bands_b"), spark.table("cistore.comps_b"),
        outDir, ckpt)

      var q = startQ()
      docs.addData((1000000L, srcText(0L)), (1000001L, srcText(1L)))
      q.processAllAvailable(); q.stop()
      // restart: nothing but offsets in the checkpoint — the next
      // batch must assign identically through the same stores
      q = startQ()
      docs.addData((1000002L, srcText(2L)),
        (2000000L, (0 until 40).map(i => s"zz$i").mkString(" ")))
      q.processAllAvailable(); q.stop()

      val got = graft.streaming.ClusterIngest.readAssigned(spark, outDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0L until 3L).foreach { id =>
        assert(got(id + 1000000L) === comp.getOrElse(id, id),
          s"clone of doc $id joins its cluster across the restart")
      }
      assert(got(2000000L) === 2000000L, "novel doc seeds its own cluster")
      assert(got.size === 4)
    } finally spark.sql("DROP DATABASE IF EXISTS cistore CASCADE")
  }

  test("withinBatch mode clusters batch-internal duplicates; default mode defers them") {
    val wh = Files.createTempDirectory("graft_wh_wb").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS wbstore LOCATION '$wh'")
    try {
      Dedup.writeBandStore(spark, sf001, "wbstore.bands_b")
      Dedup.writeComponentsStore(spark, sf001, "wbstore.comps_b")
      import spark.implicits._
      // two novel twins (same text, no store match) + one singleton,
      // plus a twin pair where ONE member also clones stored doc 0
      val srcText = Tables(spark, sf001, "documents")
        .filter(col("doc_id") === 0).collect().head.getString(1)
      val novel = (0 until 40).map(i => s"wb$i").mkString(" ")
      val batch = Seq(
        (3000000L, novel), (3000001L, novel),
        (3000002L, (0 until 40).map(i => s"solo$i").mkString(" ")),
        (3000003L, srcText), (3000004L, srcText))
        .toDF("doc_id", "text")
      val bands = spark.table("wbstore.bands_b")
      val comps = spark.table("wbstore.comps_b")
      val comp0 = Dedup.components(spark, sf001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        .getOrElse(0L, 0L)

      val lazyMode = Dedup.assignToClusters(spark, batch, bands, comps)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lazyMode(3000000L) === 3000000L && lazyMode(3000001L) === 3000001L,
        "default mode defers batch-internal twins to the next refresh")

      val eager = Dedup.assignToClusters(spark, batch, bands, comps,
        withinBatch = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(eager(3000000L) === 3000000L && eager(3000001L) === 3000000L,
        "novel twins close to the min member id")
      assert(eager(3000002L) === 3000002L, "singleton keeps its own id")
      assert(eager(3000003L) === comp0 && eager(3000004L) === comp0,
        "a batch component bridging the store takes the store cluster")
    } finally spark.sql("DROP DATABASE IF EXISTS wbstore CASCADE")
  }

  test("assign -> land -> refresh -> assign: the refresh folds landed batches exactly") {
    val wh = Files.createTempDirectory("graft_wh_rf").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS refstore LOCATION '$wh'")
    try {
      Dedup.writeBandStore(spark, sf001, "refstore.bands")
      Dedup.writeComponentsStore(spark, sf001, "refstore.comps")
      import spark.implicits._
      val srcText = Tables(spark, sf001, "documents")
        .filter(col("doc_id") === 0).collect().head.getString(1)
      val twin = (0 until 40).map(i => s"rf$i").mkString(" ")
      val batch1 = Seq((1000000L, srcText), (2000000L, twin),
        (2000001L, twin)).toDF("doc_id", "text")

      // ASSIGN + LAND through the streaming deployment (lazy mode:
      // the novel twins defer — exactly the staleness refresh closes)
      implicit val ctx = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docs = MemoryStream[(Long, String)]
      val outDir = Files.createTempDirectory("rf_out").toString
      val ckpt = Files.createTempDirectory("rf_ckpt").toString
      val q = graft.streaming.ClusterIngest.start(
        docs.toDF().toDF("doc_id", "text"),
        spark.table("refstore.bands"), spark.table("refstore.comps"),
        outDir, ckpt)
      docs.addData((1000000L, srcText), (2000000L, twin), (2000001L, twin))
      q.processAllAvailable(); q.stop()
      val landed = graft.streaming.ClusterIngest.readAssigned(spark, outDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(landed(2000000L) === 2000000L && landed(2000001L) === 2000001L,
        "lazy assignment defers the novel twins")

      // REFRESH: fold the landed batch into both stores (v2 roll-forward)
      Dedup.refreshStores(spark, batch1, "refstore.bands",
        "refstore.comps", "refstore.comps_v2")

      // the refreshed table must equal a FULL recompute over
      // corpus ∪ batch (the closure labels every paired doc; batch
      // singletons additionally label themselves)
      val unionDocs = Tables(spark, sf001, "documents")
        .select(col("doc_id"), col("text")).union(batch1)
      val expect = Dedup.propagate(
        Dedup.pairsFromBands(Dedup.bandSignatures(unionDocs))
          .localCheckpoint(true))._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = spark.table("refstore.comps_v2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      expect.foreach { case (id, c) =>
        assert(got.get(id) === Some(c),
          s"refreshed label for $id must match the full recompute ($c)")
      }
      // and nothing extra beyond self-labeled batch singletons
      (got.keySet -- expect.keySet).foreach { id =>
        assert(got(id) === id, s"extra row $id must be a self-labeled singleton")
      }
      assert(got(2000000L) === 2000000L && got(2000001L) === 2000000L,
        "the deferred twins are united by the refresh")

      // ASSIGN again: a clone of the twin now lands in the twins'
      // refreshed cluster (pre-refresh it would have seeded its own)
      val batch2 = Seq((3000000L, twin)).toDF("doc_id", "text")
      val a2 = Dedup.assignToClusters(spark, batch2,
        spark.table("refstore.bands"), spark.table("refstore.comps_v2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a2(3000000L) === 2000000L,
        "post-refresh assignment sees the folded batch")

      // DELTA-ONLY plan shape: the corpus side of the component
      // refresh never shuffles — relabeled is scan + broadcast join
      // (zero shuffle exchanges), and the delta side's anti-join
      // reads the component store co-partitioned from disk
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val nb = Dedup.bandSignatures(batch1).localCheckpoint(true)
        val (bl, sn) = Dedup.refreshDelta(nb, batch1.select(col("doc_id")),
          spark.table("refstore.bands"), spark.table("refstore.comps"))
        val (relabeled, delta) = Dedup.refreshedParts(
          spark.table("refstore.comps"), bl, sn)
        // the relabel MAP is delta-sized and may shuffle; the claim
        // is about the corpus: the component-store scan streams into
        // the broadcast join with no exchange above it
        val bhj = relabeled.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        }
        assert(bhj.nonEmpty, "relabel must be a broadcast hash join")
        assert(bhj.head.left.collect {
          case e: ShuffleExchangeExec => e
        }.isEmpty, "corpus side of the relabel join must not shuffle")
        assert(bhj.head.left.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.nonEmpty, "corpus side must be the component-store scan")
        val antis = delta.queryExecution.executedPlan.collect {
          case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" => j
        }
        assert(antis.nonEmpty, "expected the newly-paired anti-join as SMJ")
        assert(antis.head.right.collect {
          case e: ShuffleExchangeExec => e
        }.isEmpty, "component store side of the anti-join must not shuffle")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }

      // IO-shape pin: the v2 write ran one task per bucket — the
      // corpus pass emits one file per bucket, the delta append at
      // most one more
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("refstore.comps_v2"))
        .location
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
        .count(_.getPath.getName.endsWith(".parquet"))
      val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(nFiles <= 2 * buckets,
        s"expected <= ${2 * buckets} files (one per bucket per pass), got $nFiles")
    } finally spark.sql("DROP DATABASE IF EXISTS refstore CASCADE")
  }

  test("q142 assignments point at store-closure roots or self") {
    val got = SparkEntry.queries("q142_incremental_assign")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    assert(got.keys.forall(_ % 7 == 3), "output is exactly the batch")
    val storeIds = Tables(spark, sf001, "documents")
      .filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    got.foreach { case (id, c) =>
      assert(c == id || storeIds.contains(c),
        s"comp is self or a stored doc id: $id -> $c")
    }
    // matched assignments must be ROOTS of the store-subset closure:
    // a root labels itself (or is an unpaired singleton, absent from
    // the component table entirely) — never an interior member
    val comp = got.values.filter(storeIds.contains).toSet
    if (comp.nonEmpty) {
      val storeComp = SparkEntry.queries("q57_dedup_components")(spark, sf001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      comp.foreach { c =>
        assert(!storeComp.contains(c) || storeComp(c) <= c,
          s"assigned label $c resolves no lower in the corpus closure")
      }
    }
  }

  test("batch union-find equals distributed propagate on random band graphs (incl. chains)") {
    // the round-14 within-batch fast path: a single-task union-find
    // over doc-bucket edges must label EXACTLY like the salted-pairs
    // + propagate machinery it replaces below the size bound — same
    // connectivity relation (shares a (band,h1,h2) bucket), same
    // min-id labels; chained merges (A~B via bucket1, B~C via
    // bucket2, arriving in adversarial order) exercise path
    // compression and the larger-root-under-smaller rule
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 7919)
      val nDocs = 60 + rnd.nextInt(60)
      val rows = (0 until nDocs).flatMap { d =>
        // small bucket-value space forces collisions and chains; the
        // sig array must mirror the band rows (sig(2b), sig(2b+1)) =
        // (h1_b, h2_b) — pairsFromBands' first-colliding-band dedup
        // reads it
        val hs = (0 until 4).map(b => rnd.nextInt(6 + seed).toLong)
        val sig = (0 until 4).flatMap(b => Seq(hs(b), hs(b) + 1000L * b))
        (0 until 4).map { b =>
          (b, hs(b), hs(b) + 1000L * b, d.toLong, sig)
        }
      }
      // shuffle row order: UF must be order-independent
      val shuffled = rnd.shuffle(rows)
      val bands = shuffled.toDF("band", "h1", "h2", "doc_id", "sig")
        .localCheckpoint(true)
      val uf = Dedup.batchComponents(bands)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pairs = Dedup.pairsFromBands(bands)
      val ref = Dedup.propagate(pairs)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // labelEdges' small-graph path labels exactly the edge
      // endpoints, the same node set propagate labels
      val viaEdges = Dedup.edgeComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaEdges === ref, s"seed $seed: edgeComponents != propagate")
      // propagate emits only pair-participating nodes; the UF emits
      // every banded doc (extras are identities)
      ref.foreach { case (id, lab) =>
        assert(uf(id) === lab,
          s"seed $seed: doc $id labeled ${uf(id)}, propagate says $lab")
      }
      uf.filterNot { case (id, _) => ref.contains(id) }.foreach {
        case (id, lab) => assert(lab === id,
          s"seed $seed: non-colliding doc $id must self-label")
      }
    }
    // the size bound: above it, batchGraphLabels falls back to the
    // distributed path
    val tiny = Seq((0, 1L, 1L, 5L, Seq.fill(8)(0L)),
      (0, 1L, 1L, 9L, Seq.fill(8)(0L)),
      (1, 2L, 2L, 9L, Seq.fill(8)(0L)))
      .toDF("band", "h1", "h2", "doc_id", "sig").localCheckpoint(true)
    val viaFallback = Dedup.batchGraphLabels(tiny, limit = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFallback(9L) === 5L,
      "above the bound the distributed path labels identically")
  }
}
