package graft.operators

import graft.{QueryDef, Tables}
import graft.stores.DeltaStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL/host-level crawl curation — the web-native half of the crawl
  * front door (q195/q196 recover the records; these queries curate by
  * WHERE they came from, the way production web-corpus pipelines do:
  * per-host caps so no domain dominates the mixture, host blocklists,
  * and URL-revisit resolution so a page fetched five times lands
  * once).
  *
  * Record shape: WET-style members — the first CRLFCRLF-terminated
  * line of each recovered record is the target URI, the rest is the
  * extracted plaintext (the header/body split every crawl-derived
  * corpus starts from). The fixture packs the driver corpus into
  * multi-member gzip files exactly like q195's, with the URI line
  * prepended per member, so the whole chain — decompress → frame →
  * header split → URL parse → host policy — sits under one hash gate
  * the oracle reconstructs arithmetically from the plain corpus.
  *
  * Scale shapes (the 100 TB postures):
  *  - header split + `parse_url` are row-local projections riding the
  *    decode scan — no exchange;
  *  - the per-host cap is ONE window whose `row_number() ≤ K` filter
  *    Catalyst rewrites into partial + final `WindowGroupLimit`
  *    nodes: each map task ships at most K rows per host, so the
  *    per-host sort above the exchange runs on ≤ mapPartitions·K
  *    candidates, never a mega-host's full record set (plan-asserted;
  *    see [[hostRanks]]);
  *  - the keep-set joins back on (file_id, rec_idx) — hosts×K rows,
  *    record-keyed equi-join (AQE broadcasts it when small; never
  *    forced, since hosts×K at web scale can exceed driver memory);
  *  - URL-revisit resolution is one url-keyed exchange (group-agg)
  *    plus one join back — q196's fingerprint shape with url as the
  *    key; no windows over the corpus, no pair joins.
  */
object WebCuration {

  /** Hosts dropped outright by curation policy (the blocklist every
    * crawl pipeline carries; literal here — production feeds it from
    * a config table and broadcast-joins).
    */
  private val Blocklist = Seq("src7.example.org", "src13.example.org")

  /** Per-host document cap (FineWeb-style anti-domination). */
  private val HostCap = 15

  /** Pin a slim multi-consumer projection of the decode+parse chain —
    * the q122-lesson fix (without it each downstream consumer re-runs
    * the corpus decode; the executed plan showed 4× MapPartitions).
    *
    * 100 TB POSTURE — the trade this makes: an EAGER
    * `localCheckpoint(true)` materializes the projection to executor
    * local storage immediately AND severs lineage, so one lost
    * executor fails the query instead of recomputing its blocks. That
    * is distributed (never driver-sized) and free at bench scale; a
    * long-running 1000-executor job would want `persist(DISK_ONLY)`
    * instead (same single materialization, lineage kept, at the cost
    * of the first consumer racing the others to populate the cache).
    *
    * Consumers read the pin at size-derived parallelism (guide §2 —
    * the slim frame's map stages otherwise schedule one near-empty
    * task per decode partition at micro-batch scale).
    */
  private def pinSlim(df: DataFrame): DataFrame =
    graft.Jobs.adaptiveRead(df.localCheckpoint(true))

  /** The WET fixture: the corpus packed into ~97 crawl files — one
    * multi-member gzip payload per file, one document per member in
    * doc_id order (q195's fixture), each member prefixed with its
    * WET-style URI header line. The URL is page-keyed
    * (`/p<doc_id % 13>`), so distinct documents on the same
    * (source, page) model RE-FETCHES of one URL — the revisit shape
    * q200 resolves.
    */
  private[graft] def wetFiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.parallel(s, d, "documents")
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.org/p"),
          pmod(col("doc_id"), lit(13L))).as("url"),
        col("text"))
      .groupBy((col("doc_id") % 97).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("text")))).as("recs"))
      .as[(Long, Seq[(Long, String, String)])]
      .mapPartitions(_.map { case (fid, recs) =>
        (fid, recs.toArray.flatMap(r => Multimodal.gzipBytes(
          (r._2 + "\r\n\r\n" + r._3).getBytes("UTF-8"))))
      }).toDF("file_id", "payload")
  }

  /** [[wetFiles]] pinned and split into the three crawl waves q202,
    * q205 and q206 feed through [[graft.streaming.CrawlIngest.wetBatch]]:
    * wave w (installment id w, 1..3) holds the files with
    * file_id % 3 = w − 1.
    */
  private def wetWaves(s: SparkSession, d: String): Seq[(Long, DataFrame)] = {
    val files = graft.Jobs.adaptiveRead(wetFiles(s, d).localCheckpoint())
    (1L to 3L).map(wv =>
      wv -> files.filter(pmod(col("file_id"), lit(3L)) === wv - 1))
  }

  /** Header-split + URL-parse + body quality over an already-framed
    * (file_id, rec_idx, raw) frame: (file_id, rec_idx, url, host,
    * path, body, quality). The header split is first-CRLFCRLF — a
    * body may legally contain CRLF line breaks (spec-pinned); q32's
    * quality arithmetic runs on the BODY only.
    */
  private[graft] def parseWet(framed: DataFrame): DataFrame =
    framed
      .withColumn("m", col("raw").cast("string"))
      .withColumn("url", substring_index(col("m"), "\r\n\r\n", 1))
      .withColumn("body",
        col("m").substr(length(col("url")) + 5, length(col("m"))))
      .withColumn("toks", split(col("body"), " "))
      .withColumn("n", size(col("toks")))
      .withColumn("nd", size(array_distinct(col("toks"))))
      .select(col("file_id"), col("rec_idx"), col("url"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        col("body"),
        round(least(lit(1.0), col("n") / 100.0)
          * (col("nd") / col("n")), 4).as("quality"))

  /** Framed + parsed records of the [[wetFiles]] fixture — everything
    * derives from the decompressed payloads.
    */
  private[graft] def wetRecords(s: SparkSession, d: String): DataFrame =
    parseWet(Multimodal.frameCrawl(s, wetFiles(s, d)))

  /** EXACT per-host rank (1-based under `orderCols`) for every record
    * whose rank ≤ `cap`; records beyond the cap are ABSENT. ONE window
    * — Catalyst's `InferWindowGroupLimit` rewrites the
    * `row_number() ≤ cap` filter into a PARTIAL `WindowGroupLimit`
    * below the host exchange (each map task ships at most `cap` rows
    * per host) plus a final one above it, so the per-host sort runs on
    * ≤ mapPartitions·cap candidates, never a mega-host's full record
    * set — the built-in form of the salted two-phase top-K, one
    * exchange cheaper (both WindowGroupLimit nodes are plan-asserted
    * in WebCurationSpec; if that inference ever regresses, revive the
    * salt-local pre-rank). Shared by the q199 quality cap and the
    * crawl seam's first-seen budget admission
    * ([[graft.streaming.CrawlIngest]]).
    */
  private[graft] def hostRanks(recs: DataFrame, cap: Int,
      orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(col("host")).orderBy(orderCols: _*)
    recs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
  }

  /** Per-host top-`cap` keep-set by (quality desc, file_id, rec_idx) —
    * q199's deterministic total order. Returns (file_id, rec_idx).
    */
  private[graft] def capKeepSet(recs: DataFrame, cap: Int): DataFrame =
    hostRanks(recs, cap,
      Seq(col("quality").desc, col("file_id"), col("rec_idx")))
      .select(col("file_id"), col("rec_idx"))

  /** q203's verdict chain over an arbitrary parsed-record frame
    * (file_id, rec_idx, url, host, body, quality) — stage order fixed
    * so reruns reproduce the exact keep set: revisit latest-fetch per
    * URL → exact dedup among latest fetches (lexicographic-first
    * canonical) → blocklist + quality floor → per-host cap. Output one
    * verdict row per input record. Property-tested against a
    * sequential reference on random corpora (WebCurationPropertySpec).
    */
  private[graft] def webVerdicts(parsed: DataFrame, cap: Int,
      blocklist: Seq[String]): DataFrame = {
    // the slim projection (no body) has FOUR consumers below (latest
    // agg, its join-back, the canon agg, the cap ranks) — without the
    // pin each one re-runs the upstream decode+parse chain (the q122
    // lesson; executed plan showed 4× MapPartitions before the pin)
    // fetch order is struct ordering on (file_id, rec_idx) — unlike
    // the earlier file_id*1e6+rec_idx linearization, struct min/max
    // needs no bound on rec_idx, so the documented "arbitrary
    // parsed-record frame" contract actually holds (round-13 advice
    // fix; the q203 oracle's linearized ck is equivalent because the
    // FIXTURE's rec_idx < 1e6, an oracle-side arithmetic identity
    // rather than an engine assumption)
    val recs = pinSlim(parsed
      .withColumn("fp", md5(col("body")))
      .withColumn("ck", struct(col("file_id"), col("rec_idx")))
      .select(col("file_id"), col("rec_idx"), col("ck"), col("url"),
        col("host"), col("fp"), col("quality")))
    val latest = recs.groupBy(col("url"))
      .agg(max(col("ck")).as("lck"))
    val l = recs.join(latest, "url")
      .withColumn("is_latest", col("ck") === col("lck"))
    val canon = l.filter(col("is_latest"))
      .groupBy(col("fp")).agg(min(col("ck")).as("cck"))
    val e = l.join(canon, Seq("fp"), "left")
      .withColumn("is_canon",
        col("is_latest") && col("ck") === col("cck"))
      .withColumn("blocked", col("host").isin(blocklist: _*))
      .withColumn("eligible",
        col("is_latest") && col("is_canon") && !col("blocked") &&
          col("quality") >= 0.3)
    val kept = hostRanks(
      e.filter(col("eligible"))
        .select(col("file_id"), col("rec_idx"), col("host"),
          col("quality")),
      cap,
      Seq(col("quality").desc, col("file_id"), col("rec_idx")))
      .select(col("file_id"), col("rec_idx"), lit(true).as("in_cap"))
    e.join(kept, Seq("file_id", "rec_idx"), "left")
      .select(col("file_id"), col("rec_idx"), col("host"),
        col("quality"), col("is_latest"), col("is_canon"),
        col("blocked"),
        (col("eligible") && coalesce(col("in_cap"), lit(false)))
          .as("keep"))
  }

  /** Robots-style rule resolution, shared by q204 and the crawl
    * seam ([[graft.streaming.CrawlIngest.wetVerdicts]]): a record
    * matches every rule whose host is '*' or its own and whose path
    * prefix it starts with; resolution is argmax over
    * (prefix_len, host-specific, allow) — longest prefix wins, a
    * host-specific rule beats a '*' rule of the same length, and —
    * the EXPLICIT tie rule (round-13 advice fix) — two rules tying on
    * BOTH keys with opposite verdicts resolve PERMISSIVELY
    * (allow=true is the struct max; spec-pinned on a genuine tie in
    * WebCurationSpec). Real robots.txt has the same ambiguity and
    * Google's documented resolution is also least-restrictive. NOTE
    * for oracle-gated queries: DuckDB `arg_max` leaves ties
    * UNSPECIFIED, so fixtures under the hash gate must keep rule
    * tables tie-free (q204/q205's are); the engine itself is
    * deterministic either way. A record matching no rule returns a
    * null-fielded struct — callers coalesce to the robots default
    * (allow).
    *
    * One broadcast join (the rule table is config-sized) + a
    * per-record argmax; records ride the scan, nothing corpus-sized
    * shuffles. `carry` names extra record columns to keep through the
    * group (avoiding a join-back).
    */
  private[graft] def resolveRules(recs: DataFrame, rules: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    recs.join(broadcast(rules),
        (col("r_host") === "*" || col("r_host") === col("host")) &&
          col("path").startsWith(col("prefix")), "left")
      .groupBy((Seq("file_id", "rec_idx") ++ carry).map(col): _*)
      .agg(max(struct(length(col("prefix")).as("plen"),
        (col("r_host") =!= "*").as("specific"),
        col("allow").as("allow"))).as("m"))

  /** Oracle CTE reconstructing [[wetRecords]] arithmetically from the
    * plain corpus (q195's framing identity + the URL construction).
    */
  private val WetSql =
    """w AS (SELECT doc_id % 97 AS file_id,
      |    CAST(row_number() OVER (PARTITION BY doc_id % 97
      |                            ORDER BY doc_id) - 1 AS BIGINT)
      |      AS rec_idx,
      |    'https://' || source || '.example.org/p' || (doc_id % 13)
      |      AS url,
      |    source || '.example.org' AS host,
      |    '/p' || (doc_id % 13) AS path,
      |    md5(text) AS body_md5,
      |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
      |      * (len(list_distinct(string_split(text, ' ')))
      |         / len(string_split(text, ' '))), 4) AS quality
      |  FROM documents)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- q198: WET record framing + URL parse --------------------------
    // The header/body seam under the hash gate: a one-character slip
    // in the CRLFCRLF split corrupts either the URL or the body md5
    // of EVERY record. parse_url is a row-local projection riding the
    // decode scan.
    QueryDef(
      "q198_wet_frame",
      (s, d) => wetRecords(s, d)
        .select(col("file_id"), col("rec_idx"), col("url"), col("host"),
          col("path"), md5(col("body")).as("body_md5")),
      Some(s"""WITH $WetSql
             |SELECT file_id, rec_idx, url, host, path, body_md5
             |FROM w""".stripMargin)),

    // ---- q199: host-level curation (blocklist + per-host cap) ----------
    // Blocked hosts drop outright; surviving hosts keep their EXACT
    // top-HostCap records by (quality desc, file_id, rec_idx) — the
    // deterministic total order reruns must reproduce. Exactness of
    // the group-limited cap vs an unfiltered full rank is spec-pinned on
    // a skewed frame (WebCurationSpec).
    QueryDef(
      "q199_host_curation",
      (s, d) => {
        // slim projection pinned ([[pinSlim]] posture note): the cap
        // keep-set and the verdict join-back would each re-run the
        // decode chain (q122 lesson)
        val recs = pinSlim(wetRecords(s, d)
          .select(col("file_id"), col("rec_idx"), col("host"),
            col("quality")))
        val keepSet =
          capKeepSet(recs.filter(!col("host").isin(Blocklist: _*)), HostCap)
            .withColumn("in_cap", lit(true))
        recs.join(keepSet, Seq("file_id", "rec_idx"), "left")
          .select(col("file_id"), col("rec_idx"), col("host"),
            col("quality"),
            col("host").isin(Blocklist: _*).as("blocked"),
            coalesce(col("in_cap"), lit(false)).as("kept"))
      },
      Some(s"""WITH $WetSql,
             |nb AS (SELECT file_id, rec_idx,
             |         row_number() OVER (PARTITION BY host
             |           ORDER BY quality DESC, file_id, rec_idx) AS rk
             |       FROM w
             |       WHERE host NOT IN ('src7.example.org',
             |                          'src13.example.org'))
             |SELECT w.file_id, w.rec_idx, w.host, w.quality,
             |  w.host IN ('src7.example.org', 'src13.example.org')
             |    AS blocked,
             |  coalesce(nb.rk <= $HostCap, false) AS kept
             |FROM w LEFT JOIN nb
             |  ON w.file_id = nb.file_id AND w.rec_idx = nb.rec_idx"""
        .stripMargin)),

    // ---- q200: URL revisit resolution ----------------------------------
    // A crawl fetches the same URL repeatedly; training ingestion
    // wants ONE copy per page. Latest-fetch-wins ((file_id, rec_idx)
    // max — the crawl's own delivery order), with the version count
    // (distinct bodies seen) kept as the page-volatility signal.
    // One url-keyed exchange + one join back; never a window over
    // the corpus.
    QueryDef(
      "q200_url_revisit",
      (s, d) => {
        // pinned ([[pinSlim]] posture note): the page agg and its
        // join-back share one decode
        val recs = pinSlim(wetRecords(s, d)
          .select(col("file_id"), col("rec_idx"), col("url"),
            md5(col("body")).as("body_md5")))
        val pages = recs.groupBy(col("url"))
          .agg(max(struct(col("file_id"), col("rec_idx"))).as("latest"),
            count(lit(1)).as("n_fetches"),
            countDistinct(col("body_md5")).as("n_versions"))
        recs.join(pages, "url")
          .select(col("file_id"), col("rec_idx"), col("url"),
            col("n_fetches"), col("n_versions"),
            (col("latest.file_id") === col("file_id") &&
              col("latest.rec_idx") === col("rec_idx")).as("is_latest"))
      },
      Some(s"""WITH $WetSql,
             |p AS (SELECT url,
             |        max(file_id * 1000000 + rec_idx) AS latest,
             |        CAST(count(*) AS BIGINT) AS n_fetches,
             |        CAST(count(DISTINCT body_md5) AS BIGINT)
             |          AS n_versions
             |      FROM w GROUP BY url)
             |SELECT file_id, rec_idx, url, n_fetches, n_versions,
             |  file_id * 1000000 + rec_idx = latest AS is_latest
             |FROM w JOIN p USING (url)""".stripMargin)),

    // ---- q201: PII scrub ------------------------------------------------
    // Regex redaction of contact-shaped spans (the Dolma/CCNet scrub
    // step), restricted to the RE2-compatible subset (q63's rule) so
    // Java regex and the oracle's RE2 agree. Pure row-local projection
    // — codegen'd regex over the scan, no exchange; counts land next
    // to the scrubbed hash so the gate proves both detection and
    // replacement. The fixture plants one email + one phone per doc
    // arithmetically (the driver corpus is clean word salad).
    QueryDef(
      "q201_pii_scrub",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+1-555-[0-9]{4}"
        Tables(s, d, "documents")
          .withColumn("t",
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@mail.example.com or +1-555-"),
              lpad(pmod(col("doc_id"), lit(10000L)).cast("string"),
                4, "0")))
          .select(col("doc_id"),
            regexp_count(col("t"), lit(emailRe)).cast("long")
              .as("n_emails"),
            regexp_count(col("t"), lit(phoneRe)).cast("long")
              .as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("t"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("scrubbed_md5"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    text || ' contact user' || doc_id
             |      || '@mail.example.com or +1-555-'
             |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t,
             |    '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |    AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}'))
             |    AS BIGINT) AS n_phones,
             |  md5(regexp_replace(regexp_replace(t,
             |    '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |    '<EMAIL>', 'g'), '\+1-555-[0-9]{4}', '<PHONE>', 'g'))
             |    AS scrubbed_md5
             |FROM t""".stripMargin)),

    // ---- q202: incremental host-budget admission ------------------------
    // The crawl seam's WET machinery under the hash gate: three crawl
    // waves (files split by file_id % 3) flow through
    // [[graft.streaming.CrawlIngest.wetBatch]] against
    // REAL fp + host-counts stores — body-fingerprint dup flags from
    // the pre-fold fp store, first-B-seen admission from the pre-fold
    // admitted counts. The oracle's closed form: admission in
    // delivery order with an admitted-count store saturating at B is
    // EXACTLY "per-host first-seen rank over (wave, file_id, rec_idx)
    // ≤ B" (induction: admitted-so-far = min(B, seen-so-far), so a
    // record is admitted iff its global rank ≤ B). Contrast with
    // q199: a stream admits the first B it SEES; only a batch pass
    // can keep the best B by quality.
    QueryDef(
      "q202_host_budget",
      (s, d) => {
        import graft.streaming.CrawlIngest
        val B = 10
        val (fpT, hostT) = ("q202_fp", "q202_hosts")
        DeltaStore.sweep(s, Seq(fpT, hostT))
        CrawlIngest.writeFpStoreEmpty(s, fpT, 8)
        CrawlIngest.writeHostStore(s, hostT, 8)
        val waves = Seq.newBuilder[DataFrame]
        wetWaves(s, d).foreach { case (wv, files) =>
          require(CrawlIngest.wetBatch(s, files, fpT, hostT, B, wv,
            land = waves += _), s"wave $wv must fold")
        }
        val verdicts = waves.result()
        require(!CrawlIngest.foldWet(s, verdicts.last, fpT, hostT, 3L),
          "replayed wave must be refused")
        verdicts.reduce(_ unionByName _)
          .select(col("file_id"), col("rec_idx"), col("host"),
            col("dup_of_store"), col("dup_in_batch"), col("admitted"))
      },
      Some(s"""WITH $WetSql,
             |wv AS (SELECT *, file_id % 3 AS wave,
             |         file_id * 1000000 + rec_idx AS ck
             |       FROM w),
             |fw AS (SELECT body_md5, min(wave) AS first_wave
             |       FROM wv GROUP BY 1),
             |cn AS (SELECT wave, body_md5, min(ck) AS cck
             |       FROM wv GROUP BY 1, 2),
             |rk AS (SELECT ck, row_number() OVER (PARTITION BY host
             |         ORDER BY wave, file_id, rec_idx) AS rn
             |       FROM wv)
             |SELECT wv.file_id, wv.rec_idx, wv.host,
             |  wv.wave > fw.first_wave AS dup_of_store,
             |  wv.ck <> cn.cck AS dup_in_batch,
             |  rk.rn <= 10 AS admitted
             |FROM wv
             |JOIN fw USING (body_md5)
             |JOIN cn ON wv.wave = cn.wave AND wv.body_md5 = cn.body_md5
             |JOIN rk ON wv.ck = rk.ck""".stripMargin)),

    // ---- q203: web curation capstone -------------------------------------
    // q196's front door made URL-aware — the full chain in ONE
    // hash-gated verdict, stage order fixed (each stage sees only the
    // survivors of the previous one, so reruns reproduce the exact
    // keep set):
    //   1. revisit resolution — latest fetch per URL (q200);
    //   2. exact dedup ACROSS pages — among latest fetches, the
    //      lexicographically-first copy of each body is canonical
    //      (two URLs mirroring one page keep one copy);
    //   3. host blocklist + q196's quality floor;
    //   4. per-host cap by quality (q199) over what's left.
    // Scale shape: two url/fp-keyed exchanges + join-backs, the
    // group-limited cap window, and row-local everything else — no
    // pair joins, no corpus windows, no driver state.
    QueryDef(
      "q203_web_pipeline",
      (s, d) => webVerdicts(wetRecords(s, d), HostCap, Blocklist),
      Some(s"""WITH $WetSql,
             |wv AS (SELECT *, file_id * 1000000 + rec_idx AS ck FROM w),
             |lat AS (SELECT url, max(ck) AS lck FROM wv GROUP BY 1),
             |l AS (SELECT wv.*, wv.ck = lat.lck AS is_latest
             |      FROM wv JOIN lat USING (url)),
             |cn AS (SELECT body_md5, min(ck) AS cck
             |       FROM l WHERE is_latest GROUP BY 1),
             |e AS (SELECT l.*,
             |        l.is_latest AND l.ck = cn.cck AS is_canon,
             |        l.host IN ('src7.example.org', 'src13.example.org')
             |          AS blocked
             |      FROM l LEFT JOIN cn USING (body_md5)),
             |rk AS (SELECT ck, row_number() OVER (PARTITION BY host
             |         ORDER BY quality DESC, file_id, rec_idx) AS rn
             |       FROM e
             |       WHERE is_latest AND is_canon AND NOT blocked
             |         AND quality >= 0.3)
             |SELECT e.file_id, e.rec_idx, e.host, e.quality,
             |  e.is_latest, e.is_canon, e.blocked,
             |  e.is_latest AND e.is_canon AND NOT e.blocked
             |    AND e.quality >= 0.3
             |    AND coalesce(rk.rn <= $HostCap, false) AS keep
             |FROM e LEFT JOIN rk ON e.ck = rk.ck""".stripMargin)),

    // ---- q204: robots-style path rules (longest-prefix wins) -------------
    // Hierarchical allow/deny resolution the way robots.txt semantics
    // work — [[resolveRules]] (longest prefix, host-specific beats
    // '*', exact ties resolve permissively; the rule table here is
    // tie-free because DuckDB's arg_max tie-break is unspecified —
    // see the resolveRules scaladoc). One broadcast join + a
    // per-record argmax, no window, no shuffle beyond the final
    // projection; records ride the scan.
    QueryDef(
      "q204_robots_rules",
      (s, d) => {
        import s.implicits._
        val rules = Seq(
          ("*", "/", true),               // global default: allow
          ("*", "/p7", false),            // /p7* denied everywhere...
          ("src2.example.org", "/p7", true), // ...but src2 re-allows
          ("src3.example.org", "/p1", false), // /p1* denied on src3
          ("src3.example.org", "/p12", true), // longest match wins
          ("src5.example.org", "/", false)    // whole host denied
        ).toDF("r_host", "prefix", "allow")
        resolveRules(
          wetRecords(s, d)
            .select(col("file_id"), col("rec_idx"), col("host"),
              col("path")),
          rules, carry = Seq("host", "path"))
          .filter(col("m.plen").isNotNull) // this oracle keeps matched only
          .select(col("file_id"), col("rec_idx"), col("host"), col("path"),
            col("m.plen").cast("long").as("rule_len"),
            col("m.allow").as("allowed"))
      },
      Some(s"""WITH $WetSql,
             |rules(r_host, prefix, allow) AS (VALUES
             |  ('*', '/', true), ('*', '/p7', false),
             |  ('src2.example.org', '/p7', true),
             |  ('src3.example.org', '/p1', false),
             |  ('src3.example.org', '/p12', true),
             |  ('src5.example.org', '/', false))
             |SELECT file_id, rec_idx, host, path,
             |  CAST(max(len(prefix)) AS BIGINT) AS rule_len,
             |  arg_max(allow, len(prefix) * 2
             |    + CASE WHEN r_host <> '*' THEN 1 ELSE 0 END) AS allowed
             |FROM w JOIN rules
             |  ON (r_host = '*' OR r_host = host)
             | AND starts_with(path, prefix)
             |GROUP BY 1, 2, 3, 4""".stripMargin)),

    // ---- q205: rules at the crawl seam (ingest-enforced robots) ----------
    // q204's resolution DEPLOYED into the WET store path: three waves
    // through wetBatch with a rule table — a disallowed
    // record lands allowed=false, is never admitted, and consumes NO
    // budget (the closed form: admitted iff allowed AND per-host
    // first-seen rank AMONG ALLOWED records ≤ B). A record matching no
    // rule is allowed — the robots default — so the table here
    // deliberately has no '*'/'/' catch-all.
    QueryDef(
      "q205_wet_rules",
      (s, d) => {
        import graft.streaming.CrawlIngest
        import s.implicits._
        val B = 10
        val (fpT, hostT) = ("q205_fp", "q205_hosts")
        DeltaStore.sweep(s, Seq(fpT, hostT))
        CrawlIngest.writeFpStoreEmpty(s, fpT, 8)
        CrawlIngest.writeHostStore(s, hostT, 8)
        val rules = Seq(
          ("*", "/p7", false),
          ("src3.example.org", "/p1", false),
          ("src3.example.org", "/p12", true))
          .toDF("r_host", "prefix", "allow")
        val waves = Seq.newBuilder[DataFrame]
        wetWaves(s, d).foreach { case (wv, files) =>
          require(CrawlIngest.wetBatch(s, files, fpT, hostT, B, wv,
            Some(rules), land = waves += _), s"wave $wv must fold")
        }
        waves.result().reduce(_ unionByName _)
          .select(col("file_id"), col("rec_idx"), col("host"),
            col("allowed"), col("admitted"))
      },
      Some(s"""WITH $WetSql,
             |rules(r_host, prefix, allow) AS (VALUES
             |  ('*', '/p7', false),
             |  ('src3.example.org', '/p1', false),
             |  ('src3.example.org', '/p12', true)),
             |wv AS (SELECT *, file_id % 3 AS wave,
             |         file_id * 1000000 + rec_idx AS ck
             |       FROM w),
             |al AS (SELECT ck, coalesce(arg_max(allow, len(prefix) * 2
             |         + CASE WHEN r_host <> '*' THEN 1 ELSE 0 END), true)
             |         AS allowed
             |       FROM wv LEFT JOIN rules
             |         ON (r_host = '*' OR r_host = host)
             |        AND starts_with(path, prefix)
             |       GROUP BY ck),
             |rk AS (SELECT wv.ck, row_number() OVER (PARTITION BY host
             |         ORDER BY wave, file_id, rec_idx) AS rn
             |       FROM wv JOIN al USING (ck) WHERE al.allowed)
             |SELECT wv.file_id, wv.rec_idx, wv.host, al.allowed,
             |  al.allowed AND coalesce(rk.rn <= 10, false) AS admitted
             |FROM wv
             |JOIN al USING (ck)
             |LEFT JOIN rk ON wv.ck = rk.ck""".stripMargin)),

    // ---- q206: NEAR-duplicate detection at the crawl seam -----------------
    // The round-13 capstone: wet_ingest's exact-md5 dup flag misses a
    // re-crawled page with a tweaked footer — the single most common
    // real-world failure of exact-only web dedup. Three crawl waves
    // run through wetBatch in NEAR mode: each batch's
    // records are LSH-banded (Dedup's q36 scheme over the WET body),
    // assigned to clusters against maintained PRE-fold band +
    // component stores (Dedup.assignFromBands, withinBatch — the
    // q151 semantics incrementalized at the seam), and flagged
    // near_dup_of_store when their cluster contains stored content;
    // both stores fold per wave under the DeltaStore replay contract.
    // The oracle replays the sequential induction exactly: per wave, a
    // recursive-CTE closure of the wave's internal LSH pairs, the min
    // stored-label over band matches into earlier waves, and the
    // batch-component merge rule — labels as assigned at each record's
    // OWN wave (assignment never relabels the store; that is
    // refreshStores' job). Scale shape: band store bucketed on the
    // full (band, h1, h2) collision key, component store on doc_id —
    // batch-sized sides route to the buckets, nothing corpus-sized
    // ever re-shuffles; no pair joins, no corpus windows.
    QueryDef(
      "q206_wet_neardup",
      (s, d) => {
        import graft.streaming.CrawlIngest
        val (fpT, hostT) = ("q206_fp", "q206_hosts")
        val (bandT, compT) = ("q206_bands", "q206_comps")
        DeltaStore.sweep(s, Seq(fpT, hostT, bandT, compT)
          .flatMap(t => Seq(t, DeltaStore.wmTable(t))))
        CrawlIngest.writeFpStoreEmpty(s, fpT, 8)
        CrawlIngest.writeHostStore(s, hostT, 8)
        CrawlIngest.writeNearStoresEmpty(s, bandT, compT, 8)
        val near = Some((bandT, compT))
        val waves = Seq.newBuilder[DataFrame]
        wetWaves(s, d).foreach { case (wv, files) =>
          require(CrawlIngest.wetBatch(s, files, fpT, hostT, 1000000, wv,
            near = near, land = waves += _), s"wave $wv must fold")
        }
        waves.result().reduce(_ unionByName _)
          .select(col("file_id"), col("rec_idx"), col("host"),
            col("dup_of_store"), col("near_comp"),
            col("near_dup_of_store"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.minhashPairsSql},
             |wd AS (SELECT doc_id,
             |         doc_id % 97 AS file_id,
             |         CAST(row_number() OVER (PARTITION BY doc_id % 97
             |           ORDER BY doc_id) - 1 AS BIGINT) AS rec_idx,
             |         (doc_id % 97) % 3 AS wave,
             |         (doc_id % 97) * 1000000
             |           + (row_number() OVER (PARTITION BY doc_id % 97
             |              ORDER BY doc_id) - 1) AS ck,
             |         source || '.example.org' AS host,
             |         md5(text) AS body_md5
             |       FROM documents),
             |fw AS (SELECT body_md5, min(wave) AS first_wave
             |       FROM wd GROUP BY 1),
             |cp AS (SELECT a.ck AS ca, a.wave AS wa, b.ck AS cb,
             |         b.wave AS wb
             |       FROM pairs p JOIN wd a ON p.da = a.doc_id
             |                    JOIN wd b ON p.db = b.doc_id),
             |bw AS (SELECT w.ck, w.wave, b.band, b.h1, b.h2
             |       FROM bands b JOIN wd w USING (doc_id)),
             |sym0 AS (SELECT ca AS a, cb AS b FROM cp
             |         WHERE wa = 0 AND wb = 0
             |         UNION ALL SELECT cb, ca FROM cp
             |         WHERE wa = 0 AND wb = 0),
             |reach0(a, b) AS (SELECT DISTINCT a, a FROM sym0
             |  UNION SELECT r.a, s.b FROM reach0 r JOIN sym0 s
             |    ON r.b = s.a),
             |bk0 AS (SELECT a AS ck, min(b) AS bkey FROM reach0
             |        GROUP BY 1),
             |mem0 AS (SELECT wd.ck, coalesce(bk0.bkey, wd.ck) AS bkey
             |         FROM wd LEFT JOIN bk0 USING (ck)
             |         WHERE wd.wave = 0),
             |lab0 AS (SELECT m.ck, a.fin AS comp, false AS nd
             |         FROM mem0 m JOIN (SELECT bkey, min(ck) AS fin
             |           FROM mem0 GROUP BY 1) a USING (bkey)),
             |m1 AS (SELECT x.ck AS nck, min(l.comp) AS scomp
             |       FROM bw x JOIN bw y ON x.band = y.band
             |         AND x.h1 = y.h1 AND x.h2 = y.h2
             |         AND x.wave = 1 AND y.wave = 0
             |       JOIN lab0 l ON l.ck = y.ck
             |       GROUP BY 1),
             |sym1 AS (SELECT ca AS a, cb AS b FROM cp
             |         WHERE wa = 1 AND wb = 1
             |         UNION ALL SELECT cb, ca FROM cp
             |         WHERE wa = 1 AND wb = 1),
             |reach1(a, b) AS (SELECT DISTINCT a, a FROM sym1
             |  UNION SELECT r.a, s.b FROM reach1 r JOIN sym1 s
             |    ON r.b = s.a),
             |bk1 AS (SELECT a AS ck, min(b) AS bkey FROM reach1
             |        GROUP BY 1),
             |mem1 AS (SELECT wd.ck, coalesce(bk1.bkey, wd.ck) AS bkey,
             |           m1.scomp
             |         FROM wd LEFT JOIN bk1 USING (ck)
             |         LEFT JOIN m1 ON m1.nck = wd.ck
             |         WHERE wd.wave = 1),
             |agg1 AS (SELECT bkey, coalesce(min(scomp), min(ck)) AS fin,
             |           count(scomp) > 0 AS nd
             |         FROM mem1 GROUP BY 1),
             |lab1 AS (SELECT mem1.ck, agg1.fin AS comp, agg1.nd
             |         FROM mem1 JOIN agg1 USING (bkey)),
             |l01 AS (SELECT ck, comp FROM lab0
             |        UNION ALL SELECT ck, comp FROM lab1),
             |m2 AS (SELECT x.ck AS nck, min(l.comp) AS scomp
             |       FROM bw x JOIN bw y ON x.band = y.band
             |         AND x.h1 = y.h1 AND x.h2 = y.h2
             |         AND x.wave = 2 AND y.wave < 2
             |       JOIN l01 l ON l.ck = y.ck
             |       GROUP BY 1),
             |sym2 AS (SELECT ca AS a, cb AS b FROM cp
             |         WHERE wa = 2 AND wb = 2
             |         UNION ALL SELECT cb, ca FROM cp
             |         WHERE wa = 2 AND wb = 2),
             |reach2(a, b) AS (SELECT DISTINCT a, a FROM sym2
             |  UNION SELECT r.a, s.b FROM reach2 r JOIN sym2 s
             |    ON r.b = s.a),
             |bk2 AS (SELECT a AS ck, min(b) AS bkey FROM reach2
             |        GROUP BY 1),
             |mem2 AS (SELECT wd.ck, coalesce(bk2.bkey, wd.ck) AS bkey,
             |           m2.scomp
             |         FROM wd LEFT JOIN bk2 USING (ck)
             |         LEFT JOIN m2 ON m2.nck = wd.ck
             |         WHERE wd.wave = 2),
             |agg2 AS (SELECT bkey, coalesce(min(scomp), min(ck)) AS fin,
             |           count(scomp) > 0 AS nd
             |         FROM mem2 GROUP BY 1),
             |lab2 AS (SELECT mem2.ck, agg2.fin AS comp, agg2.nd
             |         FROM mem2 JOIN agg2 USING (bkey)),
             |u AS (SELECT * FROM lab0 UNION ALL SELECT * FROM lab1
             |      UNION ALL SELECT * FROM lab2)
             |SELECT wd.file_id, wd.rec_idx, wd.host,
             |  wd.wave > fw.first_wave AS dup_of_store,
             |  u.comp AS near_comp, u.nd AS near_dup_of_store
             |FROM wd JOIN u USING (ck) JOIN fw USING (body_md5)"""
        .stripMargin)),

    // ---- q207: quality-classifier inference at the crawl seam -------------
    // Production web curation (the CCNet/fastText recipe) filters on a
    // TRAINED model, not just arithmetic heuristics — wetVerdicts now
    // scores every WET body through q190's fused hashing-trick
    // classifier (zero exchanges; the aggregate() rides the decode
    // scan, so wet_ingest's files/s is untouched) and lands
    // clf_score/clf_keep beside the q32 quality floor. The fused seam
    // arithmetic IS the q193 broadcast-weight-table serving model —
    // record-for-record equality of the two paths is pinned in
    // WebCurationSpec (round-13 verdict item 4: the dual-path count
    // used to run INSIDE this query, doubling its cost at any scale as
    // a permanent driver-blocking gate; the query now serves one
    // pass, the gate is a spec like every other invariant). Output:
    // both quality signals plus the combined keep the downstream
    // chain would apply.
    QueryDef(
      "q207_wet_classifier",
      (s, d) => {
        import graft.streaming.CrawlIngest
        val (fpT, hostT) = ("q207_fp", "q207_hosts")
        DeltaStore.sweep(s,
          Seq(fpT, hostT).flatMap(t => Seq(t, DeltaStore.wmTable(t))))
        CrawlIngest.writeFpStoreEmpty(s, fpT, 8)
        CrawlIngest.writeHostStore(s, hostT, 8)
        CrawlIngest
          .wetVerdicts(s, wetFiles(s, d), fpT, hostT, 1000000, 1L)
          .select(col("file_id"), col("rec_idx"), col("host"),
            col("quality"), col("clf_score"), col("clf_keep"),
            (col("clf_keep") && col("quality") >= 0.3).as("keep"))
      },
      Some(s"""WITH $WetSql,
             |d AS (SELECT doc_id, doc_id % 97 AS file_id,
             |        CAST(row_number() OVER (PARTITION BY doc_id % 97
             |          ORDER BY doc_id) - 1 AS BIGINT) AS rec_idx,
             |        text
             |      FROM documents),
             |toks AS (SELECT file_id, rec_idx,
             |           string_split(text, ' ') AS t FROM d),
             |fe AS (SELECT file_id, rec_idx, u.term AS term
             |       FROM toks, UNNEST(t) AS u(term)
             |       UNION ALL
             |       SELECT file_id, rec_idx, t[g.i] || ' ' || t[g.i + 1]
             |       FROM toks,
             |         UNNEST(generate_series(1,
             |           CAST(len(t) - 1 AS INTEGER))) AS g(i)
             |       WHERE len(t) >= 2),
             |sc AS (SELECT file_id, rec_idx,
             |         CASE WHEN ('0x' || substr(md5('s#' || term), 1, 15))
             |                   ::BIGINT % 2 = 0
             |              THEN 1 ELSE -1 END
             |         * ((('0x' || substr(md5(term), 1, 15))::BIGINT
             |             % 1024) * 2654435761 % 2001 - 1000) AS c
             |       FROM fe),
             |agg AS (SELECT file_id, rec_idx,
             |          CAST(count(*) AS BIGINT) AS n_feat,
             |          CAST(sum(c) AS BIGINT) AS clf_score
             |        FROM sc GROUP BY 1, 2)
             |SELECT w.file_id, w.rec_idx, w.host, w.quality,
             |  a.clf_score, a.clf_score * 20 > a.n_feat AS clf_keep,
             |  a.clf_score * 20 > a.n_feat AND w.quality >= 0.3 AS keep
             |FROM w JOIN agg a USING (file_id, rec_idx)""".stripMargin))
  )
}
