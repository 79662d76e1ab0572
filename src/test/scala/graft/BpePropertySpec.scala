package graft

import scala.util.Random

import graft.operators.Bpe

/** Randomized (seeded, deterministic) property test for the
  * distributed BPE merge learner against a sequential reference
  * implementation: on ANY corpus, the learned merge sequence — pair
  * choice, tie-break, weighted count, greedy left-to-right merge-all
  * application — must equal what single-threaded BPE computes. This
  * is the property that makes the marker-string `replace` encoding
  * trustworthy (shared delimiters and partial-symbol matches are
  * exactly where a naive encoding diverges from real BPE).
  *
  * Shapes covered across the seeds: words with immediate repeats
  * ("aaaa" — the overlapping-occurrence case), short words that
  * exhaust early, skewed word frequencies, and single-char words
  * (which contribute no pairs).
  */
class BpePropertySpec extends SparkSpec {

  /** Textbook sequential BPE on (word, count): k rounds of weighted
    * adjacent-pair counting, argmax with (count DESC, pair ASC)
    * tie-break, greedy left-to-right non-overlapping merge in every
    * word. Stops early when no pairs remain.
    */
  private def referenceBpe(words: Map[String, Long], k: Int)
      : Seq[(Int, String, String, Long)] = {
    var syms: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toVector } {
        case (_, c) => c }(_ + _)
    (1 to k).flatMap { i =>
      val pc = scala.collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (v, c) =>
        v.iterator.sliding(2).withPartial(false).foreach { p =>
          pc((p.head, p(1))) = pc.getOrElse((p.head, p(1)), 0L) + c
        }
      }
      if (pc.isEmpty) None
      else {
        val ((l, r), c) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        syms = syms.toSeq.map { case (v, cw) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < v.length) {
            if (j + 1 < v.length && v(j) == l && v(j + 1) == r) {
              out += (l + r); j += 2
            } else { out += v(j); j += 1 }
          }
          (out.result(), cw)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        Some((i, l, r, c))
      }
    }
  }

  test("distributed merges equal sequential BPE on random corpora") {
    import spark.implicits._
    val rnd = new Random(9157)
    val alphabet = "abc" // small alphabet → dense pair collisions + ties
    for (trial <- 0 until 8) {
      val nDocs = 2 + rnd.nextInt(6)
      val docs = (0 until nDocs).map { _ =>
        val nWords = 1 + rnd.nextInt(12)
        (0 until nWords).map { _ =>
          val len = 1 + rnd.nextInt(6)
          (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        }.mkString(" ")
      }
      val wordCounts = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      val k = 1 + rnd.nextInt(5)
      val want = referenceBpe(wordCounts, k)
      val got = Bpe.mergesOf(docs.toDF("text"), k)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got == want,
        s"trial $trial (k=$k, corpus=${docs.mkString(" | ")}):\n got $got\nwant $want")
    }
  }

  test("immediate-repeat words merge greedily left-to-right (the aaaa case)") {
    import spark.implicits._
    // one doc, word "aaaa" ×3 and "aaa" ×2: merge 1 must be (a,a)
    // counted 3·3+2·2 = 13 occurrences (BPE counts every adjacent
    // pair occurrence), and merge 2 sees "aaaa"→[aa,aa], "aaa"→[aa,a]
    val docs = Seq("aaaa aaaa aaaa aaa aaa").toDF("text")
    val got = Bpe.mergesOf(docs, 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val want = referenceBpe(Map("aaaa" -> 3L, "aaa" -> 2L), 2)
    assert(got == want, s"got $got want $want")
    assert(got.head == ((1, "a", "a", 13L)), got.toString)
    assert(got(1)._2 == "aa", "merge 2 must involve the new symbol")
  }

  test("exhaustion stops the merge list early") {
    import spark.implicits._
    val docs = Seq("ab ab b a").toDF("text")
    // one pair total: (a,b)×2. Asking for 4 merges yields exactly 1.
    val got = Bpe.mergesOf(docs, 4).collect()
    assert(got.length == 1, got.mkString(","))
  }

  // ---- batched mode (q171) -------------------------------------------

  /** Sequential reference for BATCHED-greedy BPE: per pass, count
    * pairs, order by (count DESC, pair ASC), accept every pair that
    * is the strongest for BOTH its symbols (⇔ no stronger pair shares
    * a symbol), cap at m in greedy order, apply the accepted merges
    * in that order (they are symbol-disjoint, so sequential equals
    * simultaneous).
    */
  private def referenceBatchedBpe(words: Map[String, Long], passes: Int,
      m: Int): Seq[(Int, Int, String, String, Long)] = {
    var syms: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toVector } {
        case (_, c) => c }(_ + _)
    def applyMerge(l: String, r: String): Unit = {
      syms = syms.toSeq.map { case (v, cw) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < v.length) {
          if (j + 1 < v.length && v(j) == l && v(j + 1) == r) {
            out += (l + r); j += 2
          } else { out += v(j); j += 1 }
        }
        (out.result(), cw)
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
    (1 to passes).flatMap { i =>
      val pc = scala.collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (v, c) =>
        v.iterator.sliding(2).withPartial(false).foreach { p =>
          pc((p.head, p(1))) = pc.getOrElse((p.head, p(1)), 0L) + c
        }
      }
      val ordered = pc.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }
      def bestFor(sym: String): Option[(String, String)] =
        ordered.collectFirst {
          case ((a, b), _) if a == sym || b == sym => (a, b) }
      val accepted = ordered
        .filter { case ((a, b), _) =>
          bestFor(a).contains((a, b)) && bestFor(b).contains((a, b)) }
        .take(m)
      accepted.zipWithIndex.map { case (((l, r), c), j) =>
        applyMerge(l, r)
        (i, j + 1, l, r, c)
      }
    }
  }

  test("batched merges equal the sequential batched reference") {
    import spark.implicits._
    val rnd = new Random(10171)
    val alphabet = "abc"
    for (trial <- 0 until 6) {
      val nDocs = 2 + rnd.nextInt(6)
      val docs = (0 until nDocs).map { _ =>
        val nWords = 1 + rnd.nextInt(12)
        (0 until nWords).map { _ =>
          val len = 1 + rnd.nextInt(6)
          (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        }.mkString(" ")
      }
      val wordCounts = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      val passes = 1 + rnd.nextInt(4)
      val m = 1 + rnd.nextInt(3)
      val want = referenceBatchedBpe(wordCounts, passes, m)
      val got = Bpe.mergesBatchedOf(docs.toDF("text"), passes, m)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
          r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == want,
        s"trial $trial (passes=$passes, m=$m, corpus=${docs.mkString(" | ")}" +
          s"):\n got $got\nwant $want")
    }
  }

  test("hybrid (local-loop) merges equal the distributed learner") {
    import spark.implicits._
    val rnd = new Random(12176)
    for (trial <- 0 until 4) {
      val docs = (0 until 3 + rnd.nextInt(4)).map { _ =>
        (0 until 1 + rnd.nextInt(10)).map { _ =>
          val len = 1 + rnd.nextInt(6)
          (0 until len).map(_ => "abc" (rnd.nextInt(3))).mkString
        }.mkString(" ")
      }
      val k = 1 + rnd.nextInt(6)
      def report(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).sortBy(_._1).toSeq
      assert(report(Bpe.mergesHybrid(docs.toDF("text"), k))
        === report(Bpe.mergesOf(docs.toDF("text"), k)),
        s"trial $trial (k=$k): hybrid must equal distributed")
    }
  }

  test("hybrid equals distributed on non-BMP corpora (code points + UTF-8 order)") {
    import spark.implicits._
    // U+1D552 (𝕒, supplementary — a surrogate PAIR in UTF-16) vs
    // U+FB00 (ﬀ, BMP above the surrogate range) is exactly where
    // UTF-16 code-unit order and UTF-8/code-point order diverge:
    // the lead surrogate 0xD835 < 0xFB00 says 𝕒 < ﬀ in UTF-16, but
    // code point 0x1D552 > 0xFB00 says ﬀ < 𝕒 in UTF-8 (the order
    // Spark's struct-min and DuckDB compare by). The (𝕒,b)/(ﬀ,b)
    // tie below is decided by that order, and 𝕒𝕒𝕒 only merges
    // correctly if symbols are code points, not UTF-16 units.
    val a = "𝕒" // 𝕒
    val f = "ﬀ" // ﬀ
    val docs = Seq(s"${a}b ${f}b", s"$a$a$a 豆$a").toDF("text")
    def report(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1).toSeq
    for (k <- 1 to 4) {
      val dist = report(Bpe.mergesOf(docs, k))
      assert(report(Bpe.mergesHybrid(docs, k)) === dist,
        s"k=$k: hybrid must equal distributed on non-BMP input")
    }
    // the tie really is decided in UTF-8 order: ﬀ sorts first
    assert(report(Bpe.mergesOf(docs, 4))
      .exists { case (_, l, r, _) => l == f && r == "b" })
  }

  test("hybrid equals distributed at deep k (incremental bookkeeping to exhaustion)") {
    import spark.implicits._
    // The round-11 incremental driver loop (delta pair counts +
    // ordered-set argmax) has state the naive recount never had:
    // stale pair→word registrations, transient tree removals,
    // merge-created symbols chaining into later merges. A deep-k run
    // on a wider alphabet drives all of it through exhaustion and
    // must still equal the distributed learner merge-for-merge.
    val rnd = new Random(13176)
    val docs = (0 until 3).map { _ =>
      (0 until 8).map { _ =>
        val len = 2 + rnd.nextInt(6)
        (0 until len).map(_ => "abcde" (rnd.nextInt(5))).mkString
      }.mkString(" ")
    }
    def report(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val k = 60 // far past exhaustion for this corpus size
    val dist = report(Bpe.mergesOf(docs.toDF("text"), k))
    val hyb = report(Bpe.mergesHybrid(docs.toDF("text"), k))
    assert(hyb === dist, s"deep-k hybrid diverged\n hyb $hyb\ndist $dist")
    assert(dist.length < k, "corpus must exhaust to cover the stop path")
  }

  test("batched pass-1 rank-1 merge equals greedy merge 1 (prefix anchor)") {
    import spark.implicits._
    // The global argmax is by definition the strongest pair for both
    // its symbols, so the dominance accept rule always admits it at
    // rank 1 of pass 1: the batched sequence's first merge equals
    // exact greedy BPE's first merge on ANY corpus — the guaranteed
    // prefix where the two semantics coincide (how far beyond it they
    // agree depends on the corpus).
    val rnd = new Random(14171)
    for (trial <- 0 until 4) {
      val docs = (0 until 3 + rnd.nextInt(4)).map { _ =>
        (0 until 2 + rnd.nextInt(8)).map { _ =>
          val len = 1 + rnd.nextInt(6)
          (0 until len).map(_ => "abcd" (rnd.nextInt(4))).mkString
        }.mkString(" ")
      }
      val greedy1 = Bpe.mergesOf(docs.toDF("text"), 1).collect().head
      val batch1 = Bpe.mergesBatchedOf(docs.toDF("text"), passes = 1, m = 8)
        .orderBy("rk").collect().head
      assert((batch1.getString(2), batch1.getString(3), batch1.getLong(4))
        === ((greedy1.getString(1), greedy1.getString(2), greedy1.getLong(3))),
        s"trial $trial: pass-1 rank-1 must be the greedy argmax")
    }
  }

  test("hybrid maxVocab guard loud-fails instead of collecting") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Bpe.mergesHybrid(Seq("a b c d e f").toDF("text"), 2, maxVocab = 3)
    }
  }

  test("m = 1 batching degenerates to exact greedy BPE") {
    import spark.implicits._
    val rnd = new Random(11171)
    val docs = (0 until 5).map { _ =>
      (0 until 10).map { _ =>
        val len = 1 + rnd.nextInt(5)
        (0 until len).map(_ => "ab" (rnd.nextInt(2))).mkString
      }.mkString(" ")
    }
    val k = 4
    val exact = Bpe.mergesOf(docs.toDF("text"), k).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val batched = Bpe.mergesBatchedOf(docs.toDF("text"), k, 1).collect()
      .map(r => (r.getInt(0), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(batched == exact, s"batched $batched\nexact $exact")
  }
}
