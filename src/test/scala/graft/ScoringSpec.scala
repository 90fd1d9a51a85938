package graft

import graft.pipeline.{Bm25, Dsir, Spans}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the retrieval/selection operators: duplicated-span detection
  * ([[Spans]]), DSIR importance weights ([[Dsir]]), BM25 ranking
  * ([[Bm25]]). Each is cross-checked against an independent plain-Scala
  * reference implementation on handcrafted and random corpora. */
class ScoringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def toks(t: String): Seq[String] = t.trim.split("\\s+").toSeq

  // --- Spans --------------------------------------------------------------

  /** Reference span stats: same windows, same global first-occurrence
    * retention, plain collections. */
  private def refSpans(docs: Seq[(Long, String)], n: Int, stride: Int)
      : Map[Long, (Long, Long, Long)] = {
    val spans = docs.flatMap { case (id, t) =>
      val w = toks(t)
      if (w.length < n) Nil
      else (0 to (w.length - n) by stride).map(st =>
        (id, st.toLong, w.slice(st, st + n).mkString(" ")))
    }
    val occ = spans.groupBy(_._3)
    val keeper = occ.map { case (s, os) => s -> os.map(o => (o._1, o._2)).min }
    spans.groupBy(_._1).map { case (id, ss) =>
      id -> (
        ss.size.toLong,
        ss.count(s => occ(s._3).size >= 2).toLong,
        ss.count(s => keeper(s._3) == ((s._1, s._2))).toLong)
    }
  }

  private def runSpans(docs: Seq[(Long, String)], n: Int, stride: Int) =
    Spans.spanStats(docs.toDF("doc_id", "text"), "doc_id", "text", n, stride)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("span stats match the reference on a handcrafted dup corpus") {
    // doc 1 and 2 share a 4-token span; doc 3 repeats its own span; doc 4
    // is unique; doc 5 is too short for any span
    val docs = Seq(
      1L -> "a b c d x y z w",
      2L -> "q q a b c d r s",
      3L -> "k l m n k l m n",
      4L -> "p1 p2 p3 p4 p5 p6",
      5L -> "t1 t2")
    for ((n, stride) <- Seq((4, 1), (4, 2), (3, 3), (8, 4))) {
      assert(runSpans(docs, n, stride) === refSpans(docs, n, stride),
        s"n=$n stride=$stride")
    }
  }

  test("span stats match the reference on a random corpus with planted floods") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val flood = "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10"
    val docs = (0L until 60L).map { id =>
      val base = Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val t = if (id % 4 == 0) s"$flood ${base.mkString(" ")}" else base.mkString(" ")
      id -> t
    }
    assert(runSpans(docs, 10, 5) === refSpans(docs, 10, 5))
    assert(runSpans(docs, 5, 2) === refSpans(docs, 5, 2))
  }

  test("intra-doc duplicated spans keep exactly the first position") {
    val docs = Seq(10L -> "x y x y x y")
    // n=2, stride=2: spans at 0,2,4 all "x y" -> 3 spans, 3 dup, 1 kept
    assert(runSpans(docs, 2, 2) === Map(10L -> ((3L, 3L, 1L))))
  }

  /** Reference rewrite: non-overlapping n-chunks, global first-occurrence
    * retention on FULL chunks, partial tail always kept. */
  private def refDrop(docs: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, String)] = {
    val chunks = docs.flatMap { case (id, t) =>
      val w = toks(t)
      val nCh = math.max((w.length - 1) / n, 0) + 1
      (0 until nCh).map { ci =>
        val c = w.slice(ci * n, ci * n + n)
        (id, ci.toLong, c.mkString(" "), c.length == n)
      }
    }
    val occ = chunks.filter(_._4).groupBy(_._3)
    val keeper = occ.map { case (s, os) => s -> os.map(o => (o._1, o._2)).min }
    chunks.groupBy(_._1).map { case (id, cs) =>
      val kept = cs.sortBy(_._2).filter(c =>
        !c._4 || occ(c._3).size == 1 || keeper(c._3) == ((c._1, c._2)))
      id -> (
        cs.count(_._4).toLong,
        cs.count(c => c._4 && !kept.contains(c)).toLong,
        kept.map(_._3).mkString(" "))
    }
  }

  test("dropDuplicatedSpans == reference rewrite on handcrafted and random corpora") {
    val docs = Seq(
      1L -> "a b c d x y z w",      // chunk "a b c d" also opens doc 2
      2L -> "a b c d r s",          // loses its first chunk, keeps tail "r s"
      3L -> "k l m n k l m n",      // intra-doc dup: second chunk cut
      4L -> "p1 p2 p3 p4 p5",       // unique + partial tail
      5L -> "t1 t2")                // pure partial: always kept
    for (n <- Seq(2, 4)) {
      val got = Spans.dropDuplicatedSpans(docs.toDF("doc_id", "text"),
          "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      assert(got === refDrop(docs, n), s"n=$n")
    }
    // random corpus with planted floods (same generator as spanStats test)
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    val flood = "f1 f2 f3 f4 f5 f6 f7 f8"
    val rdocs = (0L until 60L).map { id =>
      val base = Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      id -> (if (id % 4 == 0) s"$flood ${base.mkString(" ")}" else base.mkString(" "))
    }
    val got = Spans.dropDuplicatedSpans(rdocs.toDF("doc_id", "text"),
        "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got === refDrop(rdocs, 4))
    // stable under repartitioning
    val again = Spans.dropDuplicatedSpans(
        rdocs.toDF("doc_id", "text").repartition(7), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(again === got)
  }

  test("span param validation and packing guard") {
    val df = Seq(1L -> "a b c").toDF("doc_id", "text")
    intercept[IllegalArgumentException](Spans.spanStats(df, "doc_id", "text", 0, 1))
    intercept[IllegalArgumentException](Spans.spanStats(df, "doc_id", "text", 2, 0))
    val bad = Seq(-1L -> "a b c d").toDF("doc_id", "text")
    val e = intercept[Exception](
      Spans.spanStats(bad, "doc_id", "text", 2, 1).collect())
    assert(e.getMessage.contains("packing range"))
    // a non-numeric id must name the real problem, not "packing range: null"
    val strId = Seq("doc-1" -> "a b c d").toDF("doc_id", "text")
    val e2 = intercept[Exception](
      Spans.spanStats(strId, "doc_id", "text", 2, 1).collect())
    assert(e2.getMessage.contains("non-integral"))
    val e3 = intercept[Exception](
      Spans.dropDuplicatedSpans(strId, "doc_id", "text", 2).collect())
    assert(e3.getMessage.contains("non-integral"))
    // a FRACTIONAL id try_casts successfully but would silently truncate —
    // 1.0 and 1.5 would collide in the (doc_id, pos) packing; must raise
    val fracId = Seq(1.5 -> "a b c d").toDF("doc_id", "text")
    val e4 = intercept[Exception](
      Spans.spanStats(fracId, "doc_id", "text", 2, 1).collect())
    assert(e4.getMessage.contains("non-integral"))
    // an integral-valued double is fine
    val okId = Seq(2.0 -> "a b c d").toDF("doc_id", "text")
    assert(Spans.spanStats(okId, "doc_id", "text", 2, 1).collect().nonEmpty)
  }

  /** Reference exact-substring rewrite: stride-1 windows, global
    * first-occurrence keeper per window text, token dropped iff covered
    * by a non-keeper duplicated window — plain collections. */
  private def refSubstr(docs: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, String)] = {
    val tk = docs.map { case (id, t) => id -> toks(t) }.toMap
    val wins = docs.flatMap { case (id, _) =>
      val w = tk(id)
      if (w.length < n) Nil
      else (0 to w.length - n).map(s => (w.slice(s, s + n).mkString(" "), id, s))
    }
    val byText = wins.groupBy(_._1)
    val drops: Map[Long, Seq[Int]] = byText.values
      .filter(_.size >= 2)
      .flatMap { occs =>
        val keep = occs.minBy(o => o._2 * (1L << 20) + o._3)
        occs.filterNot(_ == keep).map(o => o._2 -> o._3)
      }
      .toSeq.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
    docs.map { case (id, _) =>
      val w = tk(id)
      val ds = drops.getOrElse(id, Nil)
      val kept = w.zipWithIndex.collect {
        case (t, j) if !ds.exists(s => s <= j && j <= s + n - 1) => t
      }
      id -> ((w.size.toLong, (w.size - kept.size).toLong, kept.mkString(" ")))
    }.toMap
  }

  private def runSubstr(docs: Seq[(Long, String)], n: Int) =
    Spans.dropDuplicatedSubstrings(docs.toDF("doc_id", "text"),
        "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

  test("dropDuplicatedSubstrings catches straddling duplicates the chunk grid misses") {
    // a 12-token passage enters doc 1 at offset 2 and doc 2 at offset 1:
    // no n=4 grid chunk of doc 1 equals any chunk of doc 2, so the
    // chunk-grid rewrite drops NOTHING — the alignment hole this tier closes
    val passage = (1 to 12).map(i => s"P$i").mkString(" ")
    val docs = Seq(
      1L -> s"a1 a2 $passage z1 z2",
      2L -> s"b1 $passage y1")
    val gridDrops = Spans.dropDuplicatedSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gridDrops === Map(1L -> 0L, 2L -> 0L),
      "the fixture must actually straddle the n=4 chunk grid")
    val got = runSubstr(docs, 4)
    assert(got === refSubstr(docs, 4))
    assert(got(1L)._3 === s"a1 a2 $passage z1 z2", "first occurrence keeps the passage")
    assert(got(2L) === ((14L, 12L, "b1 y1")), "later occurrence loses exactly the run")
  }

  test("dropDuplicatedSubstrings == reference on handcrafted and random corpora") {
    val docs = Seq(
      1L -> "a b c d x y z w",       // opens with doc 2's infix
      2L -> "q a b c d r",           // loses "a b c d" (keeper is doc 1 pos 0)
      3L -> "k l m n o k l m n o",   // intra-doc: second occurrence cut
      4L -> "p1 p2 p3 p4 p5",        // unique
      5L -> "t1 t2",                 // too short for any window
      6L -> "")                      // empty
    for (n <- Seq(3, 4, 5)) {
      assert(runSubstr(docs, n) === refSubstr(docs, n), s"n=$n")
    }
    // random corpus with passages planted at RANDOM offsets (arbitrary
    // alignment is the whole point)
    val rnd = new scala.util.Random(23)
    val vocab = Vector("u", "v", "w", "x", "y", "z")
    val passage = (1 to 9).map(i => s"F$i")
    val rdocs = (0L until 50L).map { id =>
      val base = Seq.fill(6 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size)))
      val t =
        if (id % 3 == 0) {
          val at = rnd.nextInt(base.length + 1)
          (base.take(at) ++ passage ++ base.drop(at)).mkString(" ")
        } else base.mkString(" ")
      id -> t
    }
    assert(runSubstr(rdocs, 6) === refSubstr(rdocs, 6))
    // stable under repartitioning
    val again = Spans.dropDuplicatedSubstrings(
        rdocs.toDF("doc_id", "text").repartition(7), "doc_id", "text", 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(again === runSubstr(rdocs, 6))
    intercept[IllegalArgumentException](
      Spans.dropDuplicatedSubstrings(docs.toDF("doc_id", "text"), "doc_id", "text", 1))
  }

  /** Reference span scrub: train token dropped iff covered by a stride-1
    * n-window whose text occurs anywhere in the test corpus. */
  private def refScrub(
      train: Seq[(Long, String)], test: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, String)] = {
    val testWins = test.flatMap { case (_, t) =>
      val w = toks(t)
      if (w.length < n) Nil
      else (0 to w.length - n).map(s => w.slice(s, s + n).mkString(" "))
    }.toSet
    train.map { case (id, t) =>
      val w = toks(t)
      val starts =
        if (w.length < n) Nil
        else (0 to w.length - n).filter(s =>
          testWins(w.slice(s, s + n).mkString(" ")))
      val kept = w.zipWithIndex.collect {
        case (tk, j) if !starts.exists(s => s <= j && j <= s + n - 1) => tk
      }
      id -> ((w.size.toLong, (w.size - kept.size).toLong, kept.mkString(" ")))
    }.toMap
  }

  private def runScrub(
      train: Seq[(Long, String)], test: Seq[(Long, String)], n: Int) =
    Spans.scrubSharedSubstrings(train.toDF("doc_id", "text"),
        test.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

  test("scrubSharedSubstrings excises exactly the shared runs, any alignment") {
    val leak = (1 to 10).map(i => s"L$i").mkString(" ")
    val test = Seq(100L -> s"intro $leak outro")
    val train = Seq(
      1L -> s"a1 a2 $leak z1",       // leak at offset 2
      2L -> s"$leak tail",           // leak at offset 0
      3L -> "clean c1 c2 c3 c4 c5",  // untouched
      4L -> "short")                 // below window width
    val got = runScrub(train, test, 4)
    assert(got === refScrub(train, test, 4))
    assert(got(1L) === ((13L, 10L, "a1 a2 z1")), "excise exactly the run")
    assert(got(2L) === ((11L, 10L, "tail")))
    assert(got(3L)._2 === 0L, "clean docs stay whole")
    assert(!got.contains(100L), "test docs are not output")
    // duplicates WITHIN train (no test collision) must NOT be scrubbed —
    // that's dropDuplicatedSubstrings' job, not decontamination's
    val dupTrain = Seq(1L -> "d1 d2 d3 d4 d5", 2L -> "d1 d2 d3 d4 d5")
    assert(runScrub(dupTrain, test, 4).values.forall(_._2 == 0L),
      "train-internal duplication is not contamination")
  }

  test("scrubSharedSubstrings == reference on a random corpus, stable under repartitioning") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("u", "v", "w", "x", "y", "z")
    val bench = (1 to 9).map(i => s"B$i")
    val test = (1000L until 1005L).map { id =>
      id -> (Seq.fill(4)(vocab(rnd.nextInt(vocab.size))) ++ bench ++
        Seq.fill(4)(vocab(rnd.nextInt(vocab.size)))).mkString(" ")
    }
    val train = (0L until 50L).map { id =>
      val base = Seq.fill(6 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size)))
      val t =
        if (id % 4 == 0) {
          val at = rnd.nextInt(base.length + 1)
          (base.take(at) ++ bench ++ base.drop(at)).mkString(" ")
        } else base.mkString(" ")
      id -> t
    }
    assert(runScrub(train, test, 6) === refScrub(train, test, 6))
    val again = Spans.scrubSharedSubstrings(
        train.toDF("doc_id", "text").repartition(7),
        test.toDF("doc_id", "text").repartition(3), "doc_id", "text", 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(again === refScrub(train, test, 6))
    intercept[IllegalArgumentException](
      Spans.scrubSharedSubstrings(train.toDF("doc_id", "text"),
        test.toDF("doc_id", "text"), "doc_id", "text", 1))
  }

  // --- token entropy -------------------------------------------------------

  /** Reference entropy, plain collections + the same FixedLog2 kernel. */
  private def refEntropy(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] =
    docs.filter(d => toks(d._2).nonEmpty).map { case (id, t) =>
      val cs = toks(t).groupBy(identity).values.map(_.size.toLong).toSeq
      val n = cs.sum
      val s = cs.map(c =>
        math.floor(1e6 * c * graft.expressions.FixedLog2.log2(c.toDouble)).toLong).sum
      val a = n * math.floor(1e6 * graft.expressions.FixedLog2.log2(n.toDouble)).toLong
      id -> ((n, cs.size.toLong, math.max(a - s, 0L) / n))
    }.toMap

  test("tokenEntropy matches the fixed-point reference; extremes behave") {
    val docs = Seq(
      1L -> "a a a a a a a a",          // single type: entropy 0 (clamped knife edge)
      2L -> "a b c d e f g h",          // uniform over 8: exactly ~3 bits
      3L -> "a a a a b b c d",          // skewed
      4L -> "x")                        // one token: n=1, entropy 0
    val got = graft.pipeline.TextAnalysis.tokenEntropy(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === refEntropy(docs))
    assert(got(1L)._3 === 0L, "degenerate distribution has zero entropy")
    assert(math.abs(got(2L)._3 - 3000000L) < 5000,
      "uniform over 8 types is ~3.0 bits")
    assert(got(3L)._3 > 0L && got(3L)._3 < got(2L)._3,
      "skew strictly lowers entropy")
    // random corpora, repartition stability
    val rnd = new scala.util.Random(41)
    val vocab = Vector("u", "v", "w", "x", "y", "z")
    val rdocs = (0L until 60L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val a = graft.pipeline.TextAnalysis.tokenEntropy(
        rdocs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(a === refEntropy(rdocs))
    val b = graft.pipeline.TextAnalysis.tokenEntropy(
        rdocs.toDF("doc_id", "text").repartition(7), "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(b === a)
  }

  // --- Dsir ---------------------------------------------------------------

  /** Reference importance weights, plain collections. */
  private def refDsir(docs: Seq[(Long, String, Boolean)])
      : Map[Long, (Boolean, Long, Long)] = {
    val all = docs.flatMap { case (_, t, tgt) => toks(t).map(_ -> tgt) }
    val cRaw = all.groupBy(_._1).map { case (w, xs) => w -> xs.size.toLong }
    val cTgt = all.groupBy(_._1).map { case (w, xs) => w -> xs.count(_._2).toLong }
    val nRaw = all.size.toLong
    val nTgt = all.count(_._2).toLong
    val v = cRaw.size.toLong
    def lr(w: String): Long = math.floor(1e6 * graft.expressions.FixedLog2.log2(
      ((cTgt(w).toDouble + 1.0) * (nRaw.toDouble + v.toDouble)) /
        ((cRaw(w).toDouble + 1.0) * (nTgt.toDouble + v.toDouble)))).toLong
    docs.map { case (id, t, tgt) =>
      id -> ((tgt, toks(t).size.toLong, toks(t).map(lr).sum))
    }.toMap
  }

  private def runDsir(docs: Seq[(Long, String, Boolean)]) =
    Dsir.importanceWeights(
      docs.toDF("doc_id", "text", "tgt"), "doc_id", "text", col("tgt"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("importance weights match the reference and rank target-like docs first") {
    val docs = Seq(
      (1L, "good clean prose good clean", true),
      (2L, "good clean text here", true),
      (3L, "spam spam spam buy now", false),
      (4L, "good clean prose mostly", false),
      (5L, "buy spam now now now", false))
    val got = runDsir(docs)
    assert(got === refDsir(docs))
    // the target-like raw doc outweighs the spammy ones
    assert(got(4L)._3 > got(3L)._3 && got(4L)._3 > got(5L)._3)
  }

  test("importance weights match the reference on a random corpus") {
    val rnd = new scala.util.Random(11)
    val tgtVocab = Vector("alpha", "beta", "gamma")
    val rawVocab = Vector("alpha", "noise", "junk", "filler")
    val docs = (0L until 80L).map { id =>
      val tgt = id % 3 == 0
      val vocab = if (tgt) tgtVocab else rawVocab
      val t = Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id, t, tgt)
    }
    assert(runDsir(docs) === refDsir(docs))
  }

  /** Reference bucketed weights: same md5-prefix bucketing as
    * Dsir.featureBucket computed with java.security (independent of Spark),
    * counts by bucket, smoothing V = numBuckets. */
  private def refBucket(w: String, numBuckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16) % numBuckets
  }

  private def refDsirHashed(docs: Seq[(Long, String, Boolean)], numBuckets: Int)
      : Map[Long, (Boolean, Long, Long)] = {
    val all = docs.flatMap { case (_, t, tgt) =>
      toks(t).map(w => refBucket(w, numBuckets) -> tgt) }
    val cRaw = all.groupBy(_._1).map { case (f, xs) => f -> xs.size.toLong }
    val cTgt = all.groupBy(_._1).map { case (f, xs) => f -> xs.count(_._2).toLong }
    val nRaw = all.size.toLong
    val nTgt = all.count(_._2).toLong
    val v = numBuckets.toLong
    def lr(f: Long): Long = math.floor(1e6 * graft.expressions.FixedLog2.log2(
      ((cTgt(f).toDouble + 1.0) * (nRaw.toDouble + v.toDouble)) /
        ((cRaw(f).toDouble + 1.0) * (nTgt.toDouble + v.toDouble)))).toLong
    docs.map { case (id, t, tgt) =>
      id -> ((tgt, toks(t).size.toLong,
        toks(t).map(w => lr(refBucket(w, numBuckets))).sum))
    }.toMap
  }

  private def runDsirHashed(docs: Seq[(Long, String, Boolean)], numBuckets: Int) =
    Dsir.importanceWeightsHashed(
      docs.toDF("doc_id", "text", "tgt"), "doc_id", "text", col("tgt"), numBuckets)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("hashed importance weights match an independent bucketed reference") {
    val docs = Seq(
      (1L, "good clean prose good clean", true),
      (2L, "good clean text here", true),
      (3L, "spam spam spam buy now", false),
      (4L, "good clean prose mostly", false),
      (5L, "buy spam now now now", false))
    // 16 buckets forces collisions; the reference buckets identically
    for (b <- Seq(16, 8192)) {
      assert(runDsirHashed(docs, b) === refDsirHashed(docs, b), s"numBuckets=$b")
    }
  }

  test("hashed weights agree with raw-unigram weights when collision-free") {
    val rnd = new scala.util.Random(23)
    val tgtVocab = Vector("alpha", "beta", "gamma")
    val rawVocab = Vector("alpha", "noise", "junk", "filler", "web", "crawl")
    val docs = (0L until 120L).map { id =>
      val tgt = id % 4 == 0
      val vocab = if (tgt) tgtVocab else rawVocab
      val t = Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id, t, tgt)
    }
    val b = 1 << 20
    // the corpus vocabulary maps into distinct buckets at this size, so
    // per-feature counts are identical and hashed vs raw weights differ
    // ONLY via the smoothing V (2^20 vs the observed vocab size): every
    // per-token ratio shifts by the same constant K = log2((Nr+V)/(Nt+V)),
    // so per doc the two weights differ by n_tokens*K*1e6 up to ±1 floor
    // jitter and ~1 fixed-log quantum per token — a checkable relationship
    val words = docs.flatMap(d => toks(d._2)).distinct
    assert(words.map(refBucket(_, b)).distinct.size === words.size,
      "test premise: no bucket collisions at 2^20")
    assert(runDsirHashed(docs, b) === refDsirHashed(docs, b))
    val all = docs.flatMap(d => toks(d._2).map(_ -> d._3))
    val nRaw = all.size.toDouble
    val nTgt = all.count(_._2).toDouble
    def kOf(v: Double): Double = math.log((nRaw + v) / (nTgt + v)) / math.log(2.0)
    val deltaE6 = 1e6 * (kOf(words.size.toDouble) - kOf(b.toDouble))
    val rawW = runDsir(docs)
    val hashW = runDsirHashed(docs, b)
    for ((id, (_, n, wR)) <- rawW) {
      val wH = hashW(id)._3
      assert(math.abs((wR - wH) - n * deltaE6) <= 2.0 * n.toDouble + 2.0,
        s"doc $id: raw $wR vs hashed $wH (n=$n, expected shift ${n * deltaE6})")
    }
  }

  test("featureBucket validates the bucket range") {
    intercept[IllegalArgumentException](Dsir.featureBucket(col("w"), 1))
    intercept[IllegalArgumentException](Dsir.featureBucketSql("w", 1))
  }

  // --- FixedLog2 (the deterministic log that replaced ln()) ---------------

  test("FixedLog2 kernel: exact on powers of two, tracks log2, dyadic output") {
    import graft.expressions.FixedLog2
    assert(FixedLog2.log2(1.0) === 0.0)
    assert(FixedLog2.log2(2.0) === 1.0)
    assert(FixedLog2.log2(1024.0) === 10.0)
    assert(FixedLog2.log2(0.25) === -2.0)
    assert(FixedLog2.log2(math.pow(2, 100)) === 100.0)
    assert(FixedLog2.log2(math.pow(2, -100)) === -100.0)
    assert(FixedLog2.log2(0.0).isNaN && FixedLog2.log2(-3.0).isNaN)
    assert(FixedLog2.log2(Double.NaN).isNaN)
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 2000) {
      // ratios across the whole range the scorers produce
      val x = math.exp(rnd.nextDouble() * 80.0 - 40.0)
      val got = FixedLog2.log2(x)
      val want = math.log(x) / math.log(2.0)
      // truncation to 20 fraction bits (< 2^-20) plus squaring rounding
      assert(got <= want + 1e-9 && want - got <= 1.1e-6, s"x=$x got=$got want=$want")
      // the result is an exact dyadic with <= 20 fractional bits
      val scaled = got * (1 << 20)
      assert(scaled === math.rint(scaled), s"x=$x: $got is not 20-bit dyadic")
    }
  }

  test("FixedLog2 is callable from SQL and matches the kernel") {
    import graft.expressions.FixedLog2
    TopnFunctions.register(spark)
    val got = spark.sql("SELECT fixed_log2(CAST(10.0 AS DOUBLE)) AS lg")
      .head.getDouble(0)
    assert(got === FixedLog2.log2(10.0))
    val e = intercept[Exception](
      spark.sql("SELECT fixed_log2('x')").collect())
    assert(e.getMessage.contains("fixed_log2 requires DOUBLE"))
  }

  test("FixedLog2 SQL chain replays the kernel bit-for-bit") {
    import graft.expressions.FixedLog2
    val rnd = new scala.util.Random(17)
    val xs = Seq(1.0, 2.0, 0.25, 1.5, 3.1415926, 1e-12, 1e12) ++
      (1 to 50).map(_ => math.exp(rnd.nextDouble() * 60.0 - 30.0))
    xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("id", "x").createOrReplaceTempView("fixedlog_input")
    val (stages, fin) = FixedLog2.sqlCtes("q", "src", "x", Seq("id"))
    // Spark SQL executes the generated chain with the same IEEE ops the
    // DuckDB oracle runs; equality with the kernel validates every stage
    val got = spark.sql(
      s"WITH src AS (SELECT id, x FROM fixedlog_input),\n$stages\n" +
        s"SELECT id, lg FROM $fin")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    xs.zipWithIndex.foreach { case (x, i) =>
      assert(got(i.toLong) === FixedLog2.log2(x), s"x=$x")
    }
  }

  test("selectTopK keeps the k best raw docs, ties by doc_id, and validates k") {
    val docs = Seq(
      (1L, "alpha alpha", true),
      (2L, "alpha alpha", false),
      (3L, "junk junk", false),
      (4L, "alpha alpha", false))
    val w = Dsir.importanceWeights(
      docs.toDF("doc_id", "text", "tgt"), "doc_id", "text", col("tgt"))
    val top = Dsir.selectTopK(w, 2).select("doc_id").as[Long].collect()
    assert(top.toSeq === Seq(2L, 4L)) // equal weights -> id order; 3 excluded
    intercept[IllegalArgumentException](Dsir.selectTopK(w, 0))
  }

  // --- Bm25 ---------------------------------------------------------------

  /** Reference BM25 (same formula and fixed point), plain collections. */
  private def refBm25(
      docs: Seq[(Long, String)], terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Long] = {
    val lens = docs.map { case (_, t) => toks(t).size.toLong }
    val nDocs = docs.size.toDouble
    val avg = lens.sum.toDouble / nDocs
    val dfs = terms.map(t => docs.count { case (_, d) => toks(d).contains(t) }.toDouble)
    docs.map { case (id, d) =>
      val len = toks(d).size.toDouble
      val s = terms.zip(dfs).map { case (t, df) =>
        val idf = graft.expressions.FixedLog2.log2(1.0 + (nDocs - df + 0.5) / (df + 0.5))
        val tf = toks(d).count(_ == t).toDouble
        idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (len / avg))))
      }.reduceLeft(_ + _)
      id -> math.floor(1e6 * s).toLong
    }.toMap
  }

  test("bm25 scores match the reference, hide term-free docs, and rank by relevance") {
    val docs = Seq(
      1L -> "spark joins data with spark shuffles",
      2L -> "spark appears once here",
      3L -> "nothing relevant at all",
      4L -> "query engines join tables",
      5L -> "spark spark spark spark")
    val terms = Seq("spark", "join")
    val ref = refBm25(docs, terms)
    val got = Bm25.scores(docs.toDF("doc_id", "text"), "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === ref.filter(_._2 > 0))
    assert(!got.contains(3L)) // no query term -> absent
    assert(got(5L) > got(2L)) // higher tf, shorter doc -> higher score
  }

  test("bm25 topK is deterministic with ties broken by doc_id") {
    val docs = Seq(
      1L -> "w x", 2L -> "w x", 3L -> "w x", // identical docs tie exactly
      4L -> "y z")
    val top = Bm25.topK(docs.toDF("doc_id", "text"), "doc_id", "text", Seq("w"), 2)
      .select("doc_id").as[Long].collect()
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("bm25 parameter validation") {
    val df = Seq(1L -> "a").toDF("doc_id", "text")
    intercept[IllegalArgumentException](Bm25.scores(df, "doc_id", "text", Nil))
    intercept[IllegalArgumentException](
      Bm25.scores(df, "doc_id", "text", Seq("a", "a")))
    intercept[IllegalArgumentException](
      Bm25.scores(df, "doc_id", "text", Seq("a"), k1 = 0.0))
    intercept[IllegalArgumentException](
      Bm25.scores(df, "doc_id", "text", Seq("a"), b = 1.5))
    intercept[IllegalArgumentException](
      Bm25.topK(df, "doc_id", "text", Seq("a"), 0))
  }

  // --- Classifier (trainable quality filter) ------------------------------

  /** Reference classifier: the identical exact-integer GD recurrence in
    * plain collections — same md5 bucket ([[refBucket]]), presence
    * features + bias, clamp, Math.floorDiv everywhere the plan floors. */
  private def refClassifier(
      docs: Seq[(Long, String, Boolean)],
      numBuckets: Int, iters: Int,
      etaNum: Long, etaDen: Long,
      bigrams: Boolean = false): Map[Long, (Boolean, Long)] = {
    import graft.pipeline.Classifier.{BiasFeature, ClampE6}
    val feats: Map[Long, Set[Long]] = docs.map { case (id, t, _) =>
      val ts = toks(t)
      val grams =
        if (bigrams) ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
        else ts
      id -> (grams.map(w => refBucket(w, numBuckets)).toSet + BiasFeature)
    }.toMap
    val y = docs.map { case (id, _, tg) =>
      id -> (if (tg) 1000000L else 0L) }.toMap
    val n = docs.size.toLong
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    for (_ <- 1 to iters) {
      val yhat = feats.map { case (id, fs) => id -> fs.toSeq.map(w).sum }
      val gc = y.keys.map { id =>
        val r = math.max(-ClampE6, math.min(ClampE6, yhat(id) - y(id)))
        id -> Math.floorDiv(r * 1000000L, n)
      }.toMap
      val g = feats.toSeq
        .flatMap { case (id, fs) => fs.map(f => f -> gc(id)) }
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sum }
      w = w ++ g.map { case (f, gv) =>
        f -> (w(f) - Math.floorDiv(etaNum * gv, etaDen * 1000000L)) }
    }
    docs.map { case (id, _, tg) =>
      id -> ((tg, feats(id).toSeq.map(w).sum)) }.toMap
  }

  private def runClassifier(
      docs: Seq[(Long, String, Boolean)],
      numBuckets: Int, iters: Int = 3,
      etaNum: Long = 1L, etaDen: Long = 256L,
      partitions: Int = 4) = {
    import graft.pipeline.Classifier
    Classifier.trainScores(
      docs.toDF("doc_id", "text", "tgt").repartition(partitions),
      "doc_id", "text", col("tgt"), numBuckets, iters, etaNum, etaDen)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2))))
      .toMap
  }

  test("classifier scores match the exact-integer reference, collisions included") {
    val docs = Seq(
      (1L, "good clean prose good clean", true),
      (2L, "good clean text here", true),
      (3L, "spam spam spam buy now", false),
      (4L, "good clean prose mostly", false),
      (5L, "buy spam now now now", false),
      (6L, "", false))
    // 8 buckets forces collisions; the recurrence is exact either way
    for (b <- Seq(8, 4096)) {
      assert(runClassifier(docs, b) === refClassifier(docs, b, 3, 1L, 256L),
        s"numBuckets=$b")
    }
  }

  test("classifier matches the reference on a random corpus and separates the slices") {
    val rnd = new scala.util.Random(37)
    val tgtVocab = Vector("alpha", "beta", "gamma", "delta")
    val rawVocab = Vector("alpha", "noise", "junk", "filler", "web")
    val docs = (0L until 90L).map { id =>
      val tgt = id % 3 == 0
      val vocab = if (tgt) tgtVocab else rawVocab
      val t = Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id, t, tgt)
    }
    val got = runClassifier(docs, 4096, iters = 4)
    assert(got === refClassifier(docs, 4096, 4, 1L, 256L))
    val (tgtScores, rawScores) = got.values.partition(_._1)
    val tgtMean = tgtScores.map(_._2).sum / tgtScores.size
    val rawMean = rawScores.map(_._2).sum / rawScores.size
    assert(tgtMean > rawMean,
      s"trained scores should separate the slices: target $tgtMean vs raw $rawMean")
  }

  test("classifier training is exact under repartitioning") {
    val docs = Seq(
      (1L, "x y z", true), (2L, "x q", false), (3L, "z z y", true),
      (4L, "q r s", false), (5L, "y", false))
    assert(runClassifier(docs, 64, partitions = 1) ===
      runClassifier(docs, 64, partitions = 7))
  }

  test("classifier weight table is bounded and every doc is scored") {
    import graft.pipeline.Classifier
    val docs = (0L until 40L)
      .map(id => (id, s"w$id common token$id", id % 4 == 0))
    val w = Classifier.train(
      docs.toDF("doc_id", "text", "tgt"), "doc_id", "text", col("tgt"),
      numBuckets = 16, iters = 2)
    assert(w.count() <= 17) // 16 buckets + bias
    assert(runClassifier(docs, 16, iters = 2).size === 40)
  }

  test("classifier weights persist and score identically after reload") {
    import graft.pipeline.Classifier
    val docs = Seq(
      (1L, "alpha beta gamma", true), (2L, "noise junk web", false),
      (3L, "alpha beta junk", true), (4L, "web web noise", false))
      .toDF("doc_id", "text", "tgt")
    val w = Classifier.train(docs, "doc_id", "text", col("tgt"),
      numBuckets = 64, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("clsmodel").toString
    Classifier.save(Classifier.Model(w, 64), s"$dir/m")
    val loaded = Classifier.load(s"$dir/m", spark)
    // the bucket count travels with the model — scoring cannot re-hash
    // into a mismatched feature space
    assert(loaded.numBuckets === 64)
    // integer weights round-trip exactly; frozen-model scoring matches
    // the train-time scores
    val direct = Classifier.trainScores(docs, "doc_id", "text", col("tgt"),
      numBuckets = 64, iters = 3)
      .select($"doc_id", $"score_e6").as[(Long, Long)].collect().toMap
    val frozen = Classifier.score(docs, "doc_id", "text", loaded)
      .as[(Long, Long)].collect().toMap
    assert(frozen === direct)
    // layout drift fails fast, names and types both
    Seq(1L -> "x").toDF("f", "w")
      .write.mode("overwrite").parquet(s"$dir/bad/weights")
    Seq(64L).toDF("num_buckets")
      .write.mode("overwrite").parquet(s"$dir/bad/meta")
    intercept[IllegalArgumentException](Classifier.load(s"$dir/bad", spark))
    w.select($"f".cast("int").as("f"), $"w_e6".cast("int").as("w_e6"))
      .write.mode("overwrite").parquet(s"$dir/narrowed/weights")
    Seq(64L).toDF("num_buckets")
      .write.mode("overwrite").parquet(s"$dir/narrowed/meta")
    intercept[IllegalArgumentException](Classifier.load(s"$dir/narrowed", spark))
  }

  test("scoreColumn equals the join-based scorer row for row") {
    import graft.pipeline.Classifier
    val docs = Seq(
      (1L, "alpha beta alpha", true), (2L, "noise junk", false),
      (3L, "", false), (4L, "alpha junk web noise", true))
      .toDF("doc_id", "text", "tgt")
    val w = Classifier.train(docs, "doc_id", "text", col("tgt"),
      numBuckets = 32, iters = 3)
    val model = Classifier.Model(w, 32)
    val viaJoin = Classifier.score(docs, "doc_id", "text", model)
      .as[(Long, Long)].collect().toMap
    val viaColumn = docs.select($"doc_id",
      Classifier.scoreColumn($"text", model).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(viaColumn === viaJoin)
  }

  test("bigram features match the reference and discriminate word order") {
    import graft.pipeline.Classifier
    // docs 1 and 2 share one unigram multiset in opposite orders: unigram
    // training cannot tell them apart, bigram training must
    val docs = Seq(
      (1L, "peer reviewed study results", true),
      (2L, "results study reviewed peer", false),
      (3L, "click here buy now", false),
      (4L, "study results peer reviewed", true),
      (5L, "x", false), (6L, "", false))
    def run(bg: Boolean) = Classifier.trainScores(
      docs.toDF("doc_id", "text", "tgt").repartition(5),
      "doc_id", "text", col("tgt"), numBuckets = 4096, iters = 3,
      bigrams = bg)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    // exact-integer reference equality in BOTH modes (collisions included)
    assert(run(false) === refClassifier(docs, 4096, 3, 1L, 256L))
    val got = run(true)
    assert(got === refClassifier(docs, 4096, 3, 1L, 256L, bigrams = true))
    // unigram scores of the order-swapped pair are identical...
    val uni = run(false)
    assert(uni(1L)._2 === uni(2L)._2)
    // ...bigram scores are not, and favor the target-ordered doc
    assert(got(1L)._2 > got(2L)._2)
  }

  test("bigram flag travels with the model: score/scoreColumn parity and save/load") {
    import graft.pipeline.Classifier
    val docs = Seq(
      (1L, "peer reviewed work", true), (2L, "work reviewed peer", false),
      (3L, "click here now", false), (4L, "", false))
      .toDF("doc_id", "text", "tgt")
    val w = Classifier.train(docs, "doc_id", "text", col("tgt"),
      numBuckets = 64, iters = 3, bigrams = true)
    val model = Classifier.Model(w, 64, bigrams = true)
    val viaJoin = Classifier.score(docs, "doc_id", "text", model)
      .as[(Long, Long)].collect().toMap
    val viaColumn = docs.select($"doc_id",
      Classifier.scoreColumn($"text", model).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(viaColumn === viaJoin)
    // the flag round-trips through save/load; a reloaded model scores
    // identically (dropping the flag would silently re-bucket every doc)
    val dir = java.nio.file.Files.createTempDirectory("clsmodel_bg").toString
    Classifier.save(model, s"$dir/m")
    val loaded = Classifier.load(s"$dir/m", spark)
    assert(loaded.bigrams && loaded.numBuckets === 64)
    val reloaded = Classifier.score(docs, "doc_id", "text", loaded)
      .as[(Long, Long)].collect().toMap
    assert(reloaded === viaJoin)
    // and the unigram spelling of the same weights scores DIFFERENTLY on
    // multi-token docs — the reason the flag is part of the model
    val wrong = Classifier.score(docs, "doc_id", "text",
      Classifier.Model(w, 64, bigrams = false))
      .as[(Long, Long)].collect().toMap
    assert(wrong(1L) !== viaJoin(1L))
  }

  test("classifier parameter validation") {
    import graft.pipeline.Classifier
    val df = Seq((1L, "a", true)).toDF("doc_id", "text", "tgt")
    intercept[IllegalArgumentException](
      Classifier.train(df, "doc_id", "text", col("tgt"), iters = 0))
    intercept[IllegalArgumentException](
      Classifier.train(df, "doc_id", "text", col("tgt"), etaNum = 0L))
    intercept[IllegalArgumentException](
      Classifier.train(df, "doc_id", "text", col("tgt"), etaDen = -1L))
    // etaNum > 9 would leave the 2^53 exact-division window
    intercept[IllegalArgumentException](
      Classifier.train(df, "doc_id", "text", col("tgt"), etaNum = 10L))
    intercept[IllegalArgumentException](
      graft.pipeline.Classifier.classifierSql("lang = 'en'", etaDen = 0L))
    intercept[IllegalArgumentException](
      Classifier.trainScores(df.filter(col("doc_id") < 0L),
        "doc_id", "text", col("tgt")))
    // scoreColumn refuses to embed a large-bucket weight table in the plan
    val bigModel = Classifier.Model(
      Seq((Classifier.BiasFeature, 0L)).toDF("f", "w_e6"),
      Classifier.MaxScoreColumnBuckets * 2)
    val eB = intercept[IllegalArgumentException](
      Classifier.scoreColumn(col("text"), bigModel))
    assert(eB.getMessage.contains("score()"))
    // reliable checkpointing needs a checkpoint dir set first
    intercept[IllegalArgumentException](
      Classifier.train(df, "doc_id", "text", col("tgt"), reliableCheckpoint = true))
  }

  // --- multi-class (one-vs-rest) language-ID ------------------------------

  /** Reference one-vs-rest: the per-class recurrence IS [[refClassifier]]
    * run once per distinct label (the literal definition of one-vs-rest),
    * then pinned argmax (score desc, class asc). Equality against the
    * joint Spark loop proves the shared-scan formulation exact. */
  private def refMulti(
      docs: Seq[(Long, String, String)],
      numBuckets: Int, iters: Int,
      etaNum: Long = 1L, etaDen: Long = 256L): Map[Long, (String, String, Long)] = {
    val classes = docs.map(_._3).distinct.sorted
    val perClass: Map[String, Map[Long, Long]] = classes.map { c =>
      c -> refClassifier(
        docs.map { case (id, t, l) => (id, t, l == c) },
        numBuckets, iters, etaNum, etaDen)
        .map { case (id, (_, s)) => id -> s }
    }.toMap
    docs.map { case (id, _, actual) =>
      val best = classes.map(c => (c, perClass(c)(id)))
        .minBy { case (c, s) => (-s, c) }
      id -> ((actual, best._1, best._2))
    }.toMap
  }

  private def runMulti(
      docs: Seq[(Long, String, String)],
      numBuckets: Int, iters: Int = 3,
      partitions: Int = 4): Map[Long, (String, String, Long)] = {
    import graft.pipeline.Classifier
    Classifier.trainMultiPredictions(
      docs.toDF("doc_id", "text", "lang").repartition(partitions),
      "doc_id", "text", "lang", numBuckets, iters)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
      .toMap
  }

  test("multi-class LID matches the per-class reference, collisions included") {
    val docs = Seq(
      (1L, "the cat and the dog", "en"),
      (2L, "le chat et le chien", "fr"),
      (3L, "el gato y el perro", "es"),
      (4L, "the dog and the cat ran", "en"),
      (5L, "le chien et le chat", "fr"),
      (6L, "el perro y el gato", "es"),
      (7L, "", "en"))
    for (b <- Seq(8, 4096)) {
      assert(runMulti(docs, b) === refMulti(docs, b, 3), s"numBuckets=$b")
    }
  }

  test("multi-class LID recovers the labels on a random corpus, exactly as the reference") {
    val rnd = new scala.util.Random(41)
    val vocabs = Map(
      "aa" -> Vector("alpha", "apex", "arc", "any"),
      "bb" -> Vector("bolt", "bay", "bin", "bog"),
      "cc" -> Vector("cog", "cap", "cut", "cry"))
    val langs = vocabs.keys.toVector.sorted
    val docs = (0L until 120L).map { id =>
      val l = langs((id % 3).toInt)
      val v = vocabs(l)
      (id, Seq.fill(4 + rnd.nextInt(8))(v(rnd.nextInt(v.size))).mkString(" "), l)
    }
    val got = runMulti(docs, 4096, iters = 4)
    assert(got === refMulti(docs, 4096, 4))
    // separable vocabularies: the trained model must actually identify them
    val acc = got.count { case (_, (a, p, _)) => a == p }
    assert(acc >= 110, s"trained LID should recover separable labels, got $acc/120")
  }

  test("multi-class training is exact under repartitioning") {
    val docs = Seq(
      (1L, "x y z", "a"), (2L, "x q", "b"), (3L, "z z y", "a"),
      (4L, "q r s", "c"), (5L, "y", "b"))
    assert(runMulti(docs, 64, partitions = 1) === runMulti(docs, 64, partitions = 7))
  }

  test("binary training equals the target head of one-vs-rest over a target/rest label") {
    import graft.pipeline.Classifier
    // the binary model is one head of one-vs-rest: same targets, clamp,
    // floor divisions and bucket space; a NULL isTarget trains as 0, i.e.
    // as "rest"
    val docs = Seq(
      (1L, "good clean prose good clean", Some(true)),
      (2L, "good clean text here", Some(true)),
      (3L, "spam spam spam buy now", Some(false)),
      (4L, "good clean prose mostly", None),
      (5L, "buy spam now now now clean", Some(false)),
      (6L, "", None),
      (7L, "clean prose here now", Some(true))).toDF("doc_id", "text", "tgt")
    val labeled = docs.withColumn("lbl", when($"tgt", "t").otherwise("r"))
    for (bigrams <- Seq(false, true)) {
      val binary = Classifier.train(docs, "doc_id", "text", $"tgt",
        numBuckets = 32, iters = 4, etaNum = 3L, etaDen = 50L, bigrams = bigrams)
      val head = Classifier.trainMulti(labeled, "doc_id", "text", "lbl",
        numBuckets = 32, iters = 4, etaNum = 3L, etaDen = 50L, bigrams = bigrams)
        .filter($"cls" === "t").select($"f", $"w_e6")
      val got = binary.as[(Long, Long)].collect().sorted.toSeq
      assert(got.exists(_._2 != 0L), "premise: training moved the weights")
      assert(got === head.as[(Long, Long)].collect().sorted.toSeq, s"bigrams=$bigrams")
    }
  }

  test("multi-class argmax ties break by class name ascending") {
    // symmetric corpus: classes c1/c2 see mirror-identical features, so
    // their trained weights coincide and every score ties — the pinned
    // order must pick c1 everywhere
    val docs = Seq((1L, "x a", "c1"), (2L, "x a", "c2"))
    val got = runMulti(docs, 64)
    assert(got === refMulti(docs, 64, 3))
    assert(got.values.forall(_._2 == "c1"))
  }

  test("predictColumn equals the join-based argmax row for row and round-trips save/load") {
    import graft.pipeline.Classifier
    val docs = Seq(
      (1L, "the cat and the dog", "en"), (2L, "le chat et le chien", "fr"),
      (3L, "el gato y el perro", "es"), (4L, "the dog ran", "en"),
      (5L, "", "en"))
    val df = docs.toDF("doc_id", "text", "lang")
    val w = Classifier.trainMulti(df, "doc_id", "text", "lang",
      numBuckets = 64, iters = 3)
    val model = Classifier.MultiModel(w, 64)
    val viaColumn = df.select($"doc_id",
      Classifier.predictColumn($"text", model).as("p"))
      .as[(Long, String)].collect().toMap
    val viaJoin = runMulti(docs, 64).map { case (id, (_, p, _)) => id -> p }
    assert(viaColumn === viaJoin)
    val dir = java.nio.file.Files.createTempDirectory("lidmodel").toString
    Classifier.saveMulti(model, s"$dir/m")
    val loaded = Classifier.loadMulti(s"$dir/m", spark)
    assert(loaded.numBuckets === 64 && !loaded.bigrams)
    val reloaded = df.select($"doc_id",
      Classifier.predictColumn($"text", loaded).as("p"))
      .as[(Long, String)].collect().toMap
    assert(reloaded === viaColumn)
    // NULL text predicts NULL — never the alphabetically-first class
    // (every per-class score is NULL there, and a struct-greatest over
    // NULL scores would otherwise tie purely on the rank field)
    val withNull = Seq((9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val p = withNull.select(Classifier.predictColumn($"text", model).as("p"))
      .collect().head
    assert(p.isNullAt(0), s"NULL text must predict NULL, got ${p.get(0)}")
  }

  test("multi-class parameter validation") {
    import graft.pipeline.Classifier
    val df = Seq((1L, "a", "en"), (2L, "b", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    // NULL labels train as all-negative silently — refused up front
    val eN = intercept[IllegalArgumentException](
      Classifier.trainMulti(df, "doc_id", "text", "lang"))
    assert(eN.getMessage.contains("NULL"))
    intercept[IllegalArgumentException](
      Classifier.trainMulti(df.filter($"lang".isNotNull),
        "doc_id", "text", "lang", iters = 0))
    intercept[IllegalArgumentException](
      Classifier.multiClassifierCtes("documents", "lang", etaNum = 10L))
    // the plan-literal budget applies to the nClasses × numBuckets PRODUCT
    val bigW = Seq(("en", Classifier.BiasFeature, 0L), ("fr", Classifier.BiasFeature, 0L))
      .toDF("cls", "f", "w_e6")
    val eB = intercept[IllegalArgumentException](
      Classifier.predictColumn(col("text"),
        Classifier.MultiModel(bigW, Classifier.MaxScoreColumnBuckets)))
    assert(eB.getMessage.contains("broadcast"))
  }

  test("calibrateScores: exact margin + share vs a plain-Scala reference") {
    import graft.pipeline.Classifier
    val scores = Seq(
      (1L, "en", 100L), (1L, "fr", 40L), (1L, "de", -20L),
      (2L, "en", 5L), (2L, "fr", 5L), (2L, "de", 5L), // all tied
      (3L, "en", 7L), (3L, "fr", 7L), (3L, "de", 0L), // tie at the top
      (4L, "en", 42L), // single-class doc
      (5L, "aa", -10L), (5L, "bb", -30L)) // all-negative scores
    val df = scores.toDF("doc_id", "cls", "score_e6")
    val got = Classifier.calibrateScores(df)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    // independent plain-Scala reference with BigInt floor division
    def fd(a: BigInt, n: BigInt): Long = {
      val q = a / n; val r = a % n
      (if (r != 0 && (r < 0) != (n < 0)) q - 1 else q).toLong
    }
    val exp = scores.groupBy(_._1).toSeq.sortBy(_._1).map { case (doc, rows) =>
      val sorted = rows.sortBy(r => (-r._3, r._2))
      val (s1, c1) = (sorted.head._3, sorted.head._2)
      val margin = if (sorted.size > 1) s1 - sorted(1)._3 else 0L
      val smin = rows.map(_._3).min
      val denom = rows.map(_._3).sum - rows.size * smin
      val share =
        if (denom == 0) fd(10000, rows.size)
        else fd(BigInt(s1 - smin) * 10000, denom)
      (doc, c1, s1, margin, share)
    }
    assert(got === exp)
    // the handcrafted expectations, spelled out: (margin_e6, share_bp)
    //   doc 1: shifted mass (120, 60, 0) -> share 120*1e4/180 = 6666
    //   doc 2: all tied -> uniform floor(10000/3); doc 3: top tie -> 5000
    //   doc 4: single class -> 10000; doc 5: runner-up AT the min -> 10000
    assert(got.map(g => g._1 -> (g._4, g._5)).toMap === Map(
      1L -> ((60L, 6666L)), 2L -> ((0L, 3333L)), 3L -> ((0L, 5000L)),
      4L -> ((0L, 10000L)), 5L -> ((20L, 10000L))))
  }

  test("calibrateScores: randomized score tables match the BigInt reference") {
    import graft.pipeline.Classifier
    // tie-heavy generator: few distinct score values force top-1/top-2
    // ties, all-tied docs, and runner-up-at-the-min configurations the
    // handcrafted fixture can't enumerate
    val rnd = new scala.util.Random(11)
    def fd(a: BigInt, n: BigInt): Long = {
      val q = a / n; val r = a % n
      (if (r != 0 && (r < 0) != (n < 0)) q - 1 else q).toLong
    }
    for (trial <- 1 to 8) {
      val classes = Seq("aa", "bb", "cc", "dd").take(1 + rnd.nextInt(4))
      val scores = (1L to 30L).flatMap { doc =>
        classes.filter(_ => rnd.nextBoolean() || doc % 7 == 0)
          .map(c => (doc, c, (rnd.nextInt(7) - 3) * 10L))
      }
      val present = scores.map(_._1).distinct
      if (present.nonEmpty) {
        val got = Classifier.calibrateScores(
          scores.toDF("doc_id", "cls", "score_e6"))
          .orderBy("doc_id")
          .as[(Long, String, Long, Long, Long)].collect().toSeq
        val exp = scores.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (doc, rows) =>
            val sorted = rows.sortBy(r => (-r._3, r._2))
            val (s1, c1) = (sorted.head._3, sorted.head._2)
            val margin = if (sorted.size > 1) s1 - sorted(1)._3 else 0L
            val smin = rows.map(_._3).min
            val denom = rows.map(_._3).sum - rows.size * smin
            val share =
              if (denom == 0) fd(10000, rows.size)
              else fd(BigInt(s1 - smin) * 10000, denom)
            (doc, c1, s1, margin, share)
        }
        assert(got === exp, s"trial $trial")
        assert(got.forall(r => r._4 >= 0 && r._5 >= 0 && r._5 <= 10000),
          s"trial $trial: margin >= 0, share in [0, 10000]")
      }
    }
  }

  test("trainMultiCalibrated agrees with trainMultiPredictions on argmax and score") {
    import graft.pipeline.Classifier
    val docs = Seq(
      (1L, "the cat sat", "en"), (2L, "le chat noir", "fr"),
      (3L, "the dog ran", "en"), (4L, "le chien brun", "fr"),
      (5L, "der hund lief", "de"), (6L, "die katze sass", "de"))
      .toDF("doc_id", "text", "lang")
    val plain = Classifier.trainMultiPredictions(
      docs, "doc_id", "text", "lang", numBuckets = 256, iters = 2)
      .select($"doc_id", $"cls_pred", $"score_e6")
      .orderBy("doc_id").collect().toSeq
    val cal = Classifier.trainMultiCalibrated(
      docs, "doc_id", "text", "lang", numBuckets = 256, iters = 2)
      .orderBy("doc_id")
    assert(cal.select($"doc_id", $"cls_pred", $"score_e6").collect().toSeq === plain,
      "the calibrated tier must not move the argmax or its score")
    val rows = cal.as[(Long, String, String, Long, Long, Long)].collect()
    assert(rows.forall(_._5 >= 0L), "margin = top1 - top2 is non-negative")
    assert(rows.forall(r => r._6 >= 0L && r._6 <= 10000L),
      "share is in basis points [0, 10000]")
  }

  test("out-of-sample serve: frozen weights score held-out docs exactly") {
    import graft.pipeline.Classifier
    val rnd = new scala.util.Random(43)
    val vocabs = Map(
      "aa" -> Vector("alpha", "apex", "arc", "any"),
      "bb" -> Vector("bolt", "bay", "bin", "bog"),
      "cc" -> Vector("cog", "cap", "cut", "cry"))
    val langs = vocabs.keys.toVector.sorted
    val docs = (0L until 80L).map { id =>
      val l = langs((id % 3).toInt)
      val v = vocabs(l)
      (id, Seq.fill(4 + rnd.nextInt(8))(v(rnd.nextInt(v.size))).mkString(" "), l)
    }
    val train = docs.filter(_._1 % 2 == 0)
    val hold = docs.filter(_._1 % 2 == 1)
    val b = 4096
    val w = Classifier.trainMulti(
      train.toDF("doc_id", "text", "lang"), "doc_id", "text", "lang",
      numBuckets = b, iters = 4)
    val got = Classifier.predictionsFrom(
      Classifier.MultiModel(w, b),
      hold.toDF("doc_id", "text", "lang"), "doc_id", "text", "lang")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
      .toMap
    // plain-Scala serve reference over the COLLECTED weight table: the
    // same hashed presence features + bias, the same pinned argmax —
    // independent of how training produced the weights
    val wt = w.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap.withDefaultValue(0L)
    val classes = w.collect().map(_.getString(0)).toVector.distinct.sorted
    val exp = hold.map { case (id, t, actual) =>
      val fs = toks(t).map(refBucket(_, b)).toSet + Classifier.BiasFeature
      val best = classes.map(c => c -> fs.toSeq.map(f => wt((c, f))).sum)
        .minBy { case (c, s) => (-s, c) }
      id -> ((actual, best._1, best._2))
    }.toMap
    assert(got === exp)
    // capacity: the frozen model identifies docs it never trained on
    val acc = got.count { case (_, (a, p, _)) => a == p }
    assert(acc >= hold.size - 4,
      s"out-of-sample recovery on a separable corpus, got $acc/${hold.size}")
  }

  test("predictionsFrom / calibratedFrom on a saved+loaded model equal train-in-place") {
    import graft.pipeline.Classifier
    val docs = Seq(
      (1L, "the cat sat", "en"), (2L, "le chat noir", "fr"),
      (3L, "the dog ran", "en"), (4L, "le chien brun", "fr"),
      (5L, "der hund lief", "de"), (6L, "die katze sass", "de"))
      .toDF("doc_id", "text", "lang")
    val w = Classifier.trainMulti(
      docs, "doc_id", "text", "lang", numBuckets = 256, iters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gate_model").toString
    Classifier.saveMulti(Classifier.MultiModel(w, 256), dir)
    val loaded = Classifier.loadMulti(dir, spark)
    // the scoring pass factored out of the trainers must reproduce the
    // train-in-place outputs bit for bit through a disk round-trip
    assert(Classifier.predictionsFrom(loaded, docs, "doc_id", "text", "lang")
      .orderBy("doc_id").collect().toSeq ===
      Classifier.trainMultiPredictions(docs, "doc_id", "text", "lang",
        numBuckets = 256, iters = 2).orderBy("doc_id").collect().toSeq)
    assert(Classifier.calibratedFrom(loaded, docs, "doc_id", "text", "lang")
      .orderBy("doc_id").collect().toSeq ===
      Classifier.trainMultiCalibrated(docs, "doc_id", "text", "lang",
        numBuckets = 256, iters = 2).orderBy("doc_id").collect().toSeq)
  }

  test("gatePredictions: floor semantics and the explicit und bucket") {
    import graft.pipeline.Classifier
    val cal = Seq(
      (1L, "en", "en", 100L, 60L, 6666L),
      (2L, "fr", "en", 10L, 0L, 3333L),
      (3L, "de", "de", 50L, 20L, 5000L),
      (4L, "en", "fr", 7L, 5L, 4000L))
      .toDF("doc_id", "cls_actual", "cls_pred", "score_e6", "margin_e6",
        "share_bp")
    // floor 0: margins are non-negative by construction — identity gating
    val ungated = Classifier.gatePredictions(cal, lit(0L))
      .select($"doc_id", $"cls_gated").as[(Long, String)].collect().toMap
    assert(ungated === Map(1L -> "en", 2L -> "en", 3L -> "de", 4L -> "fr"))
    // a floor above every margin: everything lands in und
    val all = Classifier.gatePredictions(cal, lit(1000L))
      .select($"cls_gated").as[String].collect()
    assert(all.forall(_ == "und"))
    // mid floor: boundary INCLUSIVE (>= keeps), below gates out; und
    // label is a parameter
    val mid = Classifier.gatePredictions(cal, lit(20L), und = "zz")
      .select($"doc_id", $"cls_gated").as[(Long, String)].collect().toMap
    assert(mid === Map(1L -> "en", 2L -> "zz", 3L -> "de", 4L -> "zz"))
  }

  test("gateAtMedianMargin: floor is the exact nearest-rank p50, both buckets fill") {
    import graft.pipeline.Classifier
    def mk(margins: Seq[Long]) = margins.zipWithIndex.map { case (m, i) =>
      ((i + 1).toLong, "en", "en", m * 10L, m, 100L)
    }.toDF("doc_id", "cls_actual", "cls_pred", "score_e6", "margin_e6",
      "share_bp")
    // margins 1..7: nearest-rank p50 target = (50*7+99)//100 = 4 -> floor 4
    val rows = Classifier.gateAtMedianMargin(mk(1L to 7L))
      .select($"doc_id", $"margin_floor", $"cls_gated")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(rows.forall(_._2 == 4L), "floor = exact nearest-rank median")
    assert(rows.map(r => r._1 -> r._3).toMap ===
      (1L to 7L).map(i => i -> (if (i >= 4) "en" else "und")).toMap)
    // even count: target (50*6+99)//100 = 3 -> floor 3
    val f6 = Classifier.gateAtMedianMargin(mk(1L to 6L))
      .select($"margin_floor").distinct().as[Long].collect()
    assert(f6.toSeq === Seq(3L))
    // degenerate corpus (all margins equal): everything clears, und empty
    val flat = Classifier.gateAtMedianMargin(mk(Seq(5L, 5L, 5L, 5L)))
    assert(flat.filter($"cls_gated" === "und").count() === 0L)
    // reserved output column refused on input
    val bad = mk(1L to 3L).withColumn("margin_floor", lit(1L))
    val e = intercept[IllegalArgumentException] {
      Classifier.gateAtMedianMargin(bad)
    }
    assert(e.getMessage.contains("margin_floor"))
  }

  test("CTE generators refuse caller fragments containing ' AS (' (materializeCtes contract)") {
    import graft.pipeline.Classifier
    // the MATERIALIZED rewrite pattern-matches ' AS (' as a CTE head; a
    // caller fragment carrying that substring must fail loudly at the
    // generator boundary, not ship silently corrupted SQL
    val bad = "x AS (SELECT 1)"
    for (thunk <- Seq(
        () => Classifier.multiClassifierCtes("documents", bad),
        () => Classifier.multiClassifierCtes(bad, "lang"),
        () => Classifier.classifierCtes("documents", bad),
        () => graft.pipeline.Graph.pageRankCtes(bad, 2),
        () => graft.pipeline.Graph.pageRankFlexCtes(bad, 2),
        () => graft.pipeline.Bpe.trainMergesCtes(bad, 2))) {
      val e = intercept[IllegalArgumentException](thunk())
      assert(e.getMessage.contains(" AS ("), s"got: ${e.getMessage}")
    }
    // the benign spellings still generate
    assert(Classifier.multiClassifierCtes("documents", "lang")._1.nonEmpty)
  }

  test("docFeatures: bias row for every doc (null/empty text included), set matches reference spelling") {
    import graft.pipeline.{Classifier, Dsir}
    // the one-generate spelling (bias prepended to the exploded feature
    // array, table hash-partitioned by doc_id) must produce the IDENTICAL
    // (doc_id, f) set as the reference explode+distinct+union-bias
    // spelling — the NULL-text doc keeps exactly its bias row, the
    // empty-string doc keeps its empty-token bucket, nothing duplicates
    val docs = Seq(
      (1L, "good clean prose"),
      (2L, null.asInstanceOf[String]),
      (3L, ""),
      (4L, "   "),
      (5L, "dup dup dup")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sortBy(identity).toSeq
    val got = rows(Classifier.docFeatures(docs, "doc_id", "text", 64))
    val ref = rows(docs
      .select($"doc_id", explode(graft.pipeline.TextAnalysis.tokens($"text")).as("w"))
      .select($"doc_id", Dsir.featureBucket($"w", 64).as("f"))
      .distinct()
      .unionByName(docs.select($"doc_id", lit(Classifier.BiasFeature).as("f"))))
    assert(got === ref)
    assert(got.count(_._2 == Classifier.BiasFeature) === 5,
      "every doc must carry exactly one bias row")
    // bigram tier: same set contract against its reference spelling
    val gotB = rows(Classifier.docFeatures(docs, "doc_id", "text", 64, bigrams = true))
    assert(gotB.count(_._2 == Classifier.BiasFeature) === 5)
    assert(got.toSet.subsetOf(gotB.toSet),
      "bigrams only ADD features over the unigram set")
  }
}
