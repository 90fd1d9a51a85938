package graft

import graft.pipeline.{Chat, Sampling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Specs for the multi-turn chat SFT path: [[Chat.renderConversations]]
  * (role-tagged rendering + per-assistant-turn loss intervals) and
  * [[Chat.packMaskedIntervals]] (interval clipping into fixed training
  * windows), cross-checked against plain-Scala references. */
class ChatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // --- fixture ------------------------------------------------------------

  private val roles = Seq("system", "user", "assistant")
  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")

  /** (conv_id, turn_idx, role, text) rows: 8 conversations, 1..7 turns,
    * 0..6 words per turn (0 = the empty-turn edge). */
  private def fixture(): Seq[(Long, Long, String, String)] = {
    val r = new Random(31)
    (0L until 8L).flatMap { c =>
      (0L until (1 + r.nextInt(7)).toLong).map { t =>
        val n = r.nextInt(7)
        (c, t, roles(r.nextInt(3)),
          Seq.fill(n)(words(r.nextInt(words.length))).mkString(" "))
      }
    }
  }

  /** Reference rendering: (text, n_tokens, intervals) per conversation. */
  private def refRender(
      rows: Seq[(Long, Long, String, String)],
      lossRole: String = "assistant")
      : Map[Long, (String, Long, Seq[(Long, Long)])] =
    rows.groupBy(_._1).map { case (c, ts) =>
      var pos = 0L
      val ivs = Seq.newBuilder[(Long, Long)]
      val parts = Seq.newBuilder[String]
      ts.sortBy(_._2).foreach { case (_, _, role, text) =>
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        parts += (s"<|$role|>" +: toks).mkString(" ")
        if (role == lossRole && toks.nonEmpty) ivs += ((pos + 1, toks.length.toLong))
        pos += toks.length + 1
      }
      c -> (parts.result().mkString(" "), pos, ivs.result())
    }

  test("renderConversations matches the reference renderer exactly") {
    val rows = fixture()
    val got = Chat.renderConversations(
      rows.toDF("conv_id", "turn_idx", "role", "text"),
      "conv_id", "turn_idx", "role", "text")
      .select($"conv_id", $"text", $"n_tokens",
        $"loss_ivs".cast("array<struct<off:long,len:long>>"))
      .as[(Long, String, Long, Seq[(Long, Long)])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == refRender(rows))
    // non-vacuous: some conversation has >= 2 loss intervals
    assert(got.values.exists(_._3.size >= 2))
  }

  test("duplicate turn index fails fast") {
    val rows = Seq((1L, 0L, "user", "a"), (1L, 0L, "assistant", "b"))
    val e = intercept[Exception](
      Chat.renderConversations(rows.toDF("conv_id", "turn_idx", "role", "text"),
        "conv_id", "turn_idx", "role", "text").collect())
    assert(e.getMessage.contains("duplicate turn index") ||
      e.getCause != null && e.getCause.getMessage.contains("duplicate turn index"))
  }

  test("packed intervals reconstruct exactly the assistant token positions") {
    val rows = fixture()
    val rendered = Chat.renderConversations(
      rows.toDF("conv_id", "turn_idx", "role", "text"),
      "conv_id", "turn_idx", "role", "text")
    val seqLen = 7L // tiny: forces clipping across many boundaries
    val packed = Chat.packMaskedIntervals(
      rendered, "conv_id", "loss_ivs", "n_tokens", seqLen)
      .select($"conv_id", $"seq_id", $"frag_start", $"frag_len", $"seq_off",
        expr("CAST(loss_ivs AS ARRAY<STRUCT<loss_off: BIGINT, loss_len: BIGINT>>)")
          .as("ivs"))
      .as[(Long, Long, Long, Long, Long, Seq[(Long, Long)])].collect()

    // reference: global stream order by conv_id; every assistant content
    // token's global position -> (seq, pos-in-seq) must be exactly the OR
    // of the emitted intervals
    val ref = refRender(rows)
    val convs = ref.keys.toSeq.sorted
    var run = 0L
    val want = scala.collection.mutable.Set[(Long, Long)]()
    convs.foreach { c =>
      val (_, n, ivs) = ref(c)
      ivs.foreach { case (off, len) =>
        (off until off + len).foreach { p =>
          val g = run + p
          want += ((g / seqLen, g % seqLen))
        }
      }
      run += n
    }
    val got = packed.flatMap { case (_, seq, _, _, _, ivs) =>
      ivs.flatMap { case (off, len) => (off until off + len).map(p => (seq, p)) }
    }
    assert(got.length == got.distinct.length, "intervals must not overlap")
    assert(got.toSet == want.toSet)
  }

  test("single-prefix intervals agree with packMaskedSequences") {
    val docs = Seq((1L, 4L, 10L), (2L, 0L, 3L), (3L, 7L, 7L), (4L, 2L, 9L))
    val asIvs = docs.toDF("doc_id", "prompt_len", "n_tokens")
      .withColumn("ivs", expr(
        """IF(n_tokens > prompt_len,
          |   array(named_struct('off', prompt_len, 'len', n_tokens - prompt_len)),
          |   CAST(array() AS ARRAY<STRUCT<off: BIGINT, len: BIGINT>>))""".stripMargin))
    val got = Chat.packMaskedIntervals(asIvs, "doc_id", "ivs", "n_tokens", 8L)
      .select($"doc_id", $"seq_id", $"frag_start",
        expr("CAST(loss_ivs AS ARRAY<STRUCT<loss_off: BIGINT, loss_len: BIGINT>>)").as("ivs"))
      .as[(Long, Long, Long, Seq[(Long, Long)])].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    val want = Sampling.packMaskedSequences(
      docs.toDF("doc_id", "prompt_len", "n_tokens"),
      "doc_id", "prompt_len", "n_tokens", 8L)
      .select($"doc_id", $"seq_id", $"frag_start", $"loss_off", $"loss_len")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, ivs) =>
      val (off, len) = want(k)
      if (len == 0) assert(ivs.isEmpty, s"$k: pure-prompt fragment must have no interval")
      else assert(ivs == Seq((off, len)), s"$k: single clipped interval must agree")
    }
  }

  test("malformed interval lists raise per-row") {
    def pack(ivs: String) = Chat.packMaskedIntervals(
      spark.sql(s"SELECT 1L AS id, 10L AS n, $ivs AS ivs"),
      "id", "ivs", "n", 8L).collect()
    // overlapping
    intercept[Exception](pack(
      "array(named_struct('off', 0L, 'len', 5L), named_struct('off', 3L, 'len', 2L))"))
    // negative length
    intercept[Exception](pack("array(named_struct('off', 2L, 'len', -1L))"))
    // beyond total_len
    intercept[Exception](pack("array(named_struct('off', 8L, 'len', 5L))"))
    // out of order
    intercept[Exception](pack(
      "array(named_struct('off', 6L, 'len', 2L), named_struct('off', 0L, 'len', 2L))"))
    // well-formed passes
    assert(pack(
      "array(named_struct('off', 0L, 'len', 2L), named_struct('off', 6L, 'len', 4L))")
      .nonEmpty)
  }

  test("incremental offsets reproduce the one-shot global layout") {
    val rows = fixture()
    val rendered = Chat.renderConversations(
      rows.toDF("conv_id", "turn_idx", "role", "text"),
      "conv_id", "turn_idx", "role", "text").cache()
    val oneShot = Chat.packMaskedIntervals(
      rendered, "conv_id", "loss_ivs", "n_tokens", 7L)
      .select($"conv_id", $"seq_id", $"frag_start", $"frag_len", $"seq_off",
        expr("CAST(loss_ivs AS ARRAY<STRUCT<loss_off: BIGINT, loss_len: BIGINT>>)"))
      .collect().toSet

    // split into two "batches" by conv id (stream order IS conv order);
    // batch 2 packs from batch 1's committed token offset
    val b1 = rendered.filter($"conv_id" < 4)
    val b2 = rendered.filter($"conv_id" >= 4)
    val committed = b1.agg(sum($"n_tokens")).as[Long].head()
    val incr =
      Chat.packMaskedIntervals(b1, "conv_id", "loss_ivs", "n_tokens", 7L)
        .select($"conv_id", $"seq_id", $"frag_start", $"frag_len", $"seq_off",
          expr("CAST(loss_ivs AS ARRAY<STRUCT<loss_off: BIGINT, loss_len: BIGINT>>)"))
        .collect().toSet ++
      Chat.packMaskedIntervalsFrom(b2, "conv_id", "loss_ivs", "n_tokens", 7L, committed)
        .select($"conv_id", $"seq_id", $"frag_start", $"frag_len", $"seq_off",
          expr("CAST(loss_ivs AS ARRAY<STRUCT<loss_off: BIGINT, loss_len: BIGINT>>)"))
        .collect().toSet
    assert(incr == oneShot)
    rendered.unpersist()
  }

  test("packTokenIds: single-prefix intervals reproduce packMaskedTokenIds exactly") {
    val r = new Random(41)
    val docs = (0L until 20L).map { i =>
      val n = 3 + r.nextInt(10)
      (i, (0L until n.toLong).map(j => i * 100 + j), (n / 3).toLong)
    }
    val prefix = docs.toDF("doc_id", "ids", "prompt_len")
    val asIvs = docs.map { case (i, ids, p) =>
      (i, ids, Seq((p, ids.size - p)).filter(_._2 > 0)
        .map { case (o, l) => IvRow(o, l) })
    }.toDF("doc_id", "ids", "ivs")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"seq_id", $"n_tokens", $"input_ids", $"doc_starts",
        to_json($"loss_intervals").as("li"))
      .as[(Long, Long, Seq[Long], Seq[Long], String)].collect().toSet
    val got = norm(Chat.packTokenIds(asIvs, "doc_id", "ids", "ivs", 16L))
    val want = norm(Sampling.packMaskedTokenIds(
      prefix, "doc_id", "ids", "prompt_len", 16L))
    assert(got == want,
      "a prompt prefix is the one-interval special case — identical output")
  }

  test("one tiling, one window builder: the packers agree across seqLen and offsets") {
    val r = new Random(59)
    // (id, ids, prompt_len): zero-length docs, prompt 0 and prompt = n
    val docs = (0L until 40L).map { i =>
      val n = r.nextInt(4) match { case 0 => 0; case _ => 1 + r.nextInt(12) }
      val p = r.nextInt(3) match {
        case 0 => 0L
        case 1 => n.toLong
        case _ => r.nextLong(n + 1L)
      }
      (i, Seq.fill(n)(r.nextLong(1000L)), p)
    }
    def prefixIvs(ds: Seq[(Long, Seq[Long], Long)]) =
      ds.map { case (i, ids, p) =>
        (i, ids, Seq((p, ids.size - p)).filter(_._2 > 0).map { case (o, l) => IvRow(o, l) })
      }.toDF("doc_id", "ids", "ivs")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"seq_id", $"row_base", $"n_tokens", $"input_ids", $"doc_starts",
          to_json($"loss_intervals").as("li"))
        .orderBy($"seq_id")
        .as[(Long, Long, Long, Seq[Long], Seq[Long], String)].collect().toSeq
    // two batches: the second starts mid-window, so its first row
    // continues a window the first left partial
    val (b1, b2) = docs.partition(_._1 < 20L)
    val committed = b1.map(_._2.size.toLong).sum
    for (seqLen <- Seq(1L, 3L, 5L, 7L, 9L)) {
      // (a) a prompt prefix is the one-interval list, row_base included
      for ((batch, off) <- Seq((b1, 0L), (b2, committed), (b2, committed + 4L))) {
        val a = rows(Sampling.packMaskedTokenIdsFrom(
          batch.toDF("doc_id", "ids", "prompt_len"), "doc_id", "ids", "prompt_len",
          seqLen, off))
        assert(a == rows(Chat.packTokenIdsFrom(prefixIvs(batch), "doc_id", "ids", "ivs",
          seqLen, off)), s"seqLen $seqLen offset $off")
        if (off % seqLen != 0) assert(a.head._2 == off % seqLen, "row_base carried")
      }
      // (b) packSequences' fragments are packMaskedSequences' fragment columns
      val lens = docs.map { case (i, ids, p) => (i, p, ids.size.toLong) }
        .toDF("doc_id", "prompt_len", "n")
      def frags(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_id", $"seq_id", $"frag_start", $"frag_len")
          .orderBy($"doc_id", $"seq_id").as[(Long, Long, Long, Long)].collect().toSeq
      assert(frags(Sampling.packSequences(lens, "doc_id", "n", seqLen)) ==
        frags(Sampling.packMaskedSequences(lens, "doc_id", "prompt_len", "n", seqLen)))
      // (c) no mask is prompt_len 0
      val noPrompt = docs.map { case (i, ids, _) => (i, ids, 0L) }
        .toDF("doc_id", "ids", "prompt_len")
      def windows(df: org.apache.spark.sql.DataFrame) =
        df.select($"seq_id", $"n_tokens", $"input_ids", $"doc_starts").orderBy($"seq_id")
          .as[(Long, Long, Seq[Long], Seq[Long])].collect().toSeq
      assert(windows(Sampling.packTokenIds(noPrompt, "doc_id", "ids", seqLen)) ==
        windows(Sampling.packMaskedTokenIds(noPrompt, "doc_id", "ids", "prompt_len", seqLen)))
      // (d) the text windows are the stream's tokens at [s·L, (s+1)·L)
      val texts = docs.map { case (i, ids, _) => (i, ids.map(t => s"w$t").mkString(" ")) }
      val tokens = texts.flatMap(_._2.trim.split("\\s+").toSeq)
      val want = tokens.grouped(seqLen.toInt).zipWithIndex
        .map { case (ts, s) => (s.toLong, ts.mkString(" ")) }.toSeq
      assert(Sampling.assembleSequences(texts.toDF("doc_id", "text"), "doc_id", "text", seqLen)
        .select($"seq_id", $"seq_text").orderBy($"seq_id")
        .as[(Long, String)].collect().toSeq == want)
    }
    val e = intercept[Exception](Sampling.packMaskedTokenIds(
      Seq((1L, Seq(1L, 2L), 3L)).toDF("doc_id", "ids", "prompt_len"),
      "doc_id", "ids", "prompt_len", 4L).collect())
    assert(e.getMessage.contains("prompt_len <= total_len"))
  }

  test("seqLen must be positive") {
    val df = Seq((1L, 3L)).toDF("id", "n")
      .withColumn("ivs", expr("CAST(array() AS ARRAY<STRUCT<off: BIGINT, len: BIGINT>>)"))
    intercept[IllegalArgumentException](
      Chat.packMaskedIntervals(df, "id", "ivs", "n", 0L))
  }
}
