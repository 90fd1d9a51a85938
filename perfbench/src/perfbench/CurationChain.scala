package perfbench

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Dedup, Quality, Sampling, TextAnalysis}

final case class Doc(doc_id: Long, text: String)

/**
 * The curation pipeline beyond the sketch: normalizeText, the Gopher quality
 * filter, exact dedup, MinHash-LSH near-dup pairs, language id and
 * token-budget packing. Each stage's output is persisted and materialized
 * before the next starts, so every stage is priced on its own.
 *
 * The corpus is a seeded base corpus replicated 8 times by a per-copy
 * bijective token remap (every token of copy i gets the suffix `_g<i>`):
 * copies share no token, so dup groups and near-dup pairs grow exactly 8x.
 */
object CurationChain {
  val BaseDocs = 200
  val Copies = 8
  val Budget = 2048L
  val Threshold = 0.8
  val ReadsPerChain = 2

  val Stages: Seq[String] = Layers.Stages

  private val Stop = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "it")
  private val Markers = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "fr" -> Seq("le", "la", "les", "et", "de"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  /** Gopher's stop-word probe, widened to the remapped spellings so every
    * copy passes or fails the filter exactly as the base corpus does. */
  val StopWords: Seq[String] =
    Quality.StopWords ++ (1 until Copies).flatMap(i => Quality.StopWords.map(w => s"${w}_g$i"))

  final case class Corpus(docs: Array[Doc], nearPairs: Seq[(Long, Long)])

  /** The base corpus: prose in four languages, short and symbol-heavy docs
    * the quality filter drops, exact duplicates (recased, respaced) and
    * near duplicates (one word replaced in a long document). The share of
    * each kind is fixed and only their order and words depend on the seed,
    * so every seed asks the same amount of work. */
  def corpus(seed: Long): Corpus = {
    var k = 0L
    def u(): Double = { k += 1; Gen.uniform(seed, 60, k) }
    def pick[T](xs: Seq[T]): T = xs((u() * xs.size).toInt)
    val letters = "etaoinshrdlcumwfgypbvk"
    val vocab = (0 until 3000).map { _ =>
      val len = 3 + (u() * 5).toInt
      (0 until len).map(_ => letters((u() * letters.length).toInt)).mkString
    }
    def prose(words: Int, lang: String): Array[String] = Array.fill(words) {
      val p = u()
      if (p < 0.12) pick(Markers(lang))
      else if (p < 0.22) pick(Stop)
      else if (p < 0.225) "cafe\u0301"
      else pick(vocab)
    }
    // kinds: 0 prose, 1 short, 2 symbol-heavy, 3 exact duplicate, 4 near duplicate
    val head = BaseDocs / 6
    val tail = BaseDocs - head
    val quota = Seq(1 -> tail / 8, 2 -> tail / 25, 3 -> tail / 12, 4 -> tail / 12)
    val kinds = Array.fill(head)(0) ++ (Seq.fill(tail - quota.map(_._2).sum)(0) ++
      quota.flatMap { case (kind, n) => Seq.fill(n)(kind) }).map(k => (u(), k)).sortBy(_._1).map(_._2)
    val docs = new Array[Doc](BaseDocs)
    val near = Seq.newBuilder[(Long, Long)]
    val prosaic = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until BaseDocs) {
      val text = kinds(i) match {
        case 1 => prose(10 + (u() * 35).toInt, "en").mkString(" ")
        case 2 => prose(80, "en").map(w => if (u() < 0.3) "#" + w else w).mkString(" ")
        case 3 =>
          docs(pick(prosaic.toSeq)).text.split(" ").map(w => if (u() < 0.3) w.toUpperCase else w).mkString("  ")
        case 4 =>
          val src = pick(prosaic.toSeq)
          val ws = docs(src).text.split(" ")
          ws((u() * ws.length).toInt) = pick(vocab) + "x"
          near += ((src.toLong, i.toLong))
          ws.mkString(" ")
        case _ =>
          val p = u()
          val lang = if (p < 0.6) "en" else if (p < 0.75) "fr" else if (p < 0.9) "es" else "de"
          prosaic += i
          prose(150 + (u() * 100).toInt, lang).mkString(" ")
      }
      docs(i) = Doc(i, text)
    }
    Corpus(docs, near.result())
  }

  /** Copy i of the corpus: ids shifted by i x stride, tokens suffixed. */
  def replicate(base: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      if (i == 0) base
      else base.select((col("doc_id") + lit(i.toLong * BaseDocs)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_g$i").as("text"))
    }.reduce(_.unionByName(_))
}

final class CurationChain(ctx: Ctx) extends Workload(ctx) {
  import CurationChain._
  import spark.implicits._

  private var base: Corpus = _
  private var docs: DataFrame = _
  private var outputs: Map[String, DataFrame] = Map.empty
  private var recallValue = 0.0
  private var x1: (Long, Long, Long, Set[(Long, Long)]) = _

  /** Step 0 runs the x1 corpus; steps 1 and 2 warm the x8 chain, whose
    * code keeps compiling over its first few runs. */
  override def warmSteps: Int = 3
  override def maxSteps: Int = 6

  def setup(): Unit = {
    if (docs != null) docs.unpersist(true)
    base = corpus(ctx.seed)
    docs = replicate(spark.createDataset(base.docs.toSeq)(Encoders.product[Doc]).toDF(), Copies)
      .repartition(ctx.cores * 2).persist(StorageLevel.MEMORY_ONLY)
    docs.write.format("noop").mode("overwrite").save()
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.write.format("noop").mode("overwrite").save()
    p
  }

  /** The six stages over `in`, each persisted; returns every stage output. */
  private def chain(in: DataFrame, span: Boolean): Map[String, DataFrame] = {
    def within[T](name: String)(body: => T): T = if (span) ctx.tracer.span("pipeline", name)(_ => body) else body
    def stage(name: String)(body: => DataFrame): DataFrame = within(name)(materialize(body))
    val normalized = stage("normalize")(in.select($"doc_id", TextAnalysis.normalizeText($"text").as("text")))
    val kept = stage("gopher")(Quality.gopherFilter(normalized, "doc_id", "text", stopWords = StopWords))
    val (groups, deduped) = within("exact_dedup") {
      val groups = materialize(Dedup.exactGroups(kept, "doc_id", "text"))
      (groups, materialize(kept.join(groups.select($"keep_id".as("doc_id")), Seq("doc_id"), "left_semi")))
    }
    val pairs = stage("lsh")(Dedup.minhashLshPairs(deduped, "doc_id", "text", Threshold))
    val labeled = stage("langid")(deduped.join(pairs.select($"doc_b".as("doc_id")), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"text", TextAnalysis.languageId($"text").as("lang"),
        size(TextAnalysis.tokens($"text")).as("n_tokens")))
    val packed = stage("pack")(Sampling.packByBudget(labeled, "doc_id", "n_tokens", Budget))
    Map("normalize" -> normalized, "gopher" -> kept, "exact_dedup" -> groups, "deduped" -> deduped,
      "lsh" -> pairs, "langid" -> labeled, "pack" -> packed)
  }

  private def release(out: Map[String, DataFrame]): Unit = out.values.foreach(_.unpersist(true))

  def step(client: Int, i: Int): Unit = {
    release(outputs)
    if (i == 0) {
      // the x1 corpus through the same chain: the reference counts of the
      // x8 check, and a warm-up of every stage's code
      val one = chain(spark.createDataset(base.docs.toSeq)(Encoders.product[Doc]).toDF(), span = false)
      x1 = try counts(one) finally release(one)
      return
    }
    val (out, op) = ctx.timed(client, "chain", units = BaseDocs.toLong * Copies) { _ =>
      chain(docs, span = true)
    }
    outputs = out
    val packed = out("pack").select($"doc_id", $"lang", $"n_tokens", $"bin").orderBy($"doc_id").collect()
    op.rows = packed.length
    op.digest = Main.digest(packed.iterator.map(_.toString))
    // each document lands in the bin open when the walk in id order reached it
    op.verify = () => {
      var before = 0L
      packed.toSeq.flatMap { r =>
        val want = before / Budget
        before += r.getInt(2)
        if (r.getLong(3) == want) None else Some(s"doc ${r.getLong(0)} in bin ${r.getLong(3)}, expected $want")
      }.take(3)
    }

    // a training loader reading the packed corpus, bin by bin
    (0 until ReadsPerChain).foreach { _ =>
      val (rows, read) = ctx.timed(client, "read_bins", primary = false, read = true) { _ =>
        out("pack").select($"bin", $"doc_id", $"text").orderBy($"bin", $"doc_id").collect()
      }
      read.rows = rows.length
      read.digest = Main.digest(rows.iterator.map(_.toString))
      read.verify = () =>
        if (rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == packed.map(r => (r.getLong(3), r.getLong(0))).toSeq.sorted) Nil
        else Seq("the bins read back differ from the packed output")
    }
  }

  private def counts(out: Map[String, DataFrame]): (Long, Long, Long, Set[(Long, Long)]) = {
    val kept = out("gopher").select($"doc_id").collect().length.toLong
    val groups = out("exact_dedup").filter($"n_docs" > 1).collect().length.toLong
    val pairs = out("lsh").select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    (kept, groups, pairs.size.toLong, pairs)
  }

  override def check(): Seq[String] = {
    val (kept8, groups8, pairs8, found) = counts(outputs)
    if (x1 == null) return Seq("the x1 reference chain did not run")
    val (kept1, groups1, pairs1, _) = x1
    // planted near duplicates, in every copy
    val planted = for ((a, b) <- base.nearPairs; c <- 0 until Copies)
      yield (a + c.toLong * BaseDocs, b + c.toLong * BaseDocs)
    recallValue = planted.count(found).toDouble / math.max(1, planted.size)
    System.err.println(s"perfbench: x1 kept $kept1, dup groups $groups1, near-dup pairs $pairs1; " +
      s"planted pairs ${base.nearPairs.size}")
    Seq(
      ("docs kept by the quality filter", kept8, kept1),
      ("exact dup groups", groups8, groups1),
      ("near-dup pairs", pairs8, pairs1)).collect {
      case (what, big, small) if big != Copies * small => s"$what: $big at x$Copies, expected $Copies x $small"
    } ++ (if (groups1 > 0 && pairs1 > 0) Nil else Seq("the corpus planted no duplicates"))
  }

  def recall: Double = recallValue

  /** The base corpus's words, one segment per 500 documents. */
  def coreSegments: IndexedSeq[CoreReplay.Segment] =
    base.docs.grouped(500).map(ds => CoreReplay.segment(
      ds.toSeq.flatMap(_.text.split("\\s+").map(w => (w, 1L))))).toIndexedSeq

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.kind == "chain")
    val spans = ctx.tracer.all
    def stageSpans(st: String) = traced.flatMap(o => spans.find(s => s.root == o.span.root && s.name == st))
    val perStage = Stages.flatMap { st =>
      val ss = stageSpans(st)
      val cs = ss.map(s => ctx.counters.group(s.group))
      Seq(
        s"pipeline.${st}_s" -> Main.median(ss.map(_.ms / 1e3)),
        s"pipeline.${st}_cpu_s" -> Main.median(cs.map(_.getOrElse("cpu_ns", 0L) / 1e9)),
        s"pipeline.${st}_shuffle_bytes" -> Main.median(cs.map(_.getOrElse("shuffle_write_bytes", 0L).toDouble)))
    }
    val pairs = outputs("lsh").collect().length.toDouble
    val lshRecords = Main.median(stageSpans("lsh").map(s =>
      ctx.counters.group(s.group).getOrElse("shuffle_write_records", 0L).toDouble))
    perStage.toMap ++ Map(
      "pipeline.lsh_pairs" -> pairs,
      "pipeline.lsh_pairs_per_shuffle_record" -> pairs / math.max(1.0, lshRecords))
  }

  override def close(): Unit = spark.catalog.clearCache()
}
