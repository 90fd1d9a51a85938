package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic dataset splitting / sampling for training-data pipelines.
 *
 * `randomSplit` is the wrong tool for corpus curation: it is
 * nondeterministic across reruns and partition layouts, and a re-ingested
 * document can hop between train and test. Hash-based assignment fixes both
 * — the split is a pure function of the document id (plus a salt), so it is
 * stable under repartitioning, incremental ingestion, and replays, and needs
 * no shuffle at all (a map-side projection that stays inside whole-stage
 * codegen).
 *
 * The default bucket hash is Knuth multiplicative hashing on the id,
 * reduced mod 1e6+3 first so every intermediate fits in a signed 64-bit
 * integer — the exact same arithmetic is expressible in any SQL engine
 * (portable, oracle-checkable). For string keys, or when ids are known to
 * be assigned in adversarial patterns, pass `bucketFn = xxhash64-based`
 * instead — same operator shape, stronger mixing.
 */
object Sampling {

  /** The portable mixing pipeline behind [[hashBucket]]: an initial
    * multiplicative round folds (id mod p, salt) together, then three
    * add-shift-multiply rounds (the shift spelled as exact power-of-two
    * division, so every step is +, *, %, // — expressible in any SQL
    * engine with 64-bit integers, no overflow at any step). A purely
    * linear salted hash makes differently-salted samples near-identical
    * rotations (measured 96% membership agreement for adversarial salt
    * pairs); the division rounds break the linearity. Residual quality:
    * two 50% samples under different salts overlap 25% ± 8 points
    * (measured across adversarial and random salt pairs) — approximately,
    * not perfectly, independent. [[xxhashBucket]] gives fully independent
    * draws when cross-engine portability is not needed. */
  private val MixRounds = Seq(
    (2048L, 897767785L), (2048L, 73244475L), (131072L, 1540483477L))

  /** Portable deterministic bucket in [0, 100) for a NON-NEGATIVE id
    * (negative ids produce negative remainders — in both Spark and
    * standard SQL engines alike — which land every such row in the first
    * split; hash string/negative keys with [[xxhashBucket]] instead).
    *
    * Salt is bounded by 2^31 so the first multiply stays under 2^63 (no
    * silent overflow in any engine). Lattice caveat, inherent to the
    * portable mod-first reduction: ids exactly 1 000 003 apart always
    * share a bucket at every salt — for adversarially patterned ids use
    * [[xxhashBucket]], which mixes the full 64-bit id. See [[MixRounds]]
    * for the salt-independence quality of the mixing. */
  def hashBucket(id: Column, salt: Long = 0L): Column = {
    require(salt >= 0L && salt < 2147483648L,
      s"salt must be in [0, 2^31), got $salt (negative salts can produce " +
        "negative buckets; larger salts overflow the portable 64-bit mix)")
    // x / 2^n on a long < 2^33 is exact in double (power-of-two divide,
    // value well under 2^53) inside portableRank, so every step is a true
    // floor division
    portableRank(id, salt) % lit(100L)
  }

  /** The identical bucket computation as engine-neutral SQL over `idExpr`
    * (integer division spelled `//`, DuckDB/standard), for oracle
    * construction — generated from the same [[MixRounds]] so the two
    * spellings cannot drift. The expression nests textually (each round
    * references its input twice); fine for oracles, unreadable for
    * humans — that is what this generator is for. */
  def portableBucketSql(idExpr: String, salt: Long = 0L): String =
    s"(${portableRankSql(idExpr, salt)} % 100)"

  /** Stronger-mixing bucket (not cross-engine reproducible). */
  def xxhashBucket(id: Column, salt: Long = 0L): Column =
    pmod(xxhash64(id, lit(salt)), lit(100L))

  /** The full-resolution portable mix in [0, 2^32) behind [[hashBucket]]
    * (same rounds, no final mod-100): a deterministic pseudo-random RANK
    * for order-by-hash selections, expressible identically in any SQL
    * engine via [[portableRankSql]]. Same non-negative-id contract and
    * lattice caveat as [[hashBucket]]. */
  def portableRank(id: Column, salt: Long = 0L): Column = {
    require(salt >= 0L && salt < 2147483648L, s"salt out of range: $salt")
    val M = lit(4294967296L)
    val x0 = ((id.cast("long") % lit(1000003L) + lit(salt)) * lit(2654435761L)) % M
    val mixed = MixRounds.foldLeft(x0) { case (x, (sh, k)) =>
      ((x + (x / lit(sh)).cast("long")) * lit(k)) % M
    }
    (mixed + (mixed / lit(65536L)).cast("long")) % M
  }

  /** [[portableRank]] as engine-neutral SQL, generated from the same
    * [[MixRounds]] so the two spellings cannot drift. */
  def portableRankSql(idExpr: String, salt: Long = 0L): String = {
    require(salt >= 0L && salt < 2147483648L, s"salt out of range: $salt")
    val x0 = s"((($idExpr) % 1000003 + $salt) * 2654435761) % 4294967296"
    val mixed = MixRounds.foldLeft(x0) { case (x, (sh, k)) =>
      s"((($x) + ($x) // $sh) * $k) % 4294967296"
    }
    s"((($mixed) + ($mixed) // 65536) % 4294967296)"
  }

  /**
   * Balanced per-group subset: keep exactly `k` rows per `groupCol` value
   * (all of them when the group is smaller), chosen by portable hash
   * rank with doc-id tie-break — the deterministic, replayable version
   * of "sample k docs per source", stable under repartitioning and
   * incremental ingestion where per-group `ORDER BY random() LIMIT k` is
   * neither. Output: the input row plus its 1-based `sample_rank`.
   *
   * Scale shape: one hash-partitioned window per group (row_number over
   * (rank, id) within the group) — groups spread across the cluster, no
   * global sort, no driver state. Heavy skew (one group = the corpus)
   * degrades to that group's partition, the usual window caveat.
   */
  def samplePerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int,
      salt: Long = 0L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!df.columns.contains("sample_rank"),
      "input already has a 'sample_rank' column; rename it — samplePerGroup " +
        "appends 'sample_rank'")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(portableRank(col(idCol), salt), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /**
   * Deterministic training-order shuffle — the last mile before a
   * training job reads the corpus: every row gets a `shard` in
   * [0, numShards) and a 1-based `pos` within its shard, and reading the
   * shards in (shard, pos) order visits the corpus in a fixed
   * pseudo-random permutation of ids. `ORDER BY random()` is neither
   * stable nor resumable; this order is a pure function of (id, salt) —
   * identical across reruns, repartitionings, and cluster sizes, so a
   * job can restart mid-epoch at (shard, pos) and epoch k can reshuffle
   * with salt = k. Same non-negative-id contract as [[portableRank]].
   *
   * Scale shape: this is how corpus-scale shuffles are actually done —
   * never a global sort. One hash-partition shuffle on `shard` plus a
   * per-shard (rank, id) sort window; pick numShards so a shard fits an
   * executor (10k shards at 100 TB ≈ 10 GB each). Shard sizes are
   * balanced by the hash (no skew surface: the key is the mixed rank,
   * not a data value).
   */
  def shuffleOrder(
      df: DataFrame,
      idCol: String,
      numShards: Int,
      salt: Long = 0L): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    Seq("shard", "pos").foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column; rename it — shuffleOrder appends " +
          "'shard' and 'pos'")
    }
    val r = portableRank(col(idCol), salt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(r, col(idCol))
    df.withColumn("shard", (r % lit(numShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
  }

  /** [[shuffleOrder]]'s shard/order expressions as engine-neutral SQL
    * over `idExpr`, for oracle construction — generated from
    * [[portableRankSql]] so the spellings cannot drift. Returns
    * (shardExpr, rankExpr); the oracle replays `pos` as
    * `ROW_NUMBER() OVER (PARTITION BY shardExpr ORDER BY rankExpr, id)`. */
  def shuffleOrderSql(idExpr: String, numShards: Int, salt: Long = 0L)
      : (String, String) = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val rank = portableRankSql(idExpr, salt)
    (s"CAST(($rank) % $numShards AS INT)", rank)
  }

  /**
   * Assign every row to exactly one named split by hashed-id bucket.
   * `weights` are integer percentages summing to 100, consumed in order as
   * cumulative cut points — e.g. `Seq("train" -> 80, "val" -> 10,
   * "test" -> 10)` maps bucket [0,80) -> train, [80,90) -> val,
   * [90,100) -> test.
   *
   * Output: the input row plus `bucket` (long) and `split_name` columns.
   */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Int)],
      salt: Long = 0L): DataFrame =
    assignSplit(df, weights, hashBucket(col(idCol), salt))

  /**
   * Leakage-safe split: every row of a GROUP (registered domain, source,
   * near-dup cluster id...) lands in the SAME split. Per-row hashing
   * scatters a domain's near-identical pages across train and eval —
   * the classic split-leakage bug; keying the bucket on the group makes
   * the split a partition of groups, not rows. Bucket = portable
   * md5-prefix hash of `"<salt>:<group>"` ([[Dsir.featureBucket]]'s
   * engine-replayable spelling at 100 buckets), so re-salting re-deals
   * whole groups and the oracle replays the assignment exactly. NULL
   * groups hash together (deterministically) under the salt alone.
   * Note: split SIZES now follow the group-size distribution — a giant
   * group drags its whole mass into one split; that is the point.
   */
  def groupSplit(
      df: DataFrame,
      groupCol: String,
      weights: Seq[(String, Int)],
      salt: Long = 0L): DataFrame = {
    require(df.columns.contains(groupCol), s"missing column '$groupCol'")
    assignSplit(df, weights,
      Dsir.featureBucket(concat_ws(":", lit(salt), col(groupCol)), 100))
  }

  /** As above with an explicit bucket expression (e.g. [[xxhashBucket]]). */
  def assignSplit(
      df: DataFrame,
      weights: Seq[(String, Int)],
      bucket: Column): DataFrame = {
    if (!(weights.nonEmpty && weights.map(_._2).sum == 100)) {
      throw graft.GraftErrors.invalidSplitWeights(weights,
        "split weights must sum to 100")
    }
    if (!weights.forall(_._2 > 0)) {
      throw graft.GraftErrors.invalidSplitWeights(weights,
        "every split weight must be positive (a non-positive weight makes " +
          "that split empty and shifts the others' cut points)")
    }
    for (c <- Seq("bucket", "split_name"))
      require(!df.columns.contains(c),
        s"input already has a '$c' column; rename it — assignSplit appends " +
          "output columns 'bucket' and 'split_name'")
    val bucketed = df.withColumn("bucket", bucket)
    val cuts = weights.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val expr = weights.zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        Some(acc match {
          case None => when(col("bucket") < cut, lit(name))
          case Some(c) => c.when(col("bucket") < cut, lit(name))
        })
    }.get
    bucketed.withColumn("split_name", expr)
  }

  /**
   * Deterministic Bernoulli-by-hash sample: keep rows whose hash bucket
   * falls below `pct` (a percentage in [0, 100], possibly per-row). Unlike
   * `DataFrame.sample` this is reproducible across reruns, partition
   * layouts, and engines, and a row's membership never changes when the
   * corpus around it grows. Map-side filter — no shuffle.
   */
  def deterministicSample(
      df: DataFrame,
      idCol: String,
      pct: Column,
      salt: Long = 0L): DataFrame =
    df.filter(hashBucket(col(idCol), salt) < pct)

  /**
   * Corpus mixing: apply per-group keep percentages (e.g. up-weight
   * curated sources, down-sample web crawl) in one deterministic pass.
   * Groups absent from `pctByGroup` use `defaultPct`.
   */
  def mixCorpus(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      pctByGroup: Map[String, Int],
      defaultPct: Int,
      salt: Long = 0L): DataFrame = {
    require((pctByGroup.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "keep percentages must be in [0, 100]")
    deterministicSample(df, idCol,
      groupPct(groupCol, pctByGroup, defaultPct), salt)
  }

  /** Per-group percentage as a chained-when column (shared by
    * [[mixCorpus]] and [[upsampleCorpus]]). */
  private def groupPct(
      groupCol: String, pctByGroup: Map[String, Int], defaultPct: Int): Column =
    pctByGroup.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (g, p)) =>
        Some(acc match {
          case None => when(col(groupCol) === g, lit(p))
          case Some(c) => c.when(col(groupCol) === g, lit(p))
        })
    }.fold(lit(defaultPct))(_.otherwise(lit(defaultPct)))

  /**
   * Epoch-style corpus UPsampling — the other half of data mixing
   * ([[mixCorpus]] keeps a fraction; this repeats a source): each group
   * is replicated `pctByGroup(group) / 100` times, with the fractional
   * epoch realized as a deterministic hash-selected subset (the LLaMA /
   * Gopher "epochs per source" recipe — wikipedia 2.5 epochs, web 1,
   * ... — spelled in integer percent so 250 = 2.5 epochs, exact
   * arithmetic end to end). Output: every input column plus `copy_id`
   * (0-based replica index); a doc's replicas are (id, copy_id)
   * distinct, so downstream packing sees them as separate sequences.
   * copy_id < whole epochs always survive; the one fractional replica
   * survives iff the doc's [[hashBucket]] falls under the remainder —
   * the same device (and salt discipline) as [[deterministicSample]],
   * so selection is stable under repartitioning, replay, and
   * incremental ingestion. pct 0 drops the group.
   *
   * Scale shape: one scan, a per-row `explode(sequence(...))` bounded
   * by ceil(maxPct/100) replicas, a codegen'd hash filter — no shuffle,
   * no join, nothing vocabulary- or corpus-sized.
   */
  def upsampleCorpus(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      pctByGroup: Map[String, Int],
      defaultPct: Int = 100,
      salt: Long = 0L): DataFrame = {
    require((pctByGroup.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100000),
      "epoch percentages must be in [0, 100000] (100 = one epoch)")
    require(!df.columns.contains("copy_id"),
      "input already has a 'copy_id' column; rename it — upsampleCorpus appends it")
    Seq("__graft_whole", "__graft_frac", "__graft_reps").foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column; rename it — upsampleCorpus uses it internally")
    }
    val pct = groupPct(groupCol, pctByGroup, defaultPct)
    df
      .withColumn("__graft_whole", (pct.cast("int") / lit(100)).cast("int"))
      .withColumn("__graft_frac", pct.cast("int") % lit(100))
      .withColumn("__graft_reps",
        col("__graft_whole") + when(col("__graft_frac") > 0, 1).otherwise(0))
      .withColumn("copy_id",
        explode(when(col("__graft_reps") > 0,
          sequence(lit(0), col("__graft_reps") - 1))
          .otherwise(array().cast("array<int>"))))
      .filter(col("copy_id") < col("__graft_whole") ||
        hashBucket(col(idCol), salt) < col("__graft_frac"))
      .drop("__graft_whole", "__graft_frac", "__graft_reps")
  }

  /**
   * Token-budget sequence packing: assign documents to contiguous bins of
   * at most ~`budget` total weight (e.g. token count), walking the corpus
   * in `idCol` order — the deterministic greedy-fill rule used to pack
   * training sequences into fixed context windows, and equally a balanced
   * shard assignment for corpus export.
   *
   * bin = (exclusive running weight sum) / budget, so a document lands in
   * the bin that was open when the walk reached it; a document larger than
   * `budget` occupies its own bin(s) boundary-aligned. Built on the
   * scale-safe two-pass [[graft.operators.PrefixSum.runningSum]] — no
   * single-partition window over the data.
   *
   * Requires non-negative weights and globally unique ids.
   */
  def packByBudget(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(!df.columns.contains("bin"),
      "input already has a 'bin' column; rename it — packByBudget appends 'bin'")
    graft.operators.PrefixSum
      .runningSum(df, idCol, weightCol, outCol = "__graft_run")
      // integer division (DIV) — exact at any magnitude, unlike `/` which
      // goes through double and misrounds past 2^53. COALESCE matches
      // runningSum's null-weight-as-0 contract (a bare `run - NULL` would
      // throw the row into a NULL bin instead of the open one). The inner
      // CAST mirrors what runningSum summed — the output weight column
      // itself keeps the caller's type untouched.
      .withColumn("bin",
        expr(s"CAST((__graft_run - COALESCE(CAST(`$weightCol` AS BIGINT), 0L))" +
          s" DIV ${budget}L AS BIGINT)"))
      .drop("__graft_run")
  }

  // ---- sequence packing: one tiling, one window builder -----------------
  //
  // Every packed layout below is the same two steps. [[tileFragments]]
  // cuts the corpus' token stream into fixed windows (one prefix sum, one
  // bounded per-document fragment explode); [[buildWindows]] turns the
  // fragments into materialized windows (one hash aggregation by seq_id).
  // A loss mask is a list of intervals per document: a prompt prefix is
  // the one-interval case, an unmasked layout the empty list. The public
  // packers differ only in their per-row check and the intervals they clip.

  /** The fragment columns [[tileFragments]] can append, in output order. */
  private[graft] val FragCols = Seq("seq_id", "frag_start", "frag_len", "seq_off")

  /** A length column as the tiling reads it: BIGINT, NULL counted as 0
    * (runningSum's null-weight-as-0 contract). */
  private[graft] def lenSql(c: String): String = s"COALESCE(CAST(`$c` AS BIGINT), 0L)"

  /**
   * The one fragment tiling: the rows of `df`, walked in `idCol` order,
   * are one token stream of `lenCol` tokens each, starting at global
   * stream token `startOffset`, cut into `seqLen`-token windows. A row
   * repeats once per window it overlaps, with `seq_id` (the window,
   * covering stream tokens [seq_id·seqLen, (seq_id+1)·seqLen)),
   * `frag_start`/`frag_len` (the fragment's document tokens
   * [frag_start, frag_start + frag_len), 0-based) and `seq_off` (the
   * fragment's offset inside its window). Of these it appends the ones in
   * `appends`, the caller's full list of appended columns, which must be
   * absent from `df`. Zero-length rows emit nothing. `check(len)` gives
   * the per-row (condition, message) SQL that raises instead; it must
   * cover a negative length, which would corrupt the stream layout.
   *
   * Every coordinate is a function of the GLOBAL stream position, so a
   * batch appended at `startOffset` lays out exactly as it would in one
   * run over the whole corpus. Exact integer arithmetic throughout (DIV,
   * never `/`), replayable by any engine. Scale shape: one two-pass
   * [[graft.operators.PrefixSum.runningSum]] (an O(#partitions) offset
   * table, never a single-partition window), then a per-row explode of at
   * most ceil(len/seqLen)+1 fragments. Requires globally unique ids.
   */
  private[graft] def tileFragments(
      df: DataFrame,
      idCol: String,
      lenCol: String,
      seqLen: Long,
      startOffset: Long,
      who: String,
      appends: Seq[String])(check: String => (String, String)): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(startOffset >= 0, s"startOffset must be >= 0, got $startOffset")
    appends.foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column; rename it — $who appends it")
    }
    require(!df.columns.contains("__graft_run"),
      s"input already has a '__graft_run' column; rename it — $who uses it internally")
    val run0 = graft.operators.PrefixSum
      .runningSum(df, idCol, lenCol, outCol = "__graft_run")
    val run =
      if (startOffset == 0L) run0
      else run0.withColumn("__graft_run", col("__graft_run") + lit(startOffset))
    val w = lenSql(lenCol)
    val (bad, error) = check(w)
    val frags = run.withColumn("__graft_f", explode(expr(
      s"""CASE
         |  WHEN $bad THEN raise_error($error)
         |  WHEN $w = 0 THEN CAST(array() AS ARRAY<STRUCT<seq_id: BIGINT, frag_start: BIGINT, frag_len: BIGINT, seq_off: BIGINT>>)
         |  ELSE transform(
         |    sequence((__graft_run - $w) DIV ${seqLen}L,
         |             (__graft_run - 1L) DIV ${seqLen}L),
         |    s -> named_struct(
         |      'seq_id', s,
         |      'frag_start', GREATEST(0L, s * ${seqLen}L - (__graft_run - $w)),
         |      'frag_len',
         |        LEAST($w, (s + 1L) * ${seqLen}L - (__graft_run - $w))
         |          - GREATEST(0L, s * ${seqLen}L - (__graft_run - $w)),
         |      'seq_off', GREATEST(0L, (__graft_run - $w) - s * ${seqLen}L)))
         |END""".stripMargin)))
    FragCols.filter(appends.contains)
      .foldLeft(frags)((d, c) => d.withColumn(c, col(s"__graft_f.$c")))
      .drop("__graft_run", "__graft_f")
  }

  /** [[packSequences]]' row check: a negative weight. */
  private def negativeWeight(w: String): (String, String) =
    (s"$w < 0", s"CONCAT('packSequences: negative weight ', CAST($w AS STRING))")

  /** The SFT row check: 0 <= prompt_len <= total_len. */
  private def promptCheck(promptLenCol: String)(w: String): (String, String) = {
    val p = lenSql(promptLenCol)
    (s"$w < 0 OR $p < 0 OR $p > $w",
      s"""CONCAT('packMaskedSequences: need 0 <= prompt_len <= total_len, got (',
         |  CAST($p AS STRING), ', ', CAST($w AS STRING), ')')""".stripMargin)
  }

  /** Loss intervals `ivsCol` (`array<struct<off, len>>` in document
    * coordinates) clipped to a [[tileFragments]] row's fragment and
    * re-based to its window: the overlapping intervals as
    * `array<struct<loss_off, loss_len>>`, never an empty one. */
  private[graft] def clipIntervals(ivsCol: String): Column = expr(
    s"""transform(
       |  filter(`$ivsCol`, iv ->
       |    iv.off < frag_start + frag_len AND iv.off + iv.len > frag_start),
       |  iv -> named_struct(
       |    'loss_off', seq_off + GREATEST(iv.off, frag_start) - frag_start,
       |    'loss_len', LEAST(iv.off + iv.len, frag_start + frag_len)
       |                - GREATEST(iv.off, frag_start)))""".stripMargin)

  /** No loss mask: the builder's intervals for an unmasked layout. */
  private val NoIntervals =
    expr("CAST(array() AS ARRAY<STRUCT<loss_off: BIGINT, loss_len: BIGINT>>)")

  /** The window builder's documents: `idCol`, the `keep` columns, the
    * token array `toks` as `__graft_toks` and its length as `__graft_n`.
    * A single document's token count must stay below 2^31 (array slices
    * are Int-indexed); the packed stream is unbounded. */
  private[graft] def tokenDocs(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      seqLen: Long,
      who: String,
      keep: Column*): DataFrame = {
    require(seqLen > 0 && seqLen <= Int.MaxValue,
      s"seqLen must be in (0, 2^31) (array slices are Int-indexed; " +
        s"per-DOCUMENT token counts share the same 2^31 bound), got $seqLen")
    Seq("__graft_toks", "__graft_n", "__graft_sorted").foreach { c =>
      require(!docs.columns.contains(c),
        s"input already has a '$c' column; rename it — $who uses it internally")
    }
    docs.select((col(idCol) +: keep) :+ toks.as("__graft_toks"): _*)
      .withColumn("__graft_n", size(col("__graft_toks")).cast("long"))
  }

  /**
   * The one window builder: [[tileFragments]] rows (all four fragment
   * columns) of [[tokenDocs]] documents become one row per `seq_id` by ONE
   * hash aggregation; a group holds only the few documents overlapping
   * one window, so every rebuilt array is bounded by seqLen. `ivs` is the
   * fragment's loss intervals in window coordinates ([[clipIntervals]]).
   * Output: (seq_id, row_base, n_tokens, input_ids, doc_starts,
   * loss_intervals) — `row_base` is the in-window offset of the row's
   * first token (0 unless the row continues a window an earlier batch
   * left partial), `input_ids` the window's tokens in stream order (of the
   * token array's element type), `doc_starts` the in-window offsets where
   * a document's token 0 lands, `loss_intervals` the fragments' intervals
   * in stream order. No global position is needed: a row's fragments tile
   * contiguously from row_base in id order, so an offset is row_base plus
   * the exclusive prefix sum of fragment lengths (a bounded `aggregate`
   * fold over the sorted fragment structs).
   */
  private[graft] def buildWindows(frags: DataFrame, idCol: String, ivs: Column): DataFrame =
    frags
      .select(col(idCol).as("__graft_id"), col("seq_id"),
        slice(col("__graft_toks"),
          (col("frag_start") + lit(1)).cast("int"),
          col("frag_len").cast("int")).as("__graft_frag"),
        col("frag_start"), col("seq_off"), ivs.as("__graft_ivs"))
      .groupBy(col("seq_id"))
      .agg(
        // struct sort orders by the leading __i field (ids are unique
        // within a sequence, so the tail fields never tie-break)
        array_sort(collect_list(struct(
          col("__graft_id").as("__i"),
          col("__graft_frag").as("__ids"),
          col("frag_start").as("__fs"),
          col("seq_off").as("__so"),
          col("__graft_ivs").as("__ivs")))).as("__graft_sorted"))
      .select(col("seq_id"),
        expr("element_at(__graft_sorted, 1).__so").as("row_base"),
        expr("CAST(aggregate(__graft_sorted, 0L, (n, s) -> n + size(s.__ids)) AS BIGINT)")
          .as("n_tokens"),
        flatten(transform(col("__graft_sorted"), s => s.getField("__ids")))
          .as("input_ids"),
        expr("""aggregate(__graft_sorted,
          |  named_struct('off', element_at(__graft_sorted, 1).__so,
          |               'starts', CAST(array() AS ARRAY<BIGINT>)),
          |  (acc, s) -> named_struct(
          |    'off', acc.off + CAST(size(s.__ids) AS BIGINT),
          |    'starts', IF(s.__fs = 0L, array_append(acc.starts, acc.off),
          |                 acc.starts)),
          |  acc -> acc.starts)""".stripMargin).as("doc_starts"),
        // fragments sort in stream order and each fragment's clipped list
        // is ascending, so the flattened list IS the window's interval order
        flatten(transform(col("__graft_sorted"), s => s.getField("__ivs")))
          .as("loss_intervals"))

  /** Unmasked windows of [[tokenDocs]] documents from stream token 0. */
  private def unmaskedWindows(d: DataFrame, idCol: String, seqLen: Long): DataFrame =
    buildWindows(
      tileFragments(d, idCol, "__graft_n", seqLen, 0L, "packSequences", FragCols)(
        negativeWeight),
      idCol, NoIntervals)

  /**
   * LLM-training sequence packing WITH document splitting — example
   * packing: the corpus, walked in `idCol` order, becomes one token
   * stream cut into fixed `seqLen`-token training sequences; a document
   * crossing a boundary is SPLIT across the adjacent sequences. This is
   * the GPT-style pretraining layout (every context window exactly full),
   * in contrast to [[packByBudget]], which keeps documents whole and lets
   * bins run ragged.
   *
   * Output: the input row repeated once per overlapped sequence, plus
   * (seq_id, frag_start, frag_len): sequence `seq_id` covers stream
   * tokens [seq_id·seqLen, (seq_id+1)·seqLen) and the fragment covers
   * document tokens [frag_start, frag_start + frag_len) (0-based).
   * Every token of every document lands in exactly ONE fragment;
   * zero-weight docs emit no rows. This is [[tileFragments]] itself: a
   * pure function of (ids, weights, seqLen), one two-pass prefix sum and
   * a bounded explode. Requires non-negative weights (a negative weight
   * raises per row) and globally unique ids.
   */
  def packSequences(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      seqLen: Long): DataFrame =
    tileFragments(df, idCol, weightCol, seqLen, 0L, "packSequences",
      Seq("seq_id", "frag_start", "frag_len"))(negativeWeight)

  /**
   * [[packSequences]] for SFT / instruction-tuning corpora: each document
   * is a (prompt, response) pair packed as `totalLenCol` stream tokens of
   * which the FIRST `promptLenCol` are excluded from the loss (the
   * standard SFT masking — context tokens train nothing, response tokens
   * do). On top of the example-packing layout this emits, per fragment:
   *
   *  - `seq_off`: the fragment's offset INSIDE its sequence (0-based) —
   *    the coordinate a loss mask is written in;
   *  - `loss_off` / `loss_len`: the fragment's loss interval in sequence
   *    coordinates — the overlap of [frag_start, frag_start + frag_len)
   *    with the document's response span [prompt_len, total_len),
   *    re-based to the sequence (`loss_len = 0` with
   *    `loss_off = seq_off + frag_len` when the fragment is pure prompt).
   *
   * A training job ORs the (loss_off, loss_len) intervals of a sequence's
   * fragments into its loss mask; every response token of every document
   * lands in exactly one interval, prompt tokens in none. Exact integer
   * arithmetic throughout (DuckDB-replayable); per-row raise on negative
   * lengths or `prompt_len > total_len`. Same scale shape as
   * [[packSequences]].
   */
  def packMaskedSequences(
      df: DataFrame,
      idCol: String,
      promptLenCol: String,
      totalLenCol: String,
      seqLen: Long): DataFrame = {
    val p = lenSql(promptLenCol)
    tileFragments(df, idCol, totalLenCol, seqLen, 0L, "packMaskedSequences",
        FragCols ++ Seq("loss_off", "loss_len"))(promptCheck(promptLenCol))
      // loss interval: overlap of the fragment with the response span
      // [prompt_len, total_len), re-based to sequence coordinates — pure
      // projections over the tiled layout, so the mask arithmetic is
      // independently readable (and replayable) from the fragment fields
      .withColumn("loss_len",
        expr(s"GREATEST(0L, frag_start + frag_len - GREATEST(frag_start, $p))"))
      .withColumn("loss_off",
        expr(s"seq_off + LEAST(frag_len, GREATEST(0L, $p - frag_start))"))
  }

  /**
   * The materialized form of [[packSequences]]: the actual training
   * sequences as text — one row per sequence, its `seqLen` tokens
   * assembled in stream order from the fragments of every document it
   * overlaps (the final sequence may be partial). Output: (seq_id,
   * n_tokens, seq_text). The tokenization is [[TextAnalysis.tokens]];
   * the windows are [[buildWindows]]' over string tokens, joined with
   * single spaces. Same scale shape and per-document bound as
   * [[packTokenIds]].
   */
  def assembleSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Long): DataFrame =
    unmaskedWindows(
      tokenDocs(docs, idCol, graft.pipeline.TextAnalysis.tokens(col(textCol)),
        seqLen, "assembleSequences"),
      idCol, seqLen)
      // every window holds tokens, so the COALESCE changes no value; it
      // keeps seq_text typed non-null
      .select(col("seq_id"), col("n_tokens"),
        coalesce(array_join(col("input_ids"), " "), lit("")).as("seq_text"))

  /**
   * Packed TOKEN-ID training sequences — the GPT-pretraining deliverable:
   * documents already expressed as token-id arrays (e.g.
   * [[Bpe.tokenIds]]' output) become fixed-length `seqLen`-token windows
   * of `input_ids`, documents split across window boundaries, with
   * `doc_starts` marking where a NEW document begins inside each window
   * (the attention-mask / loss-boundary input every packed-pretraining
   * loader needs). No text round-trip: re-tokenizing packed TEXT is not
   * token-exact at fragment cuts (a BPE merge can span the cut), so the
   * ids flow straight from the tokenizer through the layout.
   *
   * Output: (seq_id, n_tokens, input_ids ARRAY<BIGINT>,
   * doc_starts ARRAY<BIGINT>) — sequence `seq_id` carries stream tokens
   * [seq_id·seqLen, (seq_id+1)·seqLen) (the last window may be partial),
   * `input_ids` is the window's tokens in stream order, and `doc_starts`
   * the 0-based in-window offsets where a document's token 0 lands
   * (empty when the window is entirely mid-document). Every id of every
   * document appears exactly once across all windows, in document order
   * — the [[packSequences]] layout guarantee, id-for-id.
   *
   * Limit: a SINGLE document's token count must stay below 2^31 (array
   * slices are Int-indexed — Spark arrays themselves cap at ~2^31
   * elements); a longer document fails the slice's ANSI Int cast at
   * runtime. The packed STREAM is unbounded — only per-document length
   * is capped.
   *
   * Scale shape: [[tileFragments]]' two-pass prefix sum + bounded
   * fragment explode, a per-fragment array slice, then [[buildWindows]]'
   * ONE hash aggregation by seq_id.
   */
  def packTokenIds(
      docs: DataFrame,
      idCol: String,
      idsCol: String,
      seqLen: Long): DataFrame =
    unmaskedWindows(
      tokenDocs(docs, idCol, col(idsCol).cast("array<long>"), seqLen, "packTokenIds"),
      idCol, seqLen)
      .select(col("seq_id"), col("n_tokens"), col("input_ids"), col("doc_starts"))

  /**
   * [[packTokenIds]] for SFT corpora — the materialized deliverable of
   * [[packMaskedSequences]]: documents as token-id arrays whose FIRST
   * `promptLenCol` ids are prompt (excluded from loss), packed into
   * fixed `seqLen` windows of `input_ids` + `doc_starts`, PLUS
   * `loss_intervals`: the window's (loss_off, loss_len) response spans
   * in in-window coordinates, stream-ordered and non-overlapping — the
   * loader ORs them into the loss mask. Every response id of every
   * document is covered by exactly one interval across all windows,
   * prompt ids by none. The response span is the one loss interval
   * [prompt_len, total_len), so this is [[Chat.packTokenIds]] over
   * single-prefix intervals, row for row. Same per-document 2^31 bound
   * and scale shape as [[packTokenIds]].
   */
  def packMaskedTokenIds(
      docs: DataFrame,
      idCol: String,
      idsCol: String,
      promptLenCol: String,
      seqLen: Long): DataFrame =
    packMaskedTokenIdsFrom(docs, idCol, idsCol, promptLenCol, seqLen, 0L)
      .drop("row_base")

  /**
   * [[packMaskedTokenIds]] for an APPEND batch of a longer stream: the
   * batch's documents are laid out as if they started at global stream
   * token `startOffset` (the committed length of everything packed
   * before them), so seq ids, loss intervals, and doc starts all land in
   * GLOBAL coordinates. One extra column, `row_base`: the in-window
   * offset of this row's first token — 0 except on the batch's first
   * window when it CONTINUES a window the previous batch left partial;
   * a reader merges such split rows by concatenating in `row_base`
   * order ([[graft.streaming.ShardStreaming.committedPackedShards]]).
   * With `startOffset = 0` over a whole corpus this is exactly
   * [[packMaskedTokenIds]] plus an all-zero `row_base`.
   */
  def packMaskedTokenIdsFrom(
      docs: DataFrame,
      idCol: String,
      idsCol: String,
      promptLenCol: String,
      seqLen: Long,
      startOffset: Long): DataFrame = {
    val p = lenSql(promptLenCol)
    val d = tokenDocs(docs, idCol, col(idsCol).cast("array<long>"), seqLen,
        "packMaskedTokenIds", col(promptLenCol))
      // the response span [prompt_len, n) as the one loss interval, kept
      // when non-empty
      .withColumn("__graft_resp", expr(
        s"""filter(array(named_struct('off', $p, 'len', ${lenSql("__graft_n")} - $p)),
           |  iv -> iv.len > 0L)""".stripMargin))
    buildWindows(
      tileFragments(d, idCol, "__graft_n", seqLen, startOffset,
        "packMaskedTokenIds", FragCols)(promptCheck(promptLenCol)),
      idCol, clipIntervals("__graft_resp"))
  }

  /**
   * The sink end of the pipeline: write `df` as deterministic
   * token-budgeted shards — `path/bin=K/` parquet directories where
   * each shard holds a CONTIGUOUS id range summing to at most
   * `tokensPerShard` weight (the [[packByBudget]] assignment, so shard
   * membership is a pure function of the data: stable across reruns,
   * partitionings, and cluster sizes — what a training job needs to
   * resume or re-read a specific shard). Returns the per-shard summary
   * (bin, docs, weight) the caller can persist as a manifest.
   *
   * Scale shape: packByBudget's two-pass prefix sum (never a global
   * sort), then one `repartition(bin)` shuffle so each shard is written
   * by one task as one file set — without it, every task appends to
   * every `bin=K/` directory and a 10k-shard export produces
   * tasks×shards small files. The manifest aggregates the files JUST
   * WRITTEN (a column-pruned bin+weight read), not a re-execution of
   * the input plan — so it describes the shards on disk by
   * construction, even if the upstream plan were nondeterministic or
   * its shuffle files evicted between the two passes.
   */
  def exportShards(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      path: String,
      tokensPerShard: Long): DataFrame =
    writeShards(packByBudget(df, idCol, weightCol, tokensPerShard),
      idCol, weightCol, path, Seq("bin"))

  /**
   * [[exportShards]] for a SPLIT corpus — the sink end of a chain that
   * emits leakage-safe splits ([[groupSplit]] / the curation chain's
   * cluster-keyed stage): each split packs INDEPENDENTLY, so every shard
   * file is train-only or eval-only by layout (`path/<splitCol>=S/bin=K/`
   * — a shared bin numbering would mix splits inside one shard file and
   * the training job would have to re-filter every read). Returns the
   * per-shard manifest (split, bin, docs, weight), aggregated from the
   * files JUST WRITTEN like [[exportShards]].
   *
   * Scale shape: one [[packByBudget]] prefix-sum pass per split — the
   * split set is a handful by contract (train/val/test), enforced with a
   * driver-side bound — then ONE repartition on (split, bin) over the
   * union so each shard is written by one task as one file set.
   */
  def exportSplitShards(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      splitCol: String,
      path: String,
      tokensPerShard: Long): DataFrame = {
    require(df.columns.contains(splitCol), s"missing column '$splitCol'")
    val rawSplits = df.select(col(splitCol).cast("string")).distinct()
      .collect().map(r => Option(r.getString(0)))
    // a NULL split name must fail, not silently export into no shard: the
    // per-split filters below would skip those rows entirely (the sibling
    // exportShards exports every row — this sink must too, or say why not)
    require(!rawSplits.contains(None),
      s"NULL values in '$splitCol': every row must carry a split name — " +
        "rows with a NULL split would land in no shard and no manifest row")
    val splits = rawSplits.flatten.sorted.toSeq
    require(splits.nonEmpty, "no rows to export")
    require(splits.size <= 64,
      s"${splits.size} distinct '$splitCol' values — the split column " +
        "should carry a few split names (train/val/test), not a corpus key; " +
        "each split pays its own packing pass")
    val binned = splits.map { sName =>
      packByBudget(df.filter(col(splitCol) === sName),
        idCol, weightCol, tokensPerShard)
    }.reduce(_ unionByName _)
    writeShards(binned, idCol, weightCol, path, Seq(splitCol, "bin"))
  }

  /** Both exports' write: one shuffle on the shard key `keys` (`bin`
    * last), so each shard is written by one task as one file set, rows in
    * (keys, id) order under `path/<key>=<v>/...`; then the manifest
    * (keys, docs, weight) aggregated from the files just written — the
    * leading keys read back as strings, `bin` as long. */
  private def writeShards(
      binned: DataFrame,
      idCol: String,
      weightCol: String,
      path: String,
      keys: Seq[String]): DataFrame = {
    binned
      .repartition(keys.map(col): _*)
      .sortWithinPartitions((keys :+ idCol).map(col): _*)
      .write.mode("overwrite").partitionBy(keys: _*).parquet(path)
    binned.sparkSession.read.parquet(path)
      .groupBy(keys.init.map(k => col(k).cast("string").as(k)) :+
        col("bin").cast("long").as("bin"): _*)
      .agg(count(lit(1)).as("docs"),
        sum(coalesce(col(weightCol).cast("long"), lit(0L))).as("weight"))
      .orderBy(keys.map(col): _*)
  }
}
