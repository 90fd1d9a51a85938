package perfbench

/**
 * The per-layer metrics of a traced run. Every workload prints every name;
 * a layer the workload does not call into reads 0.
 */
object Layers {
  val Stages = Seq("normalize", "gopher", "exact_dedup", "lsh", "langid", "pack")

  val names: Seq[String] = Seq(
    "core.add_hit_ns", "core.add_evict_ns", "core.prune_ms", "core.prunes_per_mrow",
    "core.merge_ms", "core.pack_ms", "core.serialize_us", "core.deserialize_us",
    "core.state_bytes", "core.loss_bound",
    "expressions.add_agg_rows_per_cpu_s", "expressions.partial_state_bytes",
    "expressions.union_sketches_per_cpu_s",
    "operators.sliding_narrow_ms", "operators.sliding_wide_ms",
    "operators.hierarchical_union_ms", "operators.plan_build_ms",
    "streaming.batch_commit_ms", "streaming.periods_rewritten_per_batch",
    "streaming.bytes_written_per_event", "streaming.files_per_batch",
    "streaming.read_amplification") ++
    Stages.flatMap(s => Seq(s"pipeline.${s}_s", s"pipeline.${s}_cpu_s", s"pipeline.${s}_shuffle_bytes")) ++
    Seq("pipeline.lsh_pairs", "pipeline.lsh_pairs_per_shuffle_record",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.plan_ms", "spark.exec_ms",
      "spark.executor_cpu_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.spill_bytes", "spark.gc_s", "spark.exact_topk_s", "trace.overhead_pct")

  val units: Map[String, String] = names.map { n =>
    n -> (n match {
      case x if x.endsWith("_per_cpu_s") => "1/s"
      case "streaming.bytes_written_per_event" => "bytes"
      case "streaming.read_amplification" | "pipeline.lsh_pairs_per_shuffle_record" => "ratio"
      case x if x.endsWith("_ns") => "ns"
      case x if x.endsWith("_us") => "us"
      case x if x.endsWith("_ms") => "ms"
      case x if x.endsWith("_s") => "s"
      case x if x.endsWith("_bytes") => "bytes"
      case x if x.endsWith("_pct") => "%"
      case _ => "count"
    })
  }.toMap

  private def med(ops: Seq[Op])(f: Op => Double): Double = Main.median(ops.map(f))

  def all(ctx: Ctx, w: Workload, timed: Seq[Op], core: Map[String, Double]): Seq[(String, Double, String)] = {
    val traced = timed.filter(o => o.traced && o.primary)
    val spark = Map(
      "spark.jobs" -> med(traced)(_.sparkOf("jobs").toDouble),
      "spark.stages" -> med(traced)(_.sparkOf("stages").toDouble),
      "spark.tasks" -> med(traced)(_.sparkOf("tasks").toDouble),
      "spark.plan_ms" -> med(traced)(_.sparkOf("plan_ns") / 1e6),
      "spark.exec_ms" -> med(traced)(o => o.ms - o.sparkOf("plan_ns") / 1e6),
      "spark.executor_cpu_s" -> med(traced)(_.sparkOf("cpu_ns") / 1e9),
      "spark.shuffle_write_bytes" -> med(traced)(_.sparkOf("shuffle_write_bytes").toDouble),
      "spark.shuffle_read_bytes" -> med(traced)(_.sparkOf("shuffle_read_bytes").toDouble),
      "spark.spill_bytes" -> med(traced)(_.sparkOf("spill_bytes").toDouble),
      "spark.gc_s" -> med(traced)(_.sparkOf("gc_ns") / 1e9),
      "trace.overhead_pct" -> overheadPct(timed))
    val got = core ++ spark ++ w.layers(timed)
    val unknown = got.keySet -- names
    require(unknown.isEmpty, s"layer metrics without a declared name: $unknown")
    names.map(n => (n, got.getOrElse(n, 0.0), units(n)))
  }

  /** Traced against untraced steps of the same run, per operation kind:
    * the sum of the traced medians over the sum of the untraced ones. */
  private def overheadPct(timed: Seq[Op]): Double = {
    val pairs = timed.filter(_.primary).groupBy(_.kind).values.flatMap { os =>
      val (on, off) = os.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some((Main.median(on.map(_.ms)), Main.median(off.map(_.ms))))
    }
    if (pairs.isEmpty) 0.0 else (pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0) * 100.0
  }
}
