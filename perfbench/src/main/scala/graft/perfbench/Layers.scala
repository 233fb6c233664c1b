package graft.perfbench

/**
 * The traced run's per-layer metrics. Times are seconds per traced
 * operation, from spans around the benchmark's calls (`*.domain_s`,
 * `sinks.export_s`, …) or, where one engine call spans several layers,
 * from the stack sampler (`sources.scan_s`, `mapping.hints_s`,
 * `sinks.xpt_s`, …). Every workload reports every metric; a layer the
 * workload does not touch reads 0.
 */
object Layers {

  /** (metric, unit) in report order; mirrors `per_layer` in BENCHMARK.json. */
  val Metrics: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.items_s" -> "s", "sources.rows" -> "count",
    "sources.bytes_read" -> "bytes",
    "mapping.hints_s" -> "s", "mapping.suggest_s" -> "s", "mapping.pairs_scored" -> "count",
    "normalize.plan_s" -> "s", "normalize.plan_nodes" -> "count", "normalize.head_s" -> "s",
    "validate.domain_s" -> "s", "validate.cross_s" -> "s", "validate.jobs" -> "count",
    "validate.issues" -> "count",
    "sinks.export_s" -> "s", "sinks.stats_s" -> "s", "sinks.xpt_s" -> "s",
    "sinks.dataset_xml_s" -> "s", "sinks.define_s" -> "s", "sinks.bytes_written" -> "bytes",
    "session.create_s" -> "s", "session.save_s" -> "s", "session.load_s" -> "s",
    "dedup.lsh_s" -> "s", "dedup.candidates" -> "count", "dedup.confirmed" -> "count",
    "dedup.candidate_precision" -> "ratio", "dedup.decontam_s" -> "s",
    "text.quality_s" -> "s", "sampling.split_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.busy_ratio" -> "ratio", "spark.driver_gap_s" -> "s",
    "share.sources" -> "ratio", "share.mapping" -> "ratio", "share.normalize" -> "ratio",
    "share.validate" -> "ratio", "share.sinks" -> "ratio", "share.session" -> "ratio",
    "share.dedup" -> "ratio", "share.text" -> "ratio", "share.sampling" -> "ratio",
    "trace.dominant_share" -> "ratio", "trace.traced_op_s" -> "s",
    "trace.untraced_op_s" -> "s", "trace.overhead_s" -> "s", "trace.ops" -> "count")

  /** Span names whose per-operation total is a metric of the same name. */
  private val SpanMetrics = Seq("normalize.plan", "normalize.head", "validate.domain",
    "validate.cross", "sinks.export", "session.create", "session.save", "session.load",
    "dedup.lsh", "dedup.decontam", "text.quality", "sampling.split")

  /** Stack-sampler buckets reported as `<bucket>_s`. */
  private val SampledMetrics = Seq("sources.scan", "sources.items", "mapping.hints",
    "mapping.suggest", "sinks.stats", "sinks.xpt", "sinks.dataset_xml", "sinks.define")

  /** @param traced (seconds, start ms, end ms) of each traced operation
    * @param untraced seconds of each untraced operation of the same run
    * @param overheads each traced operation's seconds minus the mean of its
    *   two untraced neighbours' */
  def compute(workload: Workload, env: Env, counters: SparkCounters,
      sampled: Map[String, Double], cores: Int, traced: Seq[(Double, Long, Long)],
      untraced: Seq[Double], overheads: Seq[Double]): Seq[(String, RawJson)] = {
    val n = math.max(traced.size, 1)
    val wall = traced.map(_._1).sum
    val spans = env.tracer.all
    val values = scala.collection.mutable.Map[String, Double]()
    SpanMetrics.foreach(s => values(s + "_s") = env.tracer.total(s) / n)
    SampledMetrics.foreach(b => values(b + "_s") = sampled.getOrElse(b, 0.0) / n)
    val validateSpans = spans.filter(_.name.startsWith("validate.")).map(_.id).toSet
    values("validate.jobs") =
      counters.jobsBySpan.collect { case (id, j) if validateSpans(id) => j }.sum.toDouble / n
    values("sources.bytes_read") = counters.inputBytes.toDouble / n
    values("spark.jobs") = counters.jobs.toDouble / n
    values("spark.tasks") = counters.tasks.toDouble / n
    values("spark.shuffle_write_bytes") = counters.shuffleWriteBytes.toDouble / n
    values("spark.spill_bytes") = counters.spillBytes.toDouble / n
    values("spark.busy_ratio") = if (wall > 0) counters.taskRunMs / 1e3 / (wall * cores) else 0.0
    values("spark.driver_gap_s") =
      traced.map { case (s, a, b) => s - counters.busyWallMs(a, b) / 1e3 }.sum / n

    // layer shares of the traced wall time, from the sampler's buckets
    val layerOf = (bucket: String) => bucket.takeWhile(_ != '.')
    val byLayer = sampled.groupMapReduce(kv => layerOf(kv._1))(_._2)(_ + _)
    Seq("sources", "mapping", "normalize", "validate", "sinks", "session", "dedup", "text",
      "sampling").foreach(l => values(s"share.$l") = if (wall > 0) byLayer.getOrElse(l, 0.0) / wall else 0.0)
    values("trace.dominant_share") = workload.dominantLayers.toSeq.map(l => values(s"share.$l")).sum
    values("trace.traced_op_s") = Stats.median(traced.map(_._1))
    values("trace.untraced_op_s") = Stats.median(untraced)
    values("trace.overhead_s") = Stats.median(overheads)
    values("trace.ops") = traced.size.toDouble
    values ++= workload.layerCounts(env, n)
    Metrics.map { case (name, unit) => name -> Stats.metric(values.getOrElse(name, 0.0), unit) }
  }
}
