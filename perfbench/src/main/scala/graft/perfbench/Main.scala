package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

/**
 * The repo benchmark's driver: one closed-loop client on `local[nproc]`.
 *
 * {{{
 *   Main --workload <study_convert|study_edit|corpus_curate> --seed <n>
 *        --seconds <s> --trace <0|1> --work <dir>
 *        --spans <file>
 * }}}
 *
 * Set-up (Spark session, seeded inputs, and for `study_edit` the session
 * open) runs once; `setup_s` is timed from JVM start to its end. The
 * workload's `warmupOps` then run untimed, and exactly
 * `timedOps(--seconds)` operations are timed, so every run of a workload
 * times the same work. Every operation's outputs are checked. The last
 * stdout line is the result object; the line before it is a report with
 * the workload's own metrics and sample counts.
 *
 * The result's metrics are `setup_s`, `throughput_per_s` (the workload's
 * work units per median operation second) and `peak_rss_mb`.
 *
 * `--trace 1` reports the per-layer metrics instead: after at least one
 * warm-up it runs untraced and traced operations in turn, starting and
 * ending with an untraced one; traced ones record spans (dumped to
 * `--spans`), Spark-listener counters and a stack-sampled layer split,
 * and the per-layer metrics are means per traced operation.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val workload = Workload(opt("workload"))
    val cores = Runtime.getRuntime.availableProcessors()

    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)

    // ---- set-up, timed from JVM start ---------------------------------------
    val spark = graft.Graft.session("perfbench", s"local[$cores]")
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    val tracer = new Tracer(spark.sparkContext)
    val env = new Env(spark, work, tracer, seed)
    workload.setup(env)
    val setupSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"perfbench: set-up $setupSeconds%.2f s")
    val counters = new SparkCounters(tracer.SpanProperty)
    val sampler = new StackSampler(periodMs = 20, tracer.openSpan)
    if (trace) { spark.sparkContext.addSparkListener(counters); sampler.start() }

    // ---- the closed loop ---------------------------------------------------
    case class Done(result: OpResult, traced: Boolean, startMs: Long, endMs: Long)
    var attempted = 0L
    var failed = 0L
    val failures = Seq.newBuilder[String]
    def attempt(i: Int, traced: Boolean): Option[Done] = {
      tracer.enabled = traced
      sampler.active = traced
      if (traced) tracer.newOp()
      val startMs = System.currentTimeMillis()
      val r = Try(workload.run(env, i))
      val endMs = System.currentTimeMillis()
      tracer.enabled = false
      sampler.active = false
      attempted += 1
      System.err.println(f"perfbench: op $i ${(endMs - startMs) / 1e3}%.2f s " +
        r.fold(e => s"threw $e", res => if (res.failures.isEmpty) "ok" else res.failures.mkString("; ")))
      r match {
        case Success(res) if res.failures.isEmpty => Some(Done(res, traced, startMs, endMs))
        case Success(res) => failed += 1; failures ++= res.failures; None
        case Failure(e) => failed += 1; failures += s"op $i threw: $e"; None
      }
    }
    // warm-up operations are checked but not timed; a traced run needs at
    // least one, since its first operation would be cold
    val warmup = if (trace) math.max(workload.warmupOps, 1) else workload.warmupOps
    (0 until warmup).foreach(i => attempt(i, traced = false))
    // the traced run: U T U … T U, so each traced operation sits between two
    // untraced ones and its overhead is taken against their mean, which
    // cancels the drift of a run that is still warming up
    val timed = workload.timedOps(seconds)
    val tracedOps = math.max(1, timed / 2)
    val plan = if (trace) Seq.tabulate(2 * tracedOps + 1)(_ % 2 == 1) else Seq.fill(timed)(false)
    val outcomes = plan.zipWithIndex.map { case (traced, j) => attempt(warmup + j, traced) }
    sampler.stop()
    val ops = outcomes.flatten
    val peakRssMb = Stats.peakRssMb()

    // ---- results ----------------------------------------------------------
    val opSeconds = ops.map(_.result.seconds)
    val report = Seq.newBuilder[(String, Any)]
    report += "workload" -> workload.name
    report += "seed" -> seed
    report += "setup_s" -> Stats.metric(setupSeconds, "s", 1)
    report += "op_p50_s" -> Stats.metric(Stats.median(opSeconds), "s", opSeconds.size)
    report += "op_tail_s" -> Stats.metric(Stats.tail(opSeconds), "s", opSeconds.size)
    val units = ops.headOption.map(_.result.units).getOrElse(0L)
    val throughput = units / Stats.median(opSeconds)
    report += workload.throughputName -> Stats.metric(throughput, s"${workload.unit}/s", opSeconds.size)
    for (phase <- ops.flatMap(_.result.samples.keys).distinct) {
      val xs = ops.flatMap(_.result.samples(phase))
      report += s"${phase}_p50_s" -> Stats.metric(Stats.median(xs), "s", xs.size)
      report += s"${phase}_tail_s" -> Stats.metric(Stats.tail(xs), "s", xs.size)
    }
    report += "failed_ratio" -> Stats.metric(failed.toDouble / math.max(attempted, 1L), "ratio",
      attempted.toInt)
    report += "peak_rss_mb" -> Stats.metric(peakRssMb, "MB", 1)
    report += "failures" -> failures.result().take(20)

    val metrics: Seq[(String, Any)] =
      if (!trace) Seq(
        "setup_s" -> Stats.metric(setupSeconds, "s"),
        "throughput_per_s" -> Stats.metric(throughput, "1/s"),
        "peak_rss_mb" -> Stats.metric(peakRssMb, "MB"))
      else {
        // each traced operation against the mean of its untraced neighbours
        val overheads = outcomes.indices.collect {
          case j if plan(j) => (outcomes(j - 1), outcomes(j), outcomes(j + 1))
        }.collect { case (Some(u0), Some(t), Some(u1)) =>
          t.result.seconds - (u0.result.seconds + u1.result.seconds) / 2
        }
        val layer = Layers.compute(workload, env, counters, sampler.snapshot, cores,
          ops.filter(_.traced).map(d => (d.result.seconds, d.startMs, d.endMs)),
          ops.filterNot(_.traced).map(_.result.seconds), overheads)
        tracer.writeJson(Paths.get(opt("spans")))
        report += "spans" -> opt("spans")
        layer
      }
    println(Json.obj(Seq("report" -> RawJson(Json.obj(report.result())))))
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> RawJson(Json.obj(metrics)))))
    Console.out.flush()
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it, and
    * never below the median (with 21 samples or fewer it is the median). */
  def tail(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    math.max(median(s), if (s.size > 10) s(s.size - 11) else Double.MinValue)
  }

  def metric(value: Double, unit: String): RawJson =
    RawJson(Json.obj(Seq("value" -> value, "unit" -> unit)))

  def metric(value: Double, unit: String, samples: Int): RawJson =
    RawJson(Json.obj(Seq("value" -> value, "unit" -> unit, "samples" -> samples)))

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
