package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: `op` is the id shared by every span of one timed
  * operation (one conversion, one edit, one curation pass). */
case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's own calls into the engine. Enabled, a span
 * records (name, start, end, parent, op) in
 * memory and tags the calling thread's Spark jobs with the span id through
 * a local property — Spark copies local properties into threads created
 * while it is set, so the pools `exportAll` starts inherit it.
 */
final class Tracer(sc: SparkContext) {
  val SpanProperty = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile private var currentOp = 0L
  /** Off, a span is a plain call. */
  @volatile var enabled = false
  // innermost open span per thread, for the sampler's fallback
  private val open = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, String]()

  /** Name of the innermost span `t` is inside, if any. */
  def openSpan(t: Thread): Option[String] = Option(open.get(t.getId))

  def newOp(): Long = { currentOp = ids.incrementAndGet(); currentOp }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanProperty)
      val tid = Thread.currentThread.getId
      val prevName = open.put(tid, name)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        if (prevName == null) open.remove(tid) else open.put(tid, prevName)
        sc.setLocalProperty(SpanProperty, prevProp)
        spans.synchronized(spans += Span(id, parent, currentOp, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Total seconds spent in spans named `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  def writeJson(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach(s => w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)) + "\n"))
    finally w.close()
  }
}

/**
 * Spark-listener counters: jobs, tasks, shuffle and spill bytes, task run
 * time, and the wall intervals during which any job ran. Jobs are counted
 * per span (the local property [[Tracer]] sets).
 */
final class SparkCounters(spanProperty: String) extends SparkListener {
  private val lock = new Object
  private val stageJob = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, Long]()
  private val traced = mutable.Set[Int]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  val jobsBySpan = mutable.Map[Long, Long]().withDefaultValue(0L)
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  // only jobs submitted inside a span count: untraced operations of a
  // traced run carry no span property and leave every counter alone
  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(spanProperty))).foreach { span =>
      jobs += 1
      jobsBySpan(span.toLong) += 1
      traced += e.jobId
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (stageJob.get(e.stageId).exists(traced)) {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskRunMs += m.executorRunTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Milliseconds of [from, to] covered by at least one traced job. */
  def busyWallMs(from: Long, to: Long): Long = lock.synchronized {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/**
 * Wall-clock sampler that splits the engine calls the spans cannot see
 * into (a session's `addDomain` scans, hints and scores; `exportAll` runs
 * stats, XPT, Dataset-XML and Define-XML) without instrumenting the engine.
 * Every `periodMs` it reads the stacks of the threads that call the engine
 * and charges the tick to each thread's innermost engine layer — or, when
 * the thread runs the benchmark's own code (an action on a frame an
 * engine call returned), to its innermost open span — split evenly
 * between threads, or to `outside` when none is busy, so the buckets add
 * up to the sampled wall time. Ingest reads lazily, so a source's CSV is
 * parsed inside whichever action first touches it (the hints aggregate):
 * the share of running Spark tasks found parsing CSV moves that part of
 * the tick to `sources.scan`. With several callers at once this split is
 * an approximation, since a task is not tied to the caller that waits on
 * it.
 */
final class StackSampler(periodMs: Long, openSpan: Thread => Option[String]) {
  private val seconds = mutable.Map[String, Double]().withDefaultValue(0.0)
  @volatile private var running = false
  /** Ticks are charged only while active (during traced operations). */
  @volatile var active = false
  private var thread: Thread = _

  def start(): Unit = {
    running = true
    thread = new Thread(() => {
      var last = System.nanoTime()
      while (running) {
        Thread.sleep(periodMs)
        val now = System.nanoTime()
        val dt = (now - last) / 1e9
        last = now
        if (active) {
          val (callers, tasks) = StackSampler.threads()
          val scan = StackSampler.scanShare(tasks.map(_.getStackTrace))
          val layers = callers.flatMap(t =>
            StackSampler.layerOf(t.getStackTrace).orElse(openSpan(t)))
          seconds.synchronized {
            if (layers.isEmpty) seconds("outside") += dt
            else layers.foreach { l =>
              // the share of the running tasks that parse CSV is scan time,
              // whichever layer's action started them
              val share = dt / layers.length
              val scanned = if (l.startsWith("sources.")) 0.0 else share * scan
              seconds("sources.scan") += scanned
              seconds(l) += share - scanned
            }
          }
        }
      }
    }, "perfbench-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = { running = false; if (thread != null) thread.join() }

  def snapshot: Map[String, Double] = seconds.synchronized(seconds.toMap)
}

object StackSampler {
  /** The threads that can be inside engine calls — the caller's and the
    * engine's own pools (`exportAll`, `StudySession.create`) — and Spark's
    * task threads. A task's time is the wall time of a caller waiting on
    * its job, so task threads only decide how much of that wait is a CSV
    * scan; every other Spark thread is left out, which keeps each tick to
    * a few single-thread stack walks instead of a global thread dump. */
  def threads(): (Seq[Thread], Seq[Thread]) = {
    var group = Thread.currentThread.getThreadGroup
    while (group.getParent != null) group = group.getParent
    val all = new Array[Thread](group.activeCount() * 2 + 16)
    val n = group.enumerate(all, true)
    val ts = all.take(n).toSeq
    (ts.filter(t => t.getName == "main" || t.getName.startsWith("pool-")),
      ts.filter(_.getName.startsWith("Executor task launch worker")))
  }

  private val CsvParsing = Seq("org.apache.spark.sql.catalyst.csv.",
    "org.apache.spark.sql.execution.datasources.csv.", "com.univocity.parsers.")

  /** Share of the running tasks that are parsing CSV input right now. */
  def scanShare(taskStacks: Seq[Array[StackTraceElement]]): Double = {
    val running = taskStacks.filter(_.exists(f =>
      f.getClassName == "org.apache.spark.scheduler.Task" && f.getMethodName == "run"))
    if (running.isEmpty) 0.0
    else running.count(_.exists(f => CsvParsing.exists(f.getClassName.startsWith))).toDouble /
      running.size
  }

  /** Innermost engine layer on a stack, or None when the thread is not in
    * engine code. Shared helpers (`graft.functions`, `graft.expressions`,
    * `graft.Graft`) defer to the caller further out. */
  def layerOf(stack: Array[StackTraceElement]): Option[String] = {
    var i = 0
    while (i < stack.length) {
      val f = stack(i)
      val c = f.getClassName
      if (c.startsWith("graft.")) {
        if (c.startsWith("graft.perfbench.")) return None
        val l = classify(c, f.getMethodName)
        if (l.nonEmpty) return l
      }
      i += 1
    }
    None
  }

  private def classify(cls: String, method: String): Option[String] = {
    val c = cls.stripPrefix("graft.").takeWhile(_ != '$')
    c match {
      case "sources.ItemsMetadata" => Some("sources.items")
      case "sources.CsvIngest" => Some("sources.scan")
      case "operators.Mapping" if method.startsWith("columnHints") => Some("mapping.hints")
      case "operators.Mapping" | "operators.MappingState" => Some("mapping.suggest")
      case "operators.RuleInference" | "operators.Normalize" | "operators.Reshape" => Some("normalize")
      case "operators.DomainValidation" | "operators.Validate" => Some("validate")
      case "sinks.XptWriter" => Some("sinks.xpt")
      case "sinks.XmlSinks" if method.startsWith("varStats") => Some("sinks.stats")
      case "sinks.XmlSinks" if method.startsWith("writeDefine") => Some("sinks.define")
      case "sinks.XmlSinks" => Some("sinks.dataset_xml")
      case "session.Persistence" => Some("session.persist")
      case s if s.startsWith("session.") => Some("session")
      case "operators.Dedup" => Some("dedup")
      case "operators.TextAnalysis" => Some("text")
      case "operators.Sampling" => Some("sampling")
      case s if s.startsWith("functions.") || s.startsWith("expressions.") || s == "Graft" => None
      case _ => Some("other")
    }
  }
}
