package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, TextAnalysis}
import graft.session.{AutoSaveConfig, Persistence, StudySession}

/** One timed operation: its wall seconds, per-phase samples, the output
  * checks it failed, and the work units it completed. */
case class OpResult(seconds: Double, samples: Map[String, Seq[Double]],
    failures: Seq[String], units: Long)

/** What a workload gets from the harness. */
final class Env(val spark: SparkSession, val work: Path, val tracer: Tracer, val seed: Long)

trait Workload {
  def name: String
  /** What one work unit is (`rows`, `edits`, `docs`). */
  def unit: String
  /** The report's name for work units per median operation second. */
  def throughputName: String
  /** Untimed operations before timing starts (JIT and codegen warm-up). */
  def warmupOps: Int = 1
  /** About how long one warm operation takes on a 4-vCPU host. */
  def nominalOpSeconds: Double
  /** Timed operations in a run of `seconds`: a fixed count for a given
    * `--seconds`, never fewer than `minTimedOps`, so a faster host or a
    * faster commit times the same operations, not more of them. */
  def timedOps(seconds: Double): Int =
    math.max(minTimedOps, math.round(seconds / nominalOpSeconds).toInt)
  def minTimedOps: Int = 3
  /** Layers the traced run should find dominant on this workload. */
  def dominantLayers: Set[String]
  /** Generate the inputs and build per-run state — the timed set-up. */
  def setup(env: Env): Unit
  /** One closed-loop operation, output checks included (untimed). */
  def run(env: Env, i: Int): OpResult
  /** Layer counts for the traced run, per traced operation. */
  def layerCounts(env: Env, tracedOps: Int): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "study_convert" =>
      new StudyConvert(StudyGen.Size(60, 6, Seq("DM", "LB", "VS", "RELSUB")))
    case "study_edit" => new StudyEdit(StudyGen.Size(300, 8, Seq("DM", "LB")))
    case "corpus_curate" => new CorpusCurate(CorpusGen.Size(1500, 600, 100))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}

/** Opening a study the way a clinical programmer does: Items.csv and
  * CodeLists.csv first (labels and the X/XCD decode), then every domain,
  * then the scorer's suggestions accepted. */
object Study {
  def open(env: Env, folder: Path, m: StudyManifest): StudySession =
    env.tracer.span("session.create") {
      val s = new StudySession(env.spark, m.studyId)
      s.loadItemsMetadata(folder.resolve("Items.csv").toString,
        codeListsCsvPath = Some(folder.resolve("CodeLists.csv").toString), itemsHeaderRows = 1)
      m.files.toSeq.sorted.foreach { case (code, file) =>
        s.addDomain(code, folder.resolve(file).toString, headerRows = 2)
      }
      s.domainCodes.foreach(s.acceptAllSuggestions)
      s
    }

  /** Source-column × target-variable pairs the scorer rated. */
  def pairsScored(s: StudySession): Long = s.domainCodes.flatMap(s.domainState).map { ds =>
    (ds.source.columns.length - 1).toLong * ds.mapping.variableNames.size
  }.sum

  def release(s: StudySession): Unit =
    s.domainCodes.flatMap(s.domainState).foreach(_.source.unpersist())
}

/** A cold conversion per operation: open, validate, export, save, load. */
final class StudyConvert(size: StudyGen.Size) extends Workload {
  val name = "study_convert"
  val unit = "rows"
  val throughputName = "convert_rows_per_s"
  // each run times exactly one conversion, the first and cold one, as a
  // user's fresh process would see it
  override val warmupOps = 0
  val nominalOpSeconds = 40.0
  override def timedOps(seconds: Double): Int = 1
  val dominantLayers: Set[String] = Set("sources", "validate", "sinks")
  private var folder: Path = _
  private var manifest: StudyManifest = _
  private var pairs = 0L
  private var issuesSeen = 0L
  private var bytesWritten = 0L

  def setup(env: Env): Unit = {
    folder = env.work.resolve("study")
    manifest = StudyGen.write(folder, env.seed, size)
  }

  def run(env: Env, i: Int): OpResult = {
    val t = env.tracer
    val out = env.work.resolve(s"export-$i")
    val snapshotPath = env.work.resolve(s"study-$i.tss").toString
    val t0 = System.nanoTime()
    val session = Study.open(env, folder, manifest)
    val issues = session.domainCodes.flatMap(c => t.span("validate.domain")(session.validate(c))) ++
      t.span("validate.cross")(session.validateCross())
    t.span("sinks.export")(session.exportAll(out.toString))
    val snapshot = Persistence.snapshotOf(session, folder.toString, manifest.files)
    t.span("session.save")(Persistence.save(snapshot, snapshotPath))
    val loaded = t.span("session.load")(Persistence.load(snapshotPath))
    val seconds = (System.nanoTime() - t0) / 1e9

    val failures = Checks.exportPackage(out, manifest.rows) ++
      Checks.issues(issues, manifest, manifest.rows.keySet, StudyGen.CheckedKinds) ++
      (if (loaded == snapshot) Nil else Seq("snapshot does not load back equal"))
    if (t.enabled) {
      pairs += Study.pairsScored(session)
      issuesSeen += issues.size
      bytesWritten += Workload.treeBytes(out)
    }
    Study.release(session)
    Workload.deleteTree(out)
    Files.deleteIfExists(java.nio.file.Paths.get(snapshotPath))
    OpResult(seconds, Map.empty, failures, manifest.totalRows)
  }

  def layerCounts(env: Env, tracedOps: Int): Map[String, Double] = Map(
    "sources.rows" -> manifest.totalRows.toDouble,
    "mapping.pairs_scored" -> pairs.toDouble / tracedOps,
    "validate.issues" -> issuesSeen.toDouble / tracedOps,
    "sinks.bytes_written" -> bytesWritten.toDouble / tracedOps)
}

/**
 * An interactive session: opened once in set-up, then each operation is
 * one round of edits over LB (long), AE and DM (short). An edit re-points
 * a variable at its other source column (same values), previews the
 * first page, validates the domain and ticks auto-save.
 */
final class StudyEdit(size: StudyGen.Size) extends Workload {
  val name = "study_edit"
  val unit = "edits"
  val throughputName = "edits_per_s"
  val dominantLayers: Set[String] = Set("normalize", "validate")
  val nominalOpSeconds = 7.0
  val PageRows = 100
  private var folder: Path = _
  private var manifest: StudyManifest = _
  private var session: StudySession = _
  private var createSeconds = 0.0
  private var planNodes = 0L
  private var issuesSeen = 0L
  private var edits = 0L

  def setup(env: Env): Unit = {
    folder = env.work.resolve("study")
    manifest = StudyGen.write(folder, env.seed, size)
    val t0 = System.nanoTime()
    session = Study.open(env, folder, manifest)
    createSeconds = (System.nanoTime() - t0) / 1e9
  }

  def run(env: Env, i: Int): OpResult = {
    val t = env.tracer
    val previews = Seq.newBuilder[Double]
    val validations = Seq.newBuilder[Double]
    val failures = Seq.newBuilder[String]
    val snapshotPath = env.work.resolve("session.tss").toString
    val t0 = System.nanoTime()
    manifest.edits.foreach { e =>
      val column = if (i % 2 == 0) e.columnB else e.columnA
      if (t.enabled) t.newOp() // the spans of one edit share an id
      val e0 = System.nanoTime()
      t.span("mapping.remap") {
        session.domainState(e.domain).get.mapping.acceptManual(e.variable, column)
        session.dirtyTracker.markDirty()
      }
      val page = t.span("normalize.plan") {
        val df = session.preview(e.domain).get.limit(PageRows)
        df.queryExecution.executedPlan
        // node count of the physical plan before adaptive execution wraps it
        if (t.enabled) planNodes += df.queryExecution.sparkPlan.collect { case p => p }.size
        df
      }
      val rows = t.span("normalize.head")(page.collect())
      val e1 = System.nanoTime()
      val issues = t.span("validate.domain")(session.validate(e.domain))
      val e2 = System.nanoTime()
      t.span("session.save") {
        session.autoSaveIfDue(folder.toString, manifest.files, snapshotPath,
          AutoSaveConfig(debounceMs = 0L))
      }
      previews += (e1 - e0) / 1e9
      validations += (e2 - e1) / 1e9

      val want = math.min(PageRows.toLong, manifest.rows(e.domain))
      if (rows.length != want) failures += s"${e.domain} preview: ${rows.length} rows, want $want"
      if (rows.exists(r => Option(r.getAs[String](e.variable)).forall(_.isEmpty)))
        failures += s"${e.domain}.${e.variable} preview has blanks after re-mapping to $column"
      if (!session.domainState(e.domain).get.mapping.columnFor(e.variable).contains(column))
        failures += s"${e.domain}.${e.variable} is not mapped to $column"
      failures ++= Checks.issues(issues, manifest, Set(e.domain), Checks.DomainKinds)
      if (t.enabled) issuesSeen += issues.size
    }
    if (t.enabled) edits += manifest.edits.size
    OpResult((System.nanoTime() - t0) / 1e9,
      Map("preview" -> previews.result(), "validate" -> validations.result()),
      failures.result(), manifest.edits.size.toLong)
  }

  def layerCounts(env: Env, tracedOps: Int): Map[String, Double] = Map(
    "session.create_s" -> createSeconds,
    "mapping.pairs_scored" -> Study.pairsScored(session).toDouble,
    "normalize.plan_nodes" -> planNodes.toDouble / math.max(edits, 1L),
    "validate.issues" -> issuesSeen.toDouble / tracedOps)
}

/**
 * Corpus curation per operation: cross-corpus near-dup removal, a token
 * quality gate, n-gram decontamination against the probe set, then a
 * hash split written as parquet. Each stage's result is materialized so
 * its time lands in its own span.
 */
final class CorpusCurate(size: CorpusGen.Size) extends Workload {
  val name = "corpus_curate"
  val unit = "docs"
  val throughputName = "curate_docs_per_s"
  // passes keep speeding up, steeply for about ten (JIT, codegen) and
  // slowly for thirty more, longer than a run can wait: after the cold
  // pass and one more, a fixed count of timed passes, so every run takes
  // its median over the same passes of that curve
  override val warmupOps = 2
  override val minTimedOps = 5
  val nominalOpSeconds = 2.5
  val dominantLayers: Set[String] = Set("dedup")
  val Threshold = 0.8
  val Splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private var dir: Path = _
  private var manifest: CorpusManifest = _
  private var confirmed = 0L

  def setup(env: Env): Unit = {
    dir = env.work.resolve("corpus")
    manifest = CorpusGen.write(dir, env.seed, size)
  }

  private def read(env: Env, key: String): DataFrame =
    env.spark.read.schema("id STRING, text STRING").json(dir.resolve(manifest.files(key)).toString)

  def run(env: Env, i: Int): OpResult = {
    val t = env.tracer
    val out = env.work.resolve(s"curated-$i")
    val t0 = System.nanoTime()
    val batch = read(env, "batch")
    val pairs = t.span("dedup.lsh") {
      Dedup.crossCorpusNearDups(batch, read(env, "corpus"), "id", "text", Threshold)
        .select("new_id").collect().map(_.getString(0))
    }
    val gated = t.span("text.quality") {
      val g = batch.where(!col("id").isin(pairs.distinct.toIndexedSeq: _*))
        .where(TextAnalysis.tokenCount(col("text")) >= CorpusGen.MinTokens).cache()
      g.count()
      g
    }
    val flagged = t.span("dedup.decontam") {
      Dedup.ngramContamination(gated, "id", "text", read(env, "probes"), "text", n = 3,
        flagThreshold = 0.5).where(col("flagged")).select("doc_id").collect().map(_.getString(0))
    }
    t.span("sampling.split") {
      Sampling.hashSplit(gated.where(!col("id").isin(flagged.toIndexedSeq: _*)), "id", Splits,
        salt = "perfbench").write.parquet(out.toString)
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    gated.unpersist()
    if (t.enabled) confirmed += pairs.length
    val failures = Checks.survivors(env.spark, out, manifest.survivors, Splits.map(_._1).toSet)
    Workload.deleteTree(out)
    OpResult(seconds, Map.empty, failures, manifest.incoming)
  }

  /** LSH candidate pairs before verification, rebuilt from the same public
    * signature and banding helpers `crossCorpusNearDups` uses (defaults:
    * 32 hashes, 4 rows per band, seed 42). */
  private def candidates(env: Env): Long = {
    def buckets(df: DataFrame) = Dedup.lshBuckets(Dedup.minhashSignatures(
      Dedup.docTokenArrays(df, "id", "text").select(col("id"), explode(col("toks")).as("token"))),
      4, 32)
    buckets(read(env, "batch")).as("a")
      .join(buckets(read(env, "corpus")).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id"), col("b.id")).distinct().count()
  }

  def layerCounts(env: Env, tracedOps: Int): Map[String, Double] = {
    val cands = candidates(env).toDouble
    val conf = confirmed.toDouble / tracedOps
    Map("dedup.candidates" -> cands, "dedup.confirmed" -> conf,
      "dedup.candidate_precision" -> (if (cands > 0) conf / cands else 0.0))
  }
}
