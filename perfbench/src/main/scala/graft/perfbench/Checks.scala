package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.{Success, Try}

import org.apache.spark.sql.SparkSession

import graft.operators.Issue
import graft.sinks.XptReader

/** Output checks. Each returns the failures it found; empty means pass. */
object Checks {

  /** Issue kinds the per-domain `validate` can report (the rest are
    * study-wide and come from `validateCross`). */
  val DomainKinds: Set[String] = Set("NonIso8601", "InvalidCtValue", "DuplicateSeq")

  /** For every checked kind in `kinds` and every variable the generator
    * wrote, the reported (domain, variable, count) must equal what it
    * planted — no more, no less. Variables fed only by EDC bookkeeping
    * columns the scorer happened to map are not the generator's to judge. */
  def issues(observed: Seq[Issue], m: StudyManifest,
      domains: Set[String], kinds: Set[String]): Seq[String] = {
    val expected = m.expectedIssues
    val obs = observed.filter(i => kinds(i.kind) && domains(i.domain) &&
        m.populated.get(i.domain).exists(_.contains(i.variable)))
      .groupMapReduce(i => (i.domain, i.variable, i.kind))(_.count)(_ + _)
    val exp = expected.filter(e => kinds(e.kind) && domains(e.domain))
      .map(e => (e.domain, e.variable, e.kind) -> e.count).toMap
    if (obs == exp) Nil
    else {
      val keys = (obs.keySet ++ exp.keySet).toSeq.sorted
      keys.filter(k => obs.get(k) != exp.get(k)).map { k =>
        s"issue $k: expected ${exp.getOrElse(k, 0L)}, reported ${obs.getOrElse(k, 0L)}"
      }
    }
  }

  /** Every domain's XPT reads back with its source row count, and
    * define.xml has one ItemGroupDef per exported dataset. */
  def exportPackage(out: Path, rows: Map[String, Long]): Seq[String] = {
    val xptFailures = rows.toSeq.sorted.flatMap { case (code, n) =>
      val p = out.resolve(s"${code.toLowerCase}.xpt")
      Try(XptReader.countRows(p.toString)) match {
        case Success(`n`) => None
        case other => Some(s"$code.xpt: read back $other rows, source has $n")
      }
    }
    val xpts = Option(out.toFile.list()).toSeq.flatten.count(_.endsWith(".xpt"))
    val groups = Try(new String(Files.readAllBytes(out.resolve("define.xml")), StandardCharsets.UTF_8))
      .map("<ItemGroupDef ".r.findAllMatchIn(_).size)
    val defineFailures =
      if (groups == Success(xpts) && xpts == rows.size) Nil
      else Seq(s"define.xml: $groups ItemGroupDefs for $xpts XPT files (${rows.size} domains)")
    xptFailures ++ defineFailures
  }

  /** The curated parquet holds exactly the predicted survivor ids, each in
    * one of the declared splits. */
  def survivors(spark: SparkSession, out: Path, expected: Seq[String],
      splits: Set[String]): Seq[String] = {
    val rows = spark.read.parquet(out.toString).select("id", "split").collect()
    val ids = rows.map(_.getString(0)).sorted.toSeq
    val badSplits = rows.map(_.getString(1)).filterNot(splits).distinct
    val idFailures =
      if (ids == expected) Nil
      else {
        val missing = expected.diff(ids)
        val extra = ids.diff(expected)
        Seq(s"survivors: ${ids.size} kept, ${expected.size} expected; " +
          s"missing ${missing.take(5).mkString(",")} extra ${extra.take(5).mkString(",")}")
      }
    idFailures ++ badSplits.map(s => s"survivors: unknown split '$s'")
  }
}
