package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.{isBlank, srcCol, txt}

/** Per-source-column SUPP config (SuppColumnConfig — the QNAM/QLABEL/QORIG/
  * QEVAL a user assigns to an extra column routed to SUPP--). */
case class SuppColumnConfig(qnam: String, qlabel: String, qorig: String, qeval: String = "")

/**
 * Generation / reshape operators G1-G4 and metadata-driven decode M1-M2
 * (SURVEY §2.7, §2.3), as distributed Spark transforms.
 *
 * The reference builds SUPP frames with driver-side row loops
 * (`service/export.rs:468+`) and RELSUB reciprocals with a HashSet walk
 * (`service/study.rs:181-309`); here both are declarative plans — `stack`
 * unpivot and anti-join + union — that shuffle only on the keys they must.
 */
object Reshape {

  // ---- G1: SUPP-- builder (wide → long unpivot) ----------------------------

  /**
   * Emit one SUPP row per (included source column × source row) with
   * non-empty USUBJID and non-empty QVAL. Output columns: STUDYID, RDOMAIN,
   * USUBJID, IDVAR, IDVARVAL, QNAM, QLABEL, QVAL, QORIG, QEVAL.
   * IDVAR is `{domain}SEQ` when present in the transformed frame, else
   * USUBJID (`export.rs:500-510`).
   *
   * `df` must carry USUBJID (and the SEQ var when available) alongside the
   * raw source columns — i.e. source joined with transformed on `_row_id`,
   * or the transformed frame itself when the extra columns were copied
   * through. The unpivot is `stack(...)`, which is row-local: no shuffle at
   * any scale.
   */
  def buildSupp(domainCode: String, studyId: String, df: DataFrame,
      configs: Seq[(String, SuppColumnConfig)]): Option[DataFrame] = {
    val included = configs.filter { case (c, _) => df.columns.contains(c) }
    // no USUBJID column ⇒ every row would be skipped — return None like the
    // reference (export.rs treats a missing subject column as all-empty)
    if (included.isEmpty || !df.columns.contains("USUBJID")) return None

    val seqVar = s"${domainCode.toUpperCase}SEQ"
    val (idvar, idvarCol) =
      if (df.columns.contains(seqVar)) (seqVar, Normalize.copyDirect(df, seqVar))
      else ("USUBJID", txt(col("USUBJID")))

    // stack(n, qnam1, qlabel1, qorig1, qeval1, val1, ...) — constants inline
    val stackArgs: Seq[Column] = included.flatMap { case (src, cfg) =>
      Seq(lit(cfg.qnam), lit(cfg.qlabel), lit(cfg.qorig), lit(cfg.qeval),
        Normalize.copyDirect(df, src))
    }
    val stacked = df
      .where(!isBlank(col("USUBJID")))
      .select(
        txt(col("USUBJID")).as("USUBJID"),
        idvarCol.as("IDVARVAL"),
        stack(Seq(lit(included.size)) ++ stackArgs: _*)
          .as(Seq("QNAM", "QLABEL", "QORIG", "QEVAL", "QVAL")))
      .where(!isBlank(col("QVAL")))
      .select(
        lit(studyId).as("STUDYID"),
        lit(domainCode.toUpperCase).as("RDOMAIN"),
        col("USUBJID"),
        lit(idvar).as("IDVAR"),
        col("IDVARVAL"),
        col("QNAM"), col("QLABEL"),
        txt(col("QVAL")).as("QVAL"),
        col("QORIG"), col("QEVAL"))
    Some(stacked)
  }

  // ---- G2: SUPP domain definition ------------------------------------------

  /** Clone-and-rename of the SUPPQUAL template (`export.rs:394-415`). */
  def suppDomainName(parentCode: String): String = s"SUPP${parentCode.toUpperCase}"

  def suppDomainLabel(parentCode: String, parentLabel: Option[String]): String =
    s"Supplemental Qualifiers for ${parentLabel.getOrElse(parentCode)}"

  // ---- G3: RELSUB reciprocal augmentation ----------------------------------

  /** Fixed reciprocal SREL lookup (`reciprocal.rs:17-67`). CHILD terms are
    * absent on purpose: their reciprocal depends on the parent's sex. */
  val ReciprocalSrel: Map[String, String] = Map(
    "MOTHER, BIOLOGICAL" -> "CHILD, BIOLOGICAL",
    "FATHER, BIOLOGICAL" -> "CHILD, BIOLOGICAL",
    "MOTHER, ADOPTIVE" -> "CHILD, ADOPTIVE",
    "FATHER, ADOPTIVE" -> "CHILD, ADOPTIVE",
    "MOTHER, FOSTER" -> "CHILD, FOSTER",
    "FATHER, FOSTER" -> "CHILD, FOSTER",
    "MOTHER, STEP" -> "CHILD, STEP",
    "FATHER, STEP" -> "CHILD, STEP",
    "TWIN, DIZYGOTIC" -> "TWIN, DIZYGOTIC",
    "TWIN, MONOZYGOTIC" -> "TWIN, MONOZYGOTIC",
    "TWIN, UNKNOWN ZYGOSITY" -> "TWIN, UNKNOWN ZYGOSITY",
    "SIBLING" -> "SIBLING",
    "SIBLING, BIOLOGICAL" -> "SIBLING, BIOLOGICAL",
    "SIBLING, HALF" -> "SIBLING, HALF",
    "SIBLING, STEP" -> "SIBLING, STEP",
    "SIBLING, ADOPTIVE" -> "SIBLING, ADOPTIVE",
    "GRANDMOTHER, BIOLOGICAL" -> "GRANDCHILD, BIOLOGICAL",
    "GRANDFATHER, BIOLOGICAL" -> "GRANDCHILD, BIOLOGICAL",
    "GRANDMOTHER, ADOPTIVE" -> "GRANDCHILD, ADOPTIVE",
    "GRANDFATHER, ADOPTIVE" -> "GRANDCHILD, ADOPTIVE",
    "SPOUSE" -> "SPOUSE",
    "HUSBAND" -> "WIFE",
    "WIFE" -> "HUSBAND",
    "AUNT, BIOLOGICAL" -> "NEPHEW/NIECE, BIOLOGICAL",
    "UNCLE, BIOLOGICAL" -> "NEPHEW/NIECE, BIOLOGICAL",
    "COUSIN, BIOLOGICAL" -> "COUSIN, BIOLOGICAL")

  private lazy val reciprocalUdf = udf((srel: String) =>
    if (srel == null) null else ReciprocalSrel.get(srel.trim).orNull)

  /**
   * Append the missing reverse rows: for each (USUBJID, RSUBJID, SREL) with
   * no (RSUBJID, USUBJID) row present and a known reciprocal SREL, add
   * (RSUBJID, USUBJID, reciprocal) (`study.rs:181-309`). One reciprocal per
   * reverse pair (first source row in `rowId` order wins, matching the
   * reference's insertion-order walk).
   *
   * Plan shape: self anti-join on the swapped key + union — the pair key is
   * the only shuffle and both sides partition on it.
   */
  def ensureRelsubBidirectional(df: DataFrame, rowId: String = "_row_id"): DataFrame = {
    if (!Seq("USUBJID", "RSUBJID", "SREL").forall(df.columns.contains)) return df

    // normalize the relationship fields in place; every OTHER source column
    // (POOLID, RSDEVID, the ingest _row_id, …) rides along untouched —
    // generated reciprocal rows carry null there (the reference only
    // fabricates the relationship fields)
    var keyed = df
      .withColumn("USUBJID", txt(col("USUBJID")))
      .withColumn("RSUBJID", txt(col("RSUBJID")))
      .withColumn("SREL", txt(col("SREL")))
    if (!df.columns.contains("STUDYID")) keyed = keyed.withColumn("STUDYID", lit(""))
    if (!df.columns.contains("DOMAIN")) keyed = keyed.withColumn("DOMAIN", lit("RELSUB"))
    val cols = keyed.columns
    val hasRowId = cols.contains(rowId)

    val existing = keyed.select(col("USUBJID").as("__u"), col("RSUBJID").as("__r")).distinct()
    val ordered = if (hasRowId) col(rowId) else monotonically_increasing_id()
    val candidates = keyed
      .withColumn("__recip", reciprocalUdf(col("SREL")))
      .where(col("__recip").isNotNull)
      // reverse pair must not already exist
      .join(existing.select(col("__u").as("RSUBJID"), col("__r").as("USUBJID")),
        Seq("USUBJID", "RSUBJID"), "left_anti")
      // one reciprocal per reverse pair: first source row wins
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("RSUBJID"), col("USUBJID")).orderBy(ordered)))
      .where(col("__rn") === 1)

    // generated rows order AFTER every source row: rowId = max(source) +
    // winnerRowId + 1. Non-dense on purpose — each reverse pair's winner is
    // a distinct source row, so the ids are unique and all above the source
    // maximum WITHOUT a global row_number window (which would funnel every
    // generated row through one partition to hand out a dense sequence)
    val numbered =
      if (hasRowId)
        candidates.crossJoin(broadcast(keyed.agg(
          coalesce(max(col(rowId)), lit(0L)).as("__maxrid"))))
      else candidates

    val reverseRows = numbered.select(cols.toSeq.map {
      case "USUBJID" => col("RSUBJID").as("USUBJID")
      case "RSUBJID" => col("USUBJID").as("RSUBJID")
      case "SREL"    => col("__recip").as("SREL")
      case c if c == "STUDYID" || c == "DOMAIN" => col(c)
      case c if c == rowId && hasRowId =>
        (col("__maxrid") + col(rowId).cast("long") + lit(1L)).as(rowId)
      case c => lit(null).cast(keyed.schema(c).dataType).as(c)
    }: _*)

    keyed.unionByName(reverseRows)
  }

  // ---- M1/M2: study-codelist decode ----------------------------------------

  /** M1 — decode a coded column through a study codelist: `SEXCD` decodes
    * into `SEX`, anything else into `<col>_DECODED`; lookup misses yield
    * null (`application.rs:38-125`). Codelists are tiny → broadcast map. */
  def decodeTargetName(colName: String): String =
    if (colName.toUpperCase.endsWith("CD")) colName.dropRight(2)
    else s"${colName}_DECODED"

  def decodeColumn(c: Column, codelist: Map[String, String]): Column = {
    val f = udf { (v: String) =>
      if (v == null) null
      else {
        val t = v.trim
        if (t.isEmpty) null else codelist.get(t).orNull
      }
    }
    f(c.cast("string"))
  }

  /** M1+M2 — apply a set of codelists to a frame: create the decoded column,
    * or fill only the empty cells when it already exists
    * (`application.rs:128-151`). */
  def applyStudyCodelists(df: DataFrame,
      codelists: Map[String, Map[String, String]]): DataFrame =
    codelists.foldLeft(df) { case (acc, (colName, codelist)) =>
      if (!acc.columns.contains(colName)) acc
      else {
        val decoded = decodeColumn(srcCol(colName), codelist)
        val target = decodeTargetName(colName)
        if (acc.columns.contains(target))
          acc.withColumn(target,
            when(!isBlank(srcCol(target)), txt(srcCol(target))).otherwise(decoded))
        else acc.withColumn(target, decoded)
      }
    }
}
