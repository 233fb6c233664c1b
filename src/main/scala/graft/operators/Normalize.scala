package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft.{srcCol, txt}
import graft.functions.{Iso8601, IsoDuration, Numerics}

/**
 * Normalization operators N1-N12 (SURVEY.md §2.2), each as a declarative
 * `Column` expression so Catalyst can fold, prune, and codegen around it.
 * Only the ISO-8601 datetime/duration cascades are Scala UDFs (their
 * preserve-original-on-failure + partial-precision semantics are not
 * expressible with `to_date` chains); everything else is built-in functions.
 *
 * Semantics studied from `crates/tss-submit/src/normalize/executor.rs:24-463`.
 */
object Normalize {

  // ---- parser kernels (executor-side, pure, null-safe) ---------------------
  // N4/N6 ride native Catalyst expressions (graft.expressions.IsoNormalize /
  // DurationNormalize): the generated code calls the parser statically on the
  // UnsafeRow's UTF8String — no ScalaUDF converters, stays in codegen.

  import org.apache.spark.sql.GraftBridge.{column => exprCol, expression => colExpr}

  /** N4/N5 — ISO-8601 datetime/date normalization (executor.rs:217-257). */
  def iso8601Expr(c: Column): Column =
    exprCol(graft.expressions.IsoNormalize(colExpr(c)))

  /** N6 — ISO-8601 duration; preserves original on failure (executor.rs:259-297). */
  def isoDurationExpr(c: Column): Column =
    exprCol(graft.expressions.DurationNormalize(colExpr(c)))

  /** N7 helper — study day with full format-cascade date parsing. */
  val studyDayUdf = udf((event: String, ref: String) =>
    Iso8601.studyDay(event, ref).map(_.asInstanceOf[Integer]).orNull)

  /** N9 — numeric parse; null on failure (executor.rs:399-438). */
  val parseNumericUdf = udf((s: String) => Numerics.parse(s))

  /** Double → text without trailing zeros (polars.rs:77-91). */
  val formatNumericUdf = udf((d: java.lang.Double) =>
    if (d == null) "" else Numerics.format(d))

  // ---- N1-N12 as Column builders -------------------------------------------

  /** N1 — constant column (STUDYID / DOMAIN). */
  def constant(value: String): Column = lit(value)

  /** N2 — USUBJID prefixing: `"{study}-{trim(subj)}"`, but empty subject
    * stays empty (never a dangling `"STUDY-"`) — executor.rs:124-174. */
  def usubjid(studyId: String, subj: Column): Column =
    when(txt(subj) === "", lit("")).otherwise(concat(lit(studyId + "-"), txt(subj)))

  /** N3 — sequence number: 1..n per subject in source row order. Requires a
    * stable `rowId` captured at ingest (monotonically_increasing_id on a
    * single-file scan); the window shuffle is the operator's one shuffle and
    * partitions by subject, which is exactly how it scales out. */
  def seqNumber(subject: Column, rowId: Column): Column =
    row_number().over(Window.partitionBy(txt(subject)).orderBy(rowId)).cast(LongType)

  /** Structural ISO-8601 shape (digit positions only, no range checks) —
    * the regex twin of `Iso8601.isValidIsoShape` (datetime.rs:100-182). */
  private val IsoShapeRegex =
    "^\\d{4}(-\\d{2}(-\\d{2}(T\\d{2}:\\d{2}(:\\d{2}.*)?)?)?)?$"

  /** N4/N5 — datetime normalization; empty stays empty. Fast path: values
    * already in ISO shape pass through inside codegen (the common case on
    * clean data — the UDF only fires for the format cascade). */
  def iso8601(c: Column): Column =
    when(txt(c) === "", lit(""))
      .when(txt(c).rlike(IsoShapeRegex), txt(c))
      .otherwise(iso8601Expr(txt(c)))

  /** N6 — duration normalization; empty stays empty, unparseable preserved. */
  def isoDuration(c: Column): Column =
    when(txt(c) === "", lit("")).otherwise(isoDurationExpr(txt(c)))

  /**
   * N7 — study day relative to a scalar reference date (DM.RFSTDTC).
   * `(event - ref) + 1` on/after the reference else `(event - ref)`; no day 0.
   * Fast path: values whose WHOLE text is a valid ISO shape go through
   * `try_to_date` (codegen-safe under Spark 4 ANSI mode — plain `to_date`
   * would crash the job on `2023-02-30`); everything else falls back to the
   * cascade UDF, so both paths agree on dirty data.
   */
  def studyDay(eventDtc: Column, refDate: Option[String]): Column = refDate match {
    case None => lit(null).cast(IntegerType)
    case Some(ref) =>
      // the reference date may arrive in any cascade-parseable spelling —
      // normalize to ISO on the driver so the literal below is fold-safe
      val refIso = Iso8601.dateForStudyDay(ref) match {
        case Some(d) => d.toString
        case None => return lit(null).cast(IntegerType)
      }
      val refD = to_date(lit(refIso))
      val v = txt(eventDtc)
      val isoPrefix = v.substr(1, 10)
      // full-value shape check: '2023-01-15garbage' must NOT take the fast
      // path (the cascade rejects it → null; the paths must agree)
      val fastOk = v.rlike(
        "^\\d{4}-\\d{2}-\\d{2}(T\\d{2}:\\d{2}(:\\d{2}.*)?)?$")
      val eventD = try_to_date(isoPrefix)
      val d = datediff(eventD, refD)
      val fast = when(d >= 0, d + 1).otherwise(d)
      when(v === "", lit(null).cast(IntegerType))
        .when(fastOk && eventD.isNotNull, fast)
        .otherwise(studyDayUdf(v, lit(refIso)))
        .cast(IntegerType)
  }

  /**
   * N8 — controlled-terminology normalization: case-insensitive lookup of
   * submission value or synonym → canonical submission value; misses preserve
   * the original (executor.rs:354-396, ct.rs:78-112). The codelist is tiny →
   * shipped as a broadcast map, keeping the hot path a single hash probe
   * inside one task (no shuffle, no join).
   */
  def ctNormalize(c: Column, lookup: Broadcast[Map[String, String]]): Column = {
    val f = udf { (v: String) =>
      if (v == null) "" else {
        val t = v.trim
        if (t.isEmpty) "" else lookup.value.getOrElse(t.toUpperCase, t)
      }
    }
    f(c.cast(StringType))
  }

  /** N8 via closure capture instead of an explicit Broadcast handle:
    * codelists are metadata-sized, so shipping the map inside the task
    * closure costs the same as a broadcast WITHOUT leaking a broadcast
    * variable per normalizeDomain call (broadcasts are never auto-destroyed;
    * a long-lived session re-planning previews leaked one per CT rule). */
  def ctNormalize(c: Column, lookup: Map[String, String]): Column = {
    val f = udf { (v: String) =>
      if (v == null) "" else {
        val t = v.trim
        if (t.isEmpty) "" else lookup.getOrElse(t.toUpperCase, t)
      }
    }
    f(c.cast(StringType))
  }

  /** N8 variant without Spark plumbing, for tests / driver-side use. */
  def ctNormalizeLocal(v: String, lookup: Map[String, String]): String = {
    if (v == null) return ""
    val t = v.trim
    if (t.isEmpty) "" else lookup.getOrElse(t.toUpperCase, t)
  }

  /** N9 — numeric conversion (thousands separators, nan/inf; null on fail).
    * Pure-builtin path for plain shapes; UDF for the rest. */
  def numeric(c: Column): Column = {
    val cleaned = regexp_replace(txt(c), "[,\\s ]", "")
    when(txt(c) === "", lit(null).cast(DoubleType))
      .when(cleaned.rlike("^[+-]?((\\d+\\.?\\d*)|(\\.\\d+))([eE][+-]?\\d+)?$"),
        cleaned.cast(DoubleType))
      .otherwise(parseNumericUdf(txt(c)))
  }

  /** N10 — direct copy with SDTM stringification: null → "", boolean → Y/N,
    * floats without trailing zeros (polars.rs:23-91). Schema-aware. */
  def copyDirect(df: DataFrame, name: String): Column = {
    val c = srcCol(name)
    df.schema(name).dataType match {
      case BooleanType => when(c.isNull, lit("")).when(c, "Y").otherwise("N")
      case DoubleType | FloatType => coalesce(formatNumericUdf(c.cast(DoubleType)), lit(""))
      case _: NumericType => coalesce(c.cast(StringType), lit(""))
      case _ => coalesce(c.cast(StringType), lit(""))
    }
  }

  /** Scalar RFSTDTC extraction: first parseable date value of DM.RFSTDTC in
    * source row order (preview.rs:174-190) — a driver-collected scalar.
    * Streams row batches (early exit on first hit) instead of capping the
    * scan, matching the reference's full-column walk. */
  def firstReferenceDate(dm: DataFrame, rfstdtcCol: String, rowId: String): Option[String] = {
    val it = dm.select(txt(srcCol(rfstdtcCol)).as("v"), col(rowId).as("_rid"))
      .where(col("v") =!= "")
      .orderBy(col("_rid"))
      .toLocalIterator()
    var found: Option[String] = None
    while (found.isEmpty && it.hasNext) {
      val v = it.next().getString(0)
      if (Iso8601.dateForStudyDay(v).isDefined) found = Some(v)
    }
    found
  }
}
