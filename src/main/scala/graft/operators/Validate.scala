package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.{isBlank, srcCol, txt}

/** Typed validation finding — the shared shape (domain, variable, kind,
  * severity, count, samples) of every reference issue variant
  * (issue.rs:47-141). Kind crosswalk to the reference enum:
  * RequiredMissing/RequiredEmpty/ExpectedMissing/IdentifierNull verbatim;
  * ExpectedEmpty = ExpectedMissing's all-blank case; NonIso8601 =
  * InvalidDate; LengthExceeded = TextTooLong; NonNumeric = DataTypeMismatch;
  * DuplicateSeq = DuplicateSequence; InvalidCtValue = CtViolation;
  * SubjectNotInDm = UsubjidNotInDm; InvalidRdomain verbatim; RsubjidNotInDm
  * = RelsubNotInDm; MissingReciprocal = RelsubNotBidirectional;
  * BrokenParentChain = RelspecInvalidParent; DanglingRecordRef =
  * RelrecInvalidReference. (The remaining reference variant, ParentNotFound,
  * is declared but never constructed there.) */
case class Issue(
    domain: String,
    variable: String,
    kind: String,
    severity: String, // Reject | Error | Warning | Info
    count: Long,
    samples: Seq[String])

/**
 * Per-domain validation checks V1-V8 (SURVEY §2.5) and cross-domain checks
 * X1-X5 (§2.6), re-expressed as Spark aggregations and broadcast anti-joins.
 *
 * Shape studied from the check modules under `crates/tss-submit/src/validate/checks/` and
 * `validate/cross_domain.rs`. The reference walks every column row-by-row;
 * here the per-column statistics of a frame come from ONE long-form
 * profile kernel, [[valueCounts]]: each row explodes into `(i, v)` cells
 * and a single `groupBy(i, v).count()` folds them. The plan is the same
 * size for 5 columns or 500 — one aggregate, one `(i, v)` shuffle — and
 * every consumer (mapping hints, Items.csv profiling, V1-V8) is a small
 * `groupBy(i)` over the counts, so per-value predicates (regexes, CT
 * membership) run once per distinct value, not once per row. Samples are
 * capped at 5, sorted.
 */
object Validate {

  /** Anchored ISO-8601 regex with range-validated month/day/hour
    * (dates.rs:19-24). */
  val IsoDateRegex: String =
    "^\\d{4}(-(0[1-9]|1[0-2])(-(0[1-9]|[12]\\d|3[01])" +
      "(T([01]\\d|2[0-3]):[0-5]\\d(:[0-5]\\d(\\.\\d+)?)?)?)?)?$"

  /** Numeric-shape regex shared by V3 and hints. */
  val NumericRegex: String = "^[+-]?((\\d+\\.?\\d*)|(\\.\\d+))([eE][+-]?\\d+)?$"

  // ---- V1/V2/V7: null-or-blank population counts ---------------------------
  def blankCount(c: Column): Column = sum(when(isBlank(c), 1L).otherwise(0L))

  def nonBlankCount(c: Column): Column = sum(when(isBlank(c), 0L).otherwise(1L))

  // ---- V3: type conformance -------------------------------------------------
  def nonNumericCount(c: Column): Column =
    sum(when(!isBlank(c) && !txt(c).rlike(NumericRegex), 1L).otherwise(0L))

  // ---- V4: ISO-8601 conformance --------------------------------------------
  def nonIsoDateCount(c: Column): Column =
    sum(when(!isBlank(c) && !txt(c).rlike(IsoDateRegex), 1L).otherwise(0L))

  // ---- V6: declared-length violations ---------------------------------------
  def lengthViolations(c: Column, maxLen: Int): Column =
    sum(when(length(txt(c)) > maxLen, 1L).otherwise(0L))

  def maxObservedLength(c: Column): Column = max(length(txt(c)))

  /** Up to five deterministic sample values matching a predicate — the
    * reference's MAX_INVALID_VALUES=5 samples, made order-stable. */
  def samples(c: Column, bad: Column, n: Int = 5): Column =
    slice(sort_array(collect_set(when(bad, txt(c)))), 1, n)

  // ---- long-form profile kernel -----------------------------------------------

  /** Long-form value counts of `cols`: one row `(i, v, n)` per column
    * position `i` (0-based, in `cols` order) and distinct normalized text
    * value `v` (trimmed, blank = ""), with `n` the number of rows holding
    * it. Every row explodes into one `(i, v)` cell per column and a single
    * `groupBy(i, v).count()` folds the cells, so the plan has one
    * aggregate and one shuffle whatever the column count. A column's row
    * total is `sum(n)` over its `i`; a zero-row frame yields no rows at
    * all, so consumers default absent columns to zero counts. */
  def valueCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val cells = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("i"), txt(srcCol(c)).as("v"))
    }
    df.select(inline(array(cells: _*))).groupBy("i", "v").agg(count(lit(1)).as("n"))
  }

  /** Over [[valueCounts]] grouped by `i`: rows of the column whose value
    * satisfies `p`. */
  def rowsWhere(p: Column): Column = sum(when(p, col("n")).otherwise(0L))

  /** Over [[valueCounts]] grouped by `i`: distinct values satisfying `p`. */
  def valuesWhere(p: Column): Column = count(when(p, lit(1)))

  /** Over [[valueCounts]] grouped by `i`: the column's row count. */
  val totalRows: Column = sum(col("n"))

  /** Over [[valueCounts]]: the value is not blank. */
  val filled: Column = col("v") =!= ""

  /** Fold `counts` (the kernel's output, possibly joined with per-column
    * rule tables) per column: one row per `i` — `i`, then `aggs`. The
    * result is a few rows per table; each consumer collects its own. */
  def profile(counts: DataFrame, aggs: Seq[Column]): DataFrame =
    counts.groupBy("i").agg(aggs.head, aggs.tail: _*)

  /** Config key gating the X1/X5 broadcast hints (plain bytes or a Spark
    * size spelling like "64m"; 0 or any negative value disables the hint
    * entirely). */
  val BroadcastThresholdKey = "spark.graft.validate.broadcastThreshold"
  val BroadcastThresholdDefault: Long = 64L << 20

  /** Broadcast hint only when Catalyst's size estimate fits the configured
    * threshold. At submission scale the subject/key dimensions are tiny and
    * the hint wins; at 100× the estimate (derived from the scan size)
    * exceeds the threshold, the hint is withheld, and AQE picks the join
    * strategy from ACTUAL runtime sizes — an unconditional hint would force
    * a driver-side collect of an unbounded table and OOM instead.
    *
    * Known tradeoffs, deliberate: (a) a source with no stats (e.g. a
    * LogicalRDD from createDataFrame) estimates sizeInBytes = defaultSize =
    * Long.MaxValue and is treated as too-big — conservative, AQE still
    * recovers the broadcast at runtime; (b) reading `.stats` optimizes the
    * dimension subtree on the driver once per call — these dimensions are
    * distinct-of-a-column plans, small to optimize. The threshold accepts
    * Spark size spellings ("64m", "1g") or plain bytes. */
  def maybeBroadcast(df: DataFrame): DataFrame = {
    val raw = df.sparkSession.conf
      .get(BroadcastThresholdKey, BroadcastThresholdDefault.toString)
    // negative values disable the hint (the documented contract predating
    // size-suffix support — byteStringAsBytes alone would reject them)
    val threshold =
      if (raw.trim.startsWith("-")) 0L
      else
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"$BroadcastThresholdKey: cannot parse '$raw' as a byte size " +
              "(use plain bytes or a size suffix like 64m)", e)
        }
    if (threshold > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
      broadcast(df)
    else df
  }

  // ---- V5: duplicate sequence numbers within a subject ----------------------
  /** Count of surplus rows: sum(count-1) over duplicated (subject, seq). */
  def duplicateSeqCount(df: DataFrame, subject: String, seq: String): DataFrame =
    df.groupBy(txt(col(subject)).as("subj"), col(seq))
      .count()
      .where(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L)).as("dup_rows"),
        count(lit(1)).as("dup_keys"))

  // ---- V8: controlled terminology --------------------------------------------
  /** Distinct values of `c` that resolve to no submission value or synonym.
    * codelistDf: one column `allowed` of uppercased valid spellings; tiny →
    * broadcast left-anti. */
  def invalidCtValues(df: DataFrame, c: Column, codelistDf: DataFrame): DataFrame = {
    val vals = df.select(upper(txt(c)).as("v")).where(col("v") =!= "").distinct()
    vals.join(broadcast(codelistDf.select(upper(col("allowed")).as("v"))), Seq("v"), "left_anti")
  }

  // ---- X1: USUBJID referential integrity vs DM -------------------------------
  /** Rows of `domain` whose subject key is absent from `dm` — keys side is
    * distinct + broadcast (subject dimension ≪ facts). */
  def orphanSubjects(domain: DataFrame, dm: DataFrame, key: String): DataFrame = {
    val dmKeys = dm.select(txt(col(key)).as(key)).distinct()
    domain.withColumn(key, txt(col(key)))
      .join(maybeBroadcast(dmKeys), Seq(key), "left_anti")
  }

  // ---- X2: RDOMAIN must name a submitted domain ------------------------------
  def invalidRdomain(df: DataFrame, rdomain: String, domains: Seq[String]): DataFrame =
    df.where(!isBlank(col(rdomain)) && !upper(txt(col(rdomain))).isin(domains.map(_.toUpperCase): _*))

  // ---- X3: bidirectional relationship pairs ----------------------------------
  /** Pairs (u, r) with no reciprocal (r, u) in the same frame — a self
    * anti-join on the swapped key. */
  def missingReciprocal(pairs: DataFrame, u: String, r: String): DataFrame = {
    // only fully-populated pairs participate — the reference builds its
    // relationship set from non-empty (u, r) only (cross_domain.rs:184-190)
    val populated = pairs
      .select(txt(col(u)).as(u), txt(col(r)).as(r))
      .where(col(u) =!= "" && col(r) =!= "")
    val swapped = populated.select(col(r).as(u), col(u).as(r)).distinct()
    populated.distinct().join(swapped, Seq(u, r), "left_anti")
  }

  // ---- X4: parent chain within a subject --------------------------------------
  /** Rows whose non-empty PARENT matches no REFID of the same subject. */
  def brokenParentChain(df: DataFrame, subject: String, parent: String, refid: String): DataFrame = {
    val refids = df.select(txt(col(subject)).as(subject), txt(col(refid)).as(parent)).distinct()
    df.where(!isBlank(col(parent)))
      .select(txt(col(subject)).as(subject), txt(col(parent)).as(parent)).distinct()
      .join(refids, Seq(subject, parent), "left_anti")
  }

  // ---- X5: record references (RELREC) ------------------------------------------
  /** Build the union key table (domain, idvar, value) from per-domain key
    * columns, then anti-join references against it. keyCols: domain code →
    * (DataFrame, key column names). */
  def relrecKeyTable(domains: Map[String, (DataFrame, Seq[String])]): DataFrame = {
    require(domains.nonEmpty, "relrecKeyTable needs at least one domain frame")
    val frames = for {
      (code, (df, cols)) <- domains.toSeq.sortBy(_._1)
      c <- cols if df.columns.contains(c)
    } yield df.select(lit(code.toUpperCase).as("rdomain"), lit(c.toUpperCase).as("idvar"),
      txt(col(c)).as("idvarval")).where(col("idvarval") =!= "").distinct()
    frames match {
      case Nil =>
        // no listed key column exists in any frame → empty key table (every
        // reference dangles), not an empty-reduce crash
        val spark = domains.head._2._1.sparkSession
        import spark.implicits._
        Seq.empty[(String, String, String)].toDF("rdomain", "idvar", "idvarval")
      case fs => fs.reduce(_ unionByName _).distinct()
    }
  }

  def danglingRecordRefs(relrec: DataFrame, keys: DataFrame,
      rdomain: String = "rdomain", idvar: String = "idvar", idvarval: String = "idvarval"): DataFrame =
    relrec
      .select(upper(txt(col(rdomain))).as("rdomain"), upper(txt(col(idvar))).as("idvar"),
        txt(col(idvarval)).as("idvarval"))
      .where(col("idvarval") =!= "")
      .join(maybeBroadcast(keys), Seq("rdomain", "idvar", "idvarval"), "left_anti")
}
