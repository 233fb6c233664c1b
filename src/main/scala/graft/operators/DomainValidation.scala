package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.{isBlank, txt}
import graft.standards.{SdtmDomain, Standards, VariableType}

/**
 * Per-domain validation driver (`checks/mod.rs:24-77` — checks 1-8 in
 * order) producing a typed `Seq[Issue]`. Every per-variable statistic
 * comes from ONE long-form profile ([[Validate.valueCounts]]: a
 * constant-size plan, one `(i, v)` shuffle) joined with two small
 * broadcast tables — per-variable rules and the allowed CT spellings — and
 * folded per column, so no plan carries a CT term literal and the
 * regexes run once per distinct value. Only the V5 duplicate-SEQ check
 * needs its own groupBy job. Cross-domain checks live in [[Validate]]
 * (X1-X5 anti-joins).
 */
object DomainValidation {

  /** Known date/time variable-name suffixes requiring ISO-8601 validation —
    * the reference's exact list (checks/dates.rs:27), case-insensitive. */
  private val DateSuffixes =
    Seq("DTC", "DTM", "DT", "TM", "STDTC", "ENDTC", "STDT", "ENDT")

  private def isDateVar(name: String): Boolean = {
    val u = name.toUpperCase
    DateSuffixes.exists(u.endsWith)
  }

  /** Run V1-V8 over one domain frame. `declaredLengths` feeds V6; `ct` is
    * the study's CT registry (standard-aware — a SEND study validates
    * against SEND-first resolution order). */
  def validateDomain(df: DataFrame, domain: SdtmDomain,
      notCollected: Set[String] = Set.empty,
      declaredLengths: Map[String, Int] = Map.empty,
      ct: graft.standards.TerminologyRegistry = Standards.ctRegistry): Seq[Issue] = {
    val issues = Seq.newBuilder[Issue]
    val present = df.columns.map(c => c.toUpperCase -> c).toMap
    val vars = domain.orderedVariables

    // V1/V2 absence checks need no scan
    vars.foreach { v =>
      val here = present.contains(v.name.toUpperCase)
      if (!here && v.isRequired)
        issues += Issue(domain.name, v.name, "RequiredMissing", "Reject", 0, Nil)
      if (!here && v.isExpected && !notCollected.contains(v.name))
        issues += Issue(domain.name, v.name, "ExpectedMissing", "Warning", 0, Nil)
    }

    val presentVars = vars.filter(v => present.contains(v.name.toUpperCase))
    if (presentVars.isEmpty) return issues.result()

    val stats = domainProfile(df,
      presentVars.map(v => present(v.name.toUpperCase) -> v), declaredLengths, ct)
      .collect().map(r => r.getInt(0) -> r).toMap

    presentVars.zipWithIndex.foreach { case (v, i) =>
      val n = v.name
      val r = stats.get(i)
      def stat(k: Int): Long = r.fold(0L)(_.getLong(k))
      val total = stat(1)
      val blanks = stat(2)
      if (v.isRequired) {
        if (blanks == total)
          issues += Issue(domain.name, n, "RequiredMissing", "Reject", total, Nil)
        else if (blanks > 0)
          issues += Issue(domain.name, n, "RequiredEmpty", "Error", blanks, Nil)
      } else if (v.isExpected && blanks == total && !notCollected.contains(n))
        issues += Issue(domain.name, n, "ExpectedEmpty", "Warning", total, Nil)
      if (v.isIdentifier && blanks > 0)
        issues += Issue(domain.name, n, "IdentifierNull", "Error", blanks, Nil)
      if (stat(3) > 0) issues += Issue(domain.name, n, "NonNumeric", "Error", stat(3), Nil)
      if (stat(4) > 0) issues += Issue(domain.name, n, "NonIso8601", "Error", stat(4), Nil)
      declaredLengths.get(n).foreach { len =>
        if (stat(5) > 0)
          issues += Issue(domain.name, n, "LengthExceeded", "Warning", stat(5),
            Seq(s"max=${r.get.getInt(6)}", s"declared=$len"))
      }
      if (stat(7) > 0) {
        val extensible = v.firstCodelistCode.flatMap(ct.get).exists(_.extensible)
        issues += Issue(domain.name, n, "InvalidCtValue",
          if (extensible) "Info" else "Error", stat(7), r.get.getSeq[String](8))
      }
    }

    // V5 — duplicate SEQ (own groupBy; shuffles on the subject key only)
    val seqVar = s"${domain.name.toUpperCase}SEQ"
    for {
      seqCol <- present.get(seqVar)
      subjCol <- present.get("USUBJID")
    } {
      val dup = Validate.duplicateSeqCount(df, subjCol, seqCol).head()
      if (dup.getLong(0) > 0)
        issues += Issue(domain.name, seqVar, "DuplicateSeq", "Error",
          dup.getLong(0), Nil)
    }
    issues.result()
  }

  /** V1-V8 per-column fold, read back by position after `i`: total,
    * blanks, non-numeric, non-ISO, over-length rows, max length, bad-CT
    * rows, the first 5 sorted bad-CT values. */
  private val ProfileAggs: Seq[Column] = {
    val v = col("v")
    val badCt = col("hasct") && Validate.filled && col("known").isNull
    Seq(
      Validate.totalRows,
      Validate.rowsWhere(!Validate.filled),
      Validate.rowsWhere(col("isnum") && Validate.filled && !v.rlike(Validate.NumericRegex)),
      Validate.rowsWhere(col("isdate") && Validate.filled && !v.rlike(Validate.IsoDateRegex)),
      Validate.rowsWhere(length(v) > col("len")),
      max(length(v)),
      Validate.rowsWhere(badCt),
      slice(sort_array(collect_list(when(badCt, v))), 1, 5))
  }

  /** The V1-V8 profile of `columns` (source column, its variable), one
    * row per column position `i`: [[Validate.valueCounts]] joined with
    * each column's rules — a broadcast `(i, isnum, isdate, len, hasct)`
    * table — and left-joined on `(i, upper(v))` with a broadcast table of
    * every allowed CT spelling, so CT membership is a hash probe per
    * distinct value (`known` is null for a miss), never a literal `IN`
    * list in the plan; then folded by [[ProfileAggs]]. */
  private[graft] def domainProfile(df: DataFrame,
      columns: Seq[(String, graft.standards.SdtmVariable)],
      declaredLengths: Map[String, Int],
      ct: graft.standards.TerminologyRegistry): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val allowed = columns.map { case (_, v) =>
      v.firstCodelistCode.map(ct.lookupMap(_).keys.toSeq).getOrElse(Nil)
    }
    val rules = columns.zip(allowed).zipWithIndex.map { case (((_, v), terms), i) =>
      (i, v.dataType == VariableType.Num, isDateVar(v.name),
        declaredLengths.get(v.name), terms.nonEmpty)
    }.toDF("i", "isnum", "isdate", "len", "hasct")
    val terms = allowed.zipWithIndex.flatMap { case (ts, i) => ts.map(i -> _) }
      .toDF("i", "u").withColumn("known", lit(true))
    val counts = Validate.valueCounts(df, columns.map(_._1))
      .join(broadcast(rules), "i")
      .withColumn("u", upper(col("v")))
      .join(broadcast(terms), Seq("i", "u"), "left")
    Validate.profile(counts, ProfileAggs)
  }

  /** Study-wide cross-domain checks X1-X5 over a domain registry. Without a
    * DM frame there is no subject reference — all cross-domain validation is
    * skipped, exactly like the reference (validate/mod.rs:102-112). */
  def validateCrossDomain(domains: Map[String, DataFrame]): Seq[Issue] = {
    val issues = Seq.newBuilder[Issue]
    val upper = domains.map { case (k, v) => k.toUpperCase -> v }
    // DM is the subject reference for everything below — guaranteed present
    // past this point
    val dm = upper.getOrElse("DM", return Nil)

    if (dm.columns.contains("USUBJID")) {
      upper.filterNot(_._1 == "DM").foreach { case (code, df) =>
        if (df.columns.contains("USUBJID")) {
          // blank USUBJIDs are skipped — they belong to the per-domain
          // identifier-null check, not X1 (cross_domain.rs:62-64)
          val scoped = df.where(txt(col("USUBJID")) =!= "")
          val orphans = Validate.orphanSubjects(scoped, dm, "USUBJID")
          val r = orphans.agg(count(lit(1)),
            slice(sort_array(collect_set(col("USUBJID"))), 1, 5)).head()
          if (r.getLong(0) > 0)
            issues += Issue(code, "USUBJID", "SubjectNotInDm", "Error",
              r.getLong(0), r.getSeq[String](1))
        }
      }
    }

    val codes = upper.keys.toSeq
    upper.filter { case (c, df) =>
      Seq("CO", "RELREC").contains(c) && df.columns.contains("RDOMAIN")
    }.foreach { case (code, df) =>
      val bad = Validate.invalidRdomain(df, "RDOMAIN", codes)
      val n = bad.count()
      if (n > 0) issues += Issue(code, "RDOMAIN", "InvalidRdomain", "Error", n, Nil)
    }

    upper.get("RELSUB").foreach { rs =>
      // Non-empty RSUBJID must reference a DM subject; blank RSUBJID (pool
      // relationships) is explicitly skipped (cross_domain.rs:158-160)
      if (rs.columns.contains("RSUBJID") && dm.columns.contains("USUBJID")) {
        val r = Validate.orphanSubjects(
            rs.select(txt(col("RSUBJID")).as("USUBJID")).where(col("USUBJID") =!= ""),
            dm, "USUBJID")
          .agg(count(lit(1)), slice(sort_array(collect_set(col("USUBJID"))), 1, 5)).head()
        if (r.getLong(0) > 0)
          issues += Issue("RELSUB", "RSUBJID", "RsubjidNotInDm", "Error",
            r.getLong(0), r.getSeq[String](1))
      }
      if (Seq("USUBJID", "RSUBJID").forall(rs.columns.contains)) {
        val missing = Validate.missingReciprocal(rs, "USUBJID", "RSUBJID").count()
        if (missing > 0)
          issues += Issue("RELSUB", "RSUBJID", "MissingReciprocal", "Warning", missing, Nil)
      }
    }

    // X4 — RELSPEC parent chain: every non-empty PARENT must match a REFID of
    // the same subject (cross_domain.rs:232-293). Counted per ROW like the
    // reference, not per distinct pair. A RELSPEC without a REFID column means
    // no parent can resolve — every non-empty PARENT row is broken.
    upper.get("RELSPEC").foreach { rsp =>
      val cols = rsp.columns.map(_.toUpperCase).toSet
      if (cols.contains("USUBJID") && cols.contains("PARENT")) {
        val withRef = if (cols.contains("REFID")) rsp else rsp.withColumn("REFID", lit(""))
        val refids = withRef
          .select(txt(col("USUBJID")).as("USUBJID"), txt(col("REFID")).as("PARENT"))
          .where(col("PARENT") =!= "").distinct()
        val broken = withRef.where(!isBlank(col("PARENT")))
          .select(txt(col("USUBJID")).as("USUBJID"), txt(col("PARENT")).as("PARENT"))
          .join(broadcast(refids), Seq("USUBJID", "PARENT"), "left_anti")
        val r = broken.agg(count(lit(1)), slice(sort_array(
          collect_set(concat_ws(":", col("USUBJID"), col("PARENT")))), 1, 5)).head()
        if (r.getLong(0) > 0)
          issues += Issue("RELSPEC", "PARENT", "BrokenParentChain", "Error",
            r.getLong(0), r.getSeq[String](1))
      }
    }

    // X5 — RELREC record references: RDOMAIN+IDVAR+IDVARVAL must hit an
    // existing record key. Key table = the referenced domains' --SEQ/--GRPID/
    // --REFID/--LNKID + VISITNUM values (cross_domain.rs:300-384); one issue
    // per referenced RDOMAIN, like the reference's per-domain grouping.
    upper.get("RELREC").foreach { rr =>
      val cols = rr.columns.map(_.toUpperCase).toSet
      if (Seq("RDOMAIN", "IDVAR", "IDVARVAL").forall(cols.contains)) {
        val keySources = upper.filterNot(_._1 == "RELREC").map { case (code, df) =>
          code -> (df, Seq(s"${code}SEQ", s"${code}GRPID", s"${code}REFID",
            s"${code}LNKID", "VISITNUM"))
        }
        if (keySources.nonEmpty) {
          val keys = Validate.relrecKeyTable(keySources)
          // dataset-level relationships (empty IDVARVAL) and rows with a blank
          // RDOMAIN/IDVAR are out of scope, as in check_relrec
          val scoped = rr.where(!isBlank(col("RDOMAIN")) && !isBlank(col("IDVAR")))
          val dangling = Validate.danglingRecordRefs(scoped, keys, "RDOMAIN", "IDVAR", "IDVARVAL")
          dangling.groupBy(col("rdomain"))
            .agg(count(lit(1)).as("n"), slice(sort_array(
              collect_set(concat_ws("=", col("idvar"), col("idvarval")))), 1, 5).as("samples"))
            .orderBy(col("rdomain"))
            .collect().foreach { row =>
              issues += Issue("RELREC", row.getString(0), "DanglingRecordRef", "Error",
                row.getLong(1), row.getSeq[String](2))
            }
        }
      }
    }
    issues.result()
  }
}
