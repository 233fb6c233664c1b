package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.types._

import graft.Graft.srcCol
import graft.SparkSpec
import graft.sources.{ColumnScores, ItemsMetadata}
import graft.standards.{SdtmDomain, Standards, TerminologyRegistry, VariableType}

/** The long-form profile kernel ([[Validate.valueCounts]]) against a
  * driver-side recomputation from collected rows, for every consumer:
  * mapping hints, Items.csv column scores and V1-V8 domain validation.
  * Plus plan-shape pins: the kernel's plan must not grow with the column
  * count, and validation must never carry CT terms as literal lists. */
class ProfileKernelSpec extends SparkSpec {

  // ---- driver-side reference model -----------------------------------------

  private val Numeric = Validate.NumericRegex.r
  private val IsoDate = Validate.IsoDateRegex.r
  private def rlike(r: scala.util.matching.Regex, v: String) = r.findFirstIn(v).isDefined

  /** Collected cells in the engine's normal form: Spark's string cast (so
    * Long/Double/Int render exactly as the engine sees them), null → "",
    * trimmed of spaces like Spark's `trim`. */
  private def cells(df: DataFrame): Seq[IndexedSeq[String]] =
    df.select(df.columns.toSeq.map(c => srcCol(c).cast("string")): _*).collect().toSeq
      .map(r => r.toSeq.toIndexedSeq.map { x =>
        Option(x).map(_.toString.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse)
          .getOrElse("")
      })

  private def refHints(df: DataFrame): Map[String, ColumnHint] = {
    val rows = cells(df)
    df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      val vs = rows.map(_(i))
      val filled = vs.filter(_.nonEmpty)
      val nonNull = filled.size.toLong
      c -> ColumnHint(
        isNumeric = nonNull > 0 && filled.count(rlike(Numeric, _)).toDouble / nonNull > 0.9,
        uniqueRatio = if (nonNull > 0) filled.distinct.size.toDouble / nonNull else 0.0,
        nullRatio = if (vs.nonEmpty) (vs.size - nonNull).toDouble / vs.size else 1.0)
    }.toMap
  }

  private def refScores(df: DataFrame): Seq[ColumnScores] = {
    val rows = cells(df)
    df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      val vs = rows.map(_(i))
      val total = vs.size.toLong
      val filled = vs.filter(_.nonEmpty)
      val nonNull = filled.size.toLong
      val empty = total - nonNull
      val card = filled.distinct.size + (if (empty > 0) 1L else 0L)
      ColumnScores(i, c,
        uniqueness = if (total > 0) card.toDouble / total else 0.0,
        avgLength = if (nonNull > 0) filled.map(_.length.toLong).sum.toDouble / nonNull else 0.0,
        numericRatio = if (nonNull > 0) filled.count(rlike(Numeric, _)).toDouble / nonNull else 0.0,
        cardinality = card,
        emptyRatio = if (total > 0) empty.toDouble / total else 0.0,
        allShortValues = nonNull > 0 && filled.map(_.length).max <= 10)
    }
  }

  private val DateSuffixes = Seq("DTC", "DTM", "DT", "TM", "STDTC", "ENDTC", "STDT", "ENDT")

  /** V1-V8 recomputed row by row, in the engine's issue order. */
  private def refIssues(df: DataFrame, domain: SdtmDomain, declared: Map[String, Int],
      ct: TerminologyRegistry): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val present = df.columns.map(c => c.toUpperCase -> c).toMap
    val vars = domain.orderedVariables
    vars.foreach { v =>
      val here = present.contains(v.name.toUpperCase)
      if (!here && v.isRequired) out += Issue(domain.name, v.name, "RequiredMissing", "Reject", 0, Nil)
      if (!here && v.isExpected) out += Issue(domain.name, v.name, "ExpectedMissing", "Warning", 0, Nil)
    }
    val rows = cells(df)
    vars.filter(v => present.contains(v.name.toUpperCase)).foreach { v =>
      val n = v.name
      val vs = rows.map(_(df.columns.indexOf(present(n.toUpperCase))))
      val total = vs.size.toLong
      val blanks = vs.count(_.isEmpty).toLong
      if (v.isRequired) {
        if (blanks == total) out += Issue(domain.name, n, "RequiredMissing", "Reject", total, Nil)
        else if (blanks > 0) out += Issue(domain.name, n, "RequiredEmpty", "Error", blanks, Nil)
      } else if (v.isExpected && blanks == total)
        out += Issue(domain.name, n, "ExpectedEmpty", "Warning", total, Nil)
      if (v.isIdentifier && blanks > 0) out += Issue(domain.name, n, "IdentifierNull", "Error", blanks, Nil)
      if (v.dataType == VariableType.Num) {
        val bad = vs.count(x => x.nonEmpty && !rlike(Numeric, x)).toLong
        if (bad > 0) out += Issue(domain.name, n, "NonNumeric", "Error", bad, Nil)
      }
      if (DateSuffixes.exists(n.toUpperCase.endsWith)) {
        val bad = vs.count(x => x.nonEmpty && !rlike(IsoDate, x)).toLong
        if (bad > 0) out += Issue(domain.name, n, "NonIso8601", "Error", bad, Nil)
      }
      declared.get(n).foreach { len =>
        val over = vs.count(_.length > len).toLong
        if (over > 0) out += Issue(domain.name, n, "LengthExceeded", "Warning", over,
          Seq(s"max=${vs.map(_.length).max}", s"declared=$len"))
      }
      v.firstCodelistCode.foreach { code =>
        val allowed = ct.lookupMap(code).keySet
        if (allowed.nonEmpty) {
          val bad = vs.filter(x => x.nonEmpty && !allowed.contains(x.toUpperCase))
          if (bad.nonEmpty) out += Issue(domain.name, n, "InvalidCtValue",
            if (ct.get(code).exists(_.extensible)) "Info" else "Error",
            bad.size.toLong, bad.distinct.sorted.take(5))
        }
      }
    }
    // V5 — surplus rows per duplicated (subject, SEQ)
    val seqVar = s"${domain.name}SEQ"
    for (s <- present.get(seqVar); u <- present.get("USUBJID")) {
      val raw = df.select(srcCol(u).cast("string"), srcCol(s)).collect().toSeq
        .map(r => (Option(r.getString(0)).getOrElse("").trim, r.get(1)))
      val dup = raw.groupBy(identity).values.map(_.size - 1L).sum
      if (dup > 0) out += Issue(domain.name, seqVar, "DuplicateSeq", "Error", dup, Nil)
    }
    out.result()
  }

  // ---- fixtures ------------------------------------------------------------

  private lazy val lb = Standards.domain("LB").get
  private val ct = Standards.ctRegistry

  private val lbSchema = StructType(Seq(
    StructField("STUDYID", StringType), StructField("DOMAIN", StringType),
    StructField("USUBJID", StringType), StructField("LBSEQ", LongType),
    StructField("LBTESTCD", StringType), StructField("LBTEST", StringType),
    StructField("LBORRES", StringType), StructField("LBORRESU", StringType),
    StructField("LBSTRESC", StringType), StructField("LBSTRESN", DoubleType),
    StructField("LBSTRESU", StringType), StructField("VISITNUM", StringType),
    StructField("LBDTC", StringType), StructField("LBDY", IntegerType)))

  // lowercase CT spellings (gluc, glucose, mg/dl), 8 distinct bad test
  // codes, whitespace-only and null cells, non-string --SEQ/--STRESN/--DY,
  // a duplicated (USUBJID, LBSEQ)
  private lazy val lbRows = Seq(
    Row("S", "LB", "S-1", 1L, "GLUC", "Glucose", "5.5", "mg/dL", "5.5", 5.5, "mg/dL", "1", "2024-01-05", 1),
    Row("S", "LB", "S-1", 1L, "gluc", "glucose", "abc", "MG/DL", "abc", null, "mg/dl", "x", "2024-13-01", -3),
    Row("S", "LB", " S-2 ", 2L, "ZZ666", "Bogus Test", "  ", "furlongs", "  ", 1.0e10, "furlongs", "2", "05/01/2024", null),
    Row("S", "LB", "   ", null, "ZZ1", null, null, null, "a-long-result", 0.001, null, null, "", 2),
    Row("S", "LB", null, 3L, "zz2", "", "<3", "g/L", "<3", -0.0, "g/L", "3.", "2024-01-05T10:30", 12345),
    Row(" S ", "LB", "S-3", 4L, "ZZ3", "Glucose", "1e3", " ", "1e3", 100.0, "", ".5", "2024-02", 3),
    Row("S", "lb", "S-3", 5L, "ZZ4", "Glucose", "+7", "mmol/L", "+7", 7.0, "mmol/L", "-1", "2024", 4),
    Row("S", "LB", "S-3", 6L, "ZZ5", "Glucose", "7", "mmol/L", "7", 7.0, "mmol/L", "1e2", "2024-01-05T25:00", 5),
    Row("S", "LB", "S-4", 1L, "ZZ0", "Glucose", "7", "mmol/L", "7", 7.0, "mmol/L", "1", "2024-01-05", 6),
    Row("S", "LB", "S-4", 2L, "zz0", "Glucose", "7", "mmol/L", "7", 7.0, "mmol/L", "1", "2024-01-05", 7))

  private def frame(rows: Seq[Row], schema: StructType = lbSchema): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private lazy val mixed = frame(lbRows)
  private lazy val empty = frame(Nil)
  private lazy val allBlank = frame(Seq(
    Row(null, "", "  ", null, "", " ", null, "", "   ", null, "", null, "", null),
    Row("", null, "", null, null, "", "  ", null, "", null, null, "", " ", null)))

  private val declared = Map("LBTESTCD" -> 4, "LBSTRESC" -> 5, "USUBJID" -> 3, "LBDY" -> 2)

  private val cases = Seq("mixed" -> (() => mixed), "zero rows" -> (() => empty),
    "all blank" -> (() => allBlank))

  // ---- equivalence -----------------------------------------------------------

  test("columnHints ≡ driver recomputation (mixed, zero rows, all blank)") {
    for ((name, df) <- cases)
      assert(Mapping.columnHints(df()) == refHints(df()), name)
  }

  test("analyzeColumns ≡ driver recomputation (mixed, zero rows, all blank)") {
    for ((name, df) <- cases)
      assert(ItemsMetadata.analyzeColumns(df()) == refScores(df()), name)
  }

  test("validateDomain ≡ driver recomputation (mixed, zero rows, all blank)") {
    for ((name, df) <- cases) {
      val got = DomainValidation.validateDomain(df(), lb, declaredLengths = declared, ct = ct)
      assert(got == refIssues(df(), lb, declared, ct), name)
    }
  }

  test("the mixed fixture exercises every V1-V8 branch it is meant to") {
    val got = DomainValidation.validateDomain(mixed, lb, declaredLengths = declared, ct = ct)
    def one(v: String, kind: String) = got.find(i => i.variable == v && i.kind == kind)
    // 8 bad test-code rows, 8 distinct spellings: samples are the first 5 sorted
    val testcd = one("LBTESTCD", "InvalidCtValue").get
    assert(testcd.count == 8)
    assert(testcd.samples == Seq("ZZ0", "ZZ1", "ZZ3", "ZZ4", "ZZ5"))
    // lowercase spellings of valid terms resolve case-insensitively
    assert(one("LBTEST", "InvalidCtValue").get.samples == Seq("Bogus Test"))
    assert(one("LBORRESU", "InvalidCtValue").get.samples == Seq("furlongs"))
    assert(one("LBTESTCD", "LengthExceeded").get.samples == Seq("max=5", "declared=4"))
    assert(one("LBDY", "LengthExceeded").get.samples == Seq("max=5", "declared=2"))
    assert(one("VISITNUM", "NonNumeric").get.count == 1)
    assert(one("LBDTC", "NonIso8601").get.count == 3)
    assert(one("USUBJID", "RequiredEmpty").get.count == 2)
    assert(one("LBSEQ", "DuplicateSeq").get.count == 1)
    assert(!got.exists(i => i.variable == "LBSTRESN" && i.kind == "NonNumeric"))
  }

  // ---- plan shape --------------------------------------------------------------

  private def aggregateExprs(p: LogicalPlan): Int =
    p.collect { case a: Aggregate =>
      a.aggregateExpressions.map(_.collect { case e: AggregateExpression => e }.size).sum
    }.sum

  private def expands(p: LogicalPlan): Int = p.collect { case e: Expand => e }.size

  private def literalLists(p: LogicalPlan): Int =
    p.flatMap(_.expressions.flatMap(_.collect { case e: In => e; case e: InSet => e })).size

  private def wide(n: Int): DataFrame =
    spark.range(3).selectExpr((0 until n).map(i => s"cast(id + $i as string) as c$i"): _*)

  test("plan shape: the kernel's aggregate does not grow with the column count") {
    val small = Validate.valueCounts(wide(5), (0 until 5).map(i => s"c$i"))
    val large = Validate.valueCounts(wide(60), (0 until 60).map(i => s"c$i"))
    val (ps, pl) = (small.queryExecution.optimizedPlan, large.queryExecution.optimizedPlan)
    assert(aggregateExprs(ps) == aggregateExprs(pl), pl.treeString)
    assert(aggregateExprs(pl) == 1, pl.treeString)
    assert(expands(ps) + expands(pl) == 0, pl.treeString)
    assert(large.count() == 3 * 60)
  }

  test("plan shape: V1-V8 profile is column-count invariant and has no CT literal lists") {
    val vars = lb.orderedVariables
    def plan(n: Int) = {
      val vs = vars.take(n)
      val df = spark.range(2).selectExpr(vs.map(v => s"cast(id as string) as `${v.name}`"): _*)
      DomainValidation.domainProfile(df, vs.map(v => v.name -> v), Map.empty, ct)
        .queryExecution.optimizedPlan
    }
    val (ps, pl) = (plan(5), plan(vars.size))
    assert(vars.size > 30)
    assert(aggregateExprs(ps) == aggregateExprs(pl), pl.treeString)
    assert(expands(ps) + expands(pl) == 0, pl.treeString)
    assert(literalLists(ps) + literalLists(pl) == 0, pl.treeString)
  }
}
