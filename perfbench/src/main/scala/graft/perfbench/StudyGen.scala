package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** One issue the generator planted, as study validation must report it. */
case class ExpectedIssue(domain: String, variable: String, kind: String, count: Long)

/** The edit the interactive workload toggles: `variable` alternates between
  * two source columns holding identical values. */
case class EditTarget(domain: String, variable: String, columnA: String, columnB: String)

/** What [[StudyGen.write]] produced and planted. `rows` counts data rows
  * per domain file (header rows excluded); `populated` lists, per domain,
  * the SDTM variables the generator wrote values for. */
case class StudyManifest(
    seed: Long,
    studyId: String,
    subjects: Int,
    files: Map[String, String],
    rows: Map[String, Long],
    planted: Map[String, Long],
    populated: Map[String, Set[String]],
    expectedIssues: Seq[ExpectedIssue],
    edits: Seq[EditTarget]) {
  def totalRows: Long = rows.values.sum

}

/**
 * Seeded EDC export generator: a folder of double-header, UTF-8-BOM CSVs
 * (one per domain) plus Items.csv and CodeLists.csv, shaped like a raw
 * clinical-trial export. Source columns carry SDTM variable names, so the
 * mapping scorer's suggestions are exact and the planted defects below
 * reach validation unchanged:
 *
 *  - orphan subjects in AE/LB/VS (X1 `SubjectNotInDm`) and RELSUB
 *    (`RsubjidNotInDm` + `MissingReciprocal`);
 *  - invalid ISO dates in AE.AESTDTC and LB.LBDTC (`NonIso8601`);
 *  - CT-invalid values in DM.ETHNIC, AE.AESEV, LB.LBNRIND (`InvalidCtValue`);
 *  - duplicate source --SEQ values in LB, which N3 renumbers, so the
 *    expected `DuplicateSeq` count is zero.
 *
 * Everything else is valid: CT synonyms (`Caucasian`, `Male`), partial
 * dates (`2021-03`), X/XCD code pairs decoded through CodeLists.csv
 * (SEXCD → SEX, EXROUTECD → EXROUTE). The same seed writes byte-identical
 * files; defect counts vary with the seed, the shape does not.
 */
object StudyGen {

  val StudyId = "GRAFTBENCH"
  val CheckedKinds: Set[String] = Set("SubjectNotInDm", "NonIso8601",
    "InvalidCtValue", "RsubjidNotInDm", "MissingReciprocal", "DuplicateSeq")

  private val Bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  private val LbTests = Seq(
    ("ALT", "Alanine Aminotransferase", "U/L", 7.0, 56.0),
    ("AST", "Aspartate Aminotransferase", "U/L", 10.0, 40.0),
    ("CHOL", "Cholesterol", "mg/dL", 120.0, 200.0),
    ("CREAT", "Creatinine", "mg/dL", 0.6, 1.3),
    ("GLUC", "Glucose", "mg/dL", 70.0, 100.0),
    ("HGB", "Hemoglobin", "g/dL", 12.0, 17.5),
    ("K", "Potassium", "mmol/L", 3.5, 5.0),
    ("PLAT", "Platelets", "10^9/L", 150.0, 400.0),
    ("SODIUM", "Sodium", "mmol/L", 135.0, 145.0),
    ("WBC", "Leukocytes", "10^9/L", 4.0, 11.0))

  private val VsTests = Seq(
    ("SYSBP", "Systolic Blood Pressure", "mmHg", 100.0, 150.0),
    ("DIABP", "Diastolic Blood Pressure", "mmHg", 60.0, 95.0),
    ("PULSE", "Pulse Rate", "beats/min", 55.0, 100.0),
    ("TEMP", "Temperature", "C", 36.0, 37.8),
    ("WEIGHT", "Weight", "kg", 50.0, 110.0),
    ("HEIGHT", "Height", "cm", 150.0, 195.0))

  /** EDC bookkeeping columns that make VS wide: they match no SDTM
    * variable well and cost the scorer one pair per variable each. */
  private val EdcColumns = Seq("FORMOID", "FORMNAME", "FOLDEROID", "FOLDERNAME",
    "RECORDPOSITION", "INSTANCEID", "INSTANCENAME", "DATAPAGEID", "PAGEREPEATNUMBER",
    "RECORDID", "SITEGROUP", "STUDYENVSITENUMBER", "SAVETS", "MINCREATED",
    "MAXUPDATED", "TARGETDAYS", "ENTRYCLERK", "LOCKSTATE", "FROZEN", "REVIEWGROUP",
    "SDVSTATE", "QUERYCOUNT", "ORIGINATOR", "PROTOCOLVER")

  val AllDomains: Seq[String] = Seq("DM", "AE", "LB", "VS", "CM", "EX", "MH", "DS", "SV", "RELSUB")

  /** Study size: `subjects` drive every domain; LB carries most rows. Only
    * `domains` are written (DM is always needed as the subject reference). */
  case class Size(subjects: Int, visits: Int, domains: Seq[String] = AllDomains)

  def write(dir: Path, seed: Long, size: Size): StudyManifest = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val n = size.subjects
    val subj = (1 to n).map(i => f"$i%04d")
    def orphan(i: Int) = f"ORPH$i%03d"
    def between(lo: Int, hi: Int) = lo + rnd.nextInt(hi - lo + 1)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    // distinct row indexes to plant a defect on
    def plantRows(total: Int, k: Int): Set[Int] = {
      val s = scala.collection.mutable.LinkedHashSet[Int]()
      while (s.size < math.min(k, total)) s += rnd.nextInt(total)
      s.toSet
    }
    def date(dayOffset: Int): String =
      java.time.LocalDate.of(2021, 1, 4).plusDays(dayOffset.toLong).toString
    def num(lo: Double, hi: Double): String = {
      val v = lo + rnd.nextDouble() * (hi - lo)
      java.math.BigDecimal.valueOf(math.round(v * 10) / 10.0).stripTrailingZeros().toPlainString
    }
    val badDate = "2O21-O3-1O" // letter O: no cascade format parses it
    val files = scala.collection.mutable.LinkedHashMap[String, String]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val populated = scala.collection.mutable.LinkedHashMap[String, Set[String]]()
    val headers = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    val planted = scala.collection.mutable.LinkedHashMap[String, Long]()
    val expected = Seq.newBuilder[ExpectedIssue]

    def emit(code: String, header: Seq[String], body: Seq[Seq[String]]): Unit = {
      if (!size.domains.contains(code)) return
      val file = s"${code.toLowerCase}.csv"
      // SUBJID feeds USUBJID; an X/XCD code column is decoded into X
      populated(code) = header.toSet ++ Set("USUBJID") ++
        header.filter(_.endsWith("CD")).map(_.dropRight(2))
      writeCsv(dir.resolve(file), Some(header.map(labelFor)), header, body, bom = true)
      files(code) = file
      headers(code) = header
      rows(code) = body.size.toLong
    }
    val startDay = subj.map(_ => rnd.nextInt(60)).toIndexedSeq

    // ---- DM: one row per subject ------------------------------------------
    val ethnicBad = plantRows(n, between(2, 6))
    val dm = subj.indices.map { i =>
      val start = startDay(i)
      val sexCd = if (rnd.nextBoolean()) "1" else "2"
      val race = pick(Seq("WHITE", "Caucasian", "ASIAN", "BLACK OR AFRICAN AMERICAN"))
      val ethnic =
        if (ethnicBad(i)) "HISPANIC-ISH"
        else pick(Seq("HISPANIC OR LATINO", "NOT HISPANIC OR LATINO"))
      val arm = pick(Seq(("TRT", "Treatment"), ("PBO", "Placebo")))
      val site = f"${1 + i % 12}%03d"
      Seq(subj(i), site, s"Investigator $site", date(start), date(start + 120),
        s"${1950 + rnd.nextInt(40)}", s"${between(18, 75)}", "YEARS", sexCd, race,
        ethnic, arm._1, arm._2, arm._1, arm._2, pick(Seq("USA", "DEU", "FRA", "JPN")),
        date(start - 7), s"Investigator $site")
    }
    emit("DM", Seq("SUBJID", "SITEID", "INVNAM", "RFSTDTC", "RFENDTC", "BRTHDTC", "AGE",
      "AGEU", "SEXCD", "RACE", "ETHNIC", "ARMCD", "ARM", "ACTARMCD", "ACTARM", "COUNTRY",
      "DMDTC", "INVNAM_ENTRY"), dm)
    planted("dm.ethnic_ct_invalid") = ethnicBad.size
    expected += ExpectedIssue("DM", "ETHNIC", "InvalidCtValue", ethnicBad.size)

    // subject list with `k` orphan references mixed in at planted rows
    def subjectsWithOrphans(total: Int, k: Int, base: Int => String): (Seq[String], Int) = {
      val orphans = plantRows(total, k)
      ((0 until total).map(r => if (orphans(r)) orphan(r % 997) else base(r)), orphans.size)
    }

    // ---- AE -------------------------------------------------------------------
    val aeOwner = (0 until n * 3).map(_ => rnd.nextInt(n))
    val (aeSubj, aeOrphans) = subjectsWithOrphans(aeOwner.size, between(3, 9), r => subj(aeOwner(r)))
    val aeBadDate = plantRows(aeOwner.size, between(2, 7))
    val aeBadSev = plantRows(aeOwner.size, between(2, 7))
    val terms = Seq(("Headache", "Headache", "Nervous system disorders"),
      ("Nausea", "Nausea", "Gastrointestinal disorders"),
      ("Rash", "Rash", "Skin and subcutaneous tissue disorders"),
      ("Fatigue", "Fatigue", "General disorders"),
      ("Dizziness", "Dizziness", "Nervous system disorders"))
    val ae = aeOwner.indices.map { r =>
      val t = pick(terms)
      val d = startDay(aeOwner(r)) + rnd.nextInt(100)
      Seq(aeSubj(r), s"${r + 1}", t._1, t._2, t._3,
        if (aeBadSev(r)) "GRADE X" else pick(Seq("MILD", "MODERATE", "SEVERE")),
        pick(Seq("Y", "N")), pick(Seq("DOSE NOT CHANGED", "DRUG INTERRUPTED", "DOSE REDUCED")),
        pick(Seq("RECOVERED/RESOLVED", "RECOVERING/RESOLVING", "NOT RECOVERED/NOT RESOLVED")),
        if (aeBadDate(r)) badDate else date(d), date(d + rnd.nextInt(14)), t._1)
    }
    emit("AE", Seq("SUBJID", "AESPID", "AETERM", "AEDECOD", "AEBODSYS", "AESEV", "AESER",
      "AEACN", "AEOUT", "AESTDTC", "AEENDTC", "AETERM_ENTRY"), ae)
    planted("ae.orphan_rows") = aeOrphans
    planted("ae.invalid_iso_dates") = aeBadDate.size
    planted("ae.sev_ct_invalid") = aeBadSev.size
    expected += ExpectedIssue("AE", "USUBJID", "SubjectNotInDm", aeOrphans)
    expected += ExpectedIssue("AE", "AESTDTC", "NonIso8601", aeBadDate.size)
    expected += ExpectedIssue("AE", "AESEV", "InvalidCtValue", aeBadSev.size)

    // ---- LB: subjects × visits × tests (the long domain) ----------------------
    val lbKeys = for (s <- 0 until n; v <- 1 to size.visits; t <- LbTests.indices) yield (s, v, t)
    val (lbSubj, lbOrphans) = subjectsWithOrphans(lbKeys.size, between(5, 15), r => subj(lbKeys(r)._1))
    val lbBadDate = plantRows(lbKeys.size, between(3, 10))
    val lbBadInd = plantRows(lbKeys.size, between(3, 10))
    val lbDupSeq = plantRows(lbKeys.size, between(4, 12))
    val lb = lbKeys.indices.map { r =>
      val (s, v, t) = lbKeys(r)
      val (cd, name, unit, lo, hi) = LbTests(t)
      val value = num(lo * 0.8, hi * 1.2)
      val ind = {
        val x = value.toDouble
        if (lbBadInd(r)) "BORDERLINE" else if (x < lo) "LOW" else if (x > hi) "HIGH" else "NORMAL"
      }
      val d = date(startDay(s) + (v - 1) * 14)
      // planted duplicate: the row repeats the previous row's SEQ
      val seq = if (lbDupSeq(r) && r > 0) r else r + 1
      Seq(lbSubj(r), s"$v", s"VISIT $v", cd, name, "CHEMISTRY", value, unit,
        num(lo, lo), num(hi, hi), value, value, unit, ind, "SERUM",
        if (lbBadDate(r)) badDate else s"${d}T08:${f"${rnd.nextInt(60)}%02d"}", s"$seq",
        value)
    }
    emit("LB", Seq("SUBJID", "VISITNUM", "VISIT", "LBTESTCD", "LBTEST", "LBCAT", "LBORRES",
      "LBORRESU", "LBORNRLO", "LBORNRHI", "LBSTRESC", "LBSTRESN", "LBSTRESU", "LBNRIND",
      "LBSPEC", "LBDTC", "LBSEQ", "LBORRES_ENTRY"), lb)
    planted("lb.orphan_rows") = lbOrphans
    planted("lb.invalid_iso_dates") = lbBadDate.size
    planted("lb.nrind_ct_invalid") = lbBadInd.size
    planted("lb.duplicate_source_seq") = lbDupSeq.size
    expected += ExpectedIssue("LB", "USUBJID", "SubjectNotInDm", lbOrphans)
    expected += ExpectedIssue("LB", "LBDTC", "NonIso8601", lbBadDate.size)
    expected += ExpectedIssue("LB", "LBNRIND", "InvalidCtValue", lbBadInd.size)

    // ---- VS: long values plus the EDC bookkeeping columns (the wide domain) ---
    val vsKeys = for (s <- 0 until n; v <- 1 to size.visits; t <- VsTests.indices) yield (s, v, t)
    val (vsSubj, vsOrphans) = subjectsWithOrphans(vsKeys.size, between(3, 9), r => subj(vsKeys(r)._1))
    val vs = vsKeys.indices.map { r =>
      val (s, v, t) = vsKeys(r)
      val (cd, name, unit, lo, hi) = VsTests(t)
      val value = num(lo, hi)
      Seq(vsSubj(r), s"$v", s"VISIT $v", cd, name, pick(Seq("SITTING", "SUPINE", "STANDING")),
        value, unit, value, value, unit, date(startDay(s) + (v - 1) * 14)) ++
        EdcColumns.indices.map(c => s"E${(r * 31 + c * 7) % 1000}")
    }
    emit("VS", Seq("SUBJID", "VISITNUM", "VISIT", "VSTESTCD", "VSTEST", "VSPOS", "VSORRES",
      "VSORRESU", "VSSTRESC", "VSSTRESN", "VSSTRESU", "VSDTC") ++ EdcColumns, vs)
    planted("vs.orphan_rows") = vsOrphans
    expected += ExpectedIssue("VS", "USUBJID", "SubjectNotInDm", vsOrphans)

    // ---- CM / EX / MH / DS / SV: small per-subject domains --------------------
    val cm = subj.indices.flatMap { i => (0 until between(1, 3)).map { _ =>
      val d = startDay(i) - rnd.nextInt(300)
      val drug = pick(Seq("ASPIRIN", "IBUPROFEN", "METFORMIN", "LISINOPRIL"))
      Seq(subj(i), drug, drug, pick(Seq("PAIN", "DIABETES", "HYPERTENSION")),
        s"${pick(Seq(10, 20, 50, 100))}", "mg", "ORAL", date(d), date(d + 200))
    } }
    emit("CM", Seq("SUBJID", "CMTRT", "CMDECOD", "CMINDC", "CMDOSE", "CMDOSU", "CMROUTE",
      "CMSTDTC", "CMENDTC"), cm)

    val ex = subj.indices.flatMap { i => (1 to size.visits).map { v =>
      val d = startDay(i) + (v - 1) * 14
      Seq(subj(i), "STUDY DRUG", "50", "mg", "TABLET", "1", date(d), date(d + 13))
    } }
    emit("EX", Seq("SUBJID", "EXTRT", "EXDOSE", "EXDOSU", "EXDOSFRM", "EXROUTECD",
      "EXSTDTC", "EXENDTC"), ex)

    val mh = subj.indices.flatMap { i => (0 until between(0, 2)).map { _ =>
      val year = 2000 + rnd.nextInt(20)
      // partial dates: year or year-month only
      val d = if (rnd.nextBoolean()) s"$year" else f"$year-${1 + rnd.nextInt(12)}%02d"
      Seq(subj(i), pick(Seq("ASTHMA", "DIABETES MELLITUS", "HYPERTENSION")),
        pick(Seq("Asthma", "Diabetes mellitus", "Hypertension")), "Medical history", d)
    } }
    emit("MH", Seq("SUBJID", "MHTERM", "MHDECOD", "MHBODSYS", "MHSTDTC"), mh)

    val ds = subj.indices.map { i =>
      val decod = pick(Seq("COMPLETED", "COMPLETED", "ADVERSE EVENT", "WITHDRAWAL BY SUBJECT"))
      Seq(subj(i), decod.toLowerCase.capitalize, decod, "DISPOSITION EVENT",
        date(startDay(i) + 120))
    }
    emit("DS", Seq("SUBJID", "DSTERM", "DSDECOD", "DSCAT", "DSSTDTC"), ds)

    val sv = subj.indices.flatMap { i => (1 to size.visits).map { v =>
      val d = date(startDay(i) + (v - 1) * 14)
      Seq(subj(i), s"$v", s"VISIT $v", d, d)
    } }
    emit("SV", Seq("SUBJID", "VISITNUM", "VISIT", "SVSTDTC", "SVENDTC"), sv)

    // ---- RELSUB: two-way household pairs plus planted orphan relations -------
    // SREL values outside the engine's fixed reciprocal table, so ingest adds
    // no rows: reciprocals it would build swap the bare SUBJID (USUBJID is
    // prefixed at normalization) with the full RSUBJID and dangle both ways
    val pairs = (0 until n / 10).map(p => (2 * p, 2 * p + 1))
    val relOrphans = between(1, 4)
    val relsub = pairs.flatMap { case (a, b) =>
      Seq(Seq(subj(a), s"$StudyId-${subj(b)}", "HOUSEHOLD MEMBER"),
        Seq(subj(b), s"$StudyId-${subj(a)}", "HOUSEHOLD MEMBER"))
    } ++ (0 until relOrphans).map(k =>
      Seq(subj(k % n), s"$StudyId-${orphan(900 + k)}", "HOUSEHOLD MEMBER"))
    emit("RELSUB", Seq("USUBJID", "RSUBJID", "SREL"), relsub)
    planted("relsub.orphan_rsubjid") = relOrphans
    expected += ExpectedIssue("RELSUB", "RSUBJID", "RsubjidNotInDm", relOrphans)
    expected += ExpectedIssue("RELSUB", "RSUBJID", "MissingReciprocal", relOrphans)

    // ---- Items.csv + CodeLists.csv ----------------------------------------------
    // one item per written source column, as an EDC export's Items.csv
    // lists every collected field (a short list can fool the engine's
    // statistical column-role detection)
    val allCols = headers.keys.toSeq.sorted.flatMap(headers).distinct
      .filterNot(c => c == "USUBJID" || c == "RSUBJID")
    val items = allCols.map { c =>
      val fmt = c match { case "SEXCD" => "SEXF"; case "EXROUTECD" => "ROUTEF"; case _ => "" }
      val typ = if (c.endsWith("DTC")) "date" else if (c.endsWith("CD")) "integer" else "text"
      Seq(c, s"${labelFor(c)} as collected on the case report form", typ,
        if (c == "SUBJID") "Yes" else "No", fmt, s"${c.length + 10}")
    }
    writeCsv(dir.resolve("Items.csv"), None,
      Seq("ItemOID", "Label", "DataType", "Mandatory", "FormatName", "ContentLength"),
      items, bom = true)
    writeCsv(dir.resolve("CodeLists.csv"), Some(Seq("Format", "Code", "Decode")),
      Seq("FormatName", "CodeValue", "CodeText"),
      Seq(Seq("SEXF", "1", "Male"), Seq("SEXF", "2", "Female"),
        Seq("ROUTEF", "1", "ORAL"), Seq("ROUTEF", "2", "INTRAVENOUS")), bom = true)

    planted("lb.duplicate_seq_after_renumbering") = 0
    StudyManifest(seed, StudyId, n, files.toMap, rows.toMap,
      planted.toMap.filter(kv => size.domains.exists(d => kv._1.startsWith(d.toLowerCase + "."))),
      populated.toMap,
      expected.result().filter(e => e.count > 0 && size.domains.contains(e.domain)),
      edits = Seq(
        EditTarget("LB", "LBORRES", "LBORRES", "LBORRES_ENTRY"),
        EditTarget("AE", "AETERM", "AETERM", "AETERM_ENTRY"),
        EditTarget("DM", "INVNAM", "INVNAM", "INVNAM_ENTRY")).filter(e => size.domains.contains(e.domain)))
  }

  private def labelFor(c: String): String =
    c.toLowerCase.split("_").map(_.capitalize).mkString(" ")

  private def csvField(v: String): String =
    if (v.exists(ch => ch == ',' || ch == '"' || ch == '\n')) "\"" + v.replace("\"", "\"\"") + "\""
    else v

  def writeCsv(path: Path, labels: Option[Seq[String]], header: Seq[String],
      body: Seq[Seq[String]], bom: Boolean): Unit = {
    val out = Files.newOutputStream(path)
    if (bom) out.write(Bom)
    val w = new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8), 1 << 16)
    try {
      (labels.toSeq :+ header).foreach(r => w.write(r.map(csvField).mkString("", ",", "\n")))
      body.foreach(r => w.write(r.map(csvField).mkString("", ",", "\n")))
    } finally w.close()
  }
}
