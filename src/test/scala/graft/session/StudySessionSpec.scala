package graft.session

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sinks.XptReader
import graft.standards.Standards

/** End-to-end study pipeline: CSV → map → normalize → validate → export
  * (E1/E2/E3 over a mockdata-shaped mini-study). */
class StudySessionSpec extends SparkSpec {

  private lazy val studyDir = {
    val d = Paths.get("target", "tmp", "study1")
    Files.createDirectories(d)
    Files.write(d.resolve("dm.csv"),
      ("SUBJID,RFSTDTC,BRTHDTC,AGE,SEX,SEXLBL\n" +
        "101,2024-01-10,15/03/1980,44,male,Male\n" +
        "102,2024-01-12,1975-07,48,F,Female\n" +
        "103,2024-01-15,1990-01-01,34,X,Other\n").getBytes)
    Files.write(d.resolve("ae.csv"),
      ("SUBJID,AETERM,AESEV,AESTDTC,AEENDTC\n" +
        "101,Headache,mild,2024-01-12,2024-01-13\n" +
        "101,Nausea,Grade 2,2024-01-20,\n" +
        "102,Fatigue,SEVERE,14/01/2024,2024-01-18\n" +
        "999,Phantom,MILD,2024-01-11,\n").getBytes)
    d.toString
  }

  private lazy val session = StudySession.create(spark, "GRAFT1", studyDir,
    Map("DM" -> "dm.csv", "AE" -> "ae.csv"))

  test("E1: scoring suggests the obvious mappings") {
    val dm = session.domainState("DM").get
    assert(dm.mapping.columnFor("SUBJID").contains("SUBJID"))
    assert(dm.mapping.columnFor("RFSTDTC").contains("RFSTDTC"))
    assert(dm.mapping.columnFor("SEX").contains("SEX"))
    assert(dm.mapping.columnFor("AGE").contains("AGE"))
    val ae = session.domainState("AE").get
    assert(ae.mapping.columnFor("AETERM").contains("AETERM"))
    assert(ae.mapping.columnFor("AESTDTC").contains("AESTDTC"))
  }

  test("E2: normalization derives constants, USUBJID, dates, CT, study day") {
    val dm = session.preview("DM").get.orderBy("USUBJID").collect()
    assert(dm.map(_.getAs[String]("STUDYID")).distinct.toSeq == Seq("GRAFT1"))
    assert(dm.map(_.getAs[String]("DOMAIN")).distinct.toSeq == Seq("DM"))
    assert(dm.map(_.getAs[String]("USUBJID")).toSeq ==
      Seq("GRAFT1-101", "GRAFT1-102", "GRAFT1-103"))
    // BRTHDTC: euro date normalized, partial preserved
    assert(dm.map(_.getAs[String]("BRTHDTC")).toSeq ==
      Seq("1980-03-15", "1975-07", "1990-01-01"))
    // SEX CT: synonym "male"→M, M/F pass, miss preserved
    assert(dm.map(_.getAs[String]("SEX")).toSeq == Seq("M", "F", "X"))
    // AGE numeric
    assert(dm.map(_.getAs[Double]("AGE")).toSeq == Seq(44.0, 48.0, 34.0))

    val ae = session.preview("AE").get.orderBy("_row_id").collect()
    // AESEQ windows per subject in file order
    assert(ae.map(r => (r.getAs[String]("USUBJID"), r.getAs[Long]("AESEQ"))).toSeq ==
      Seq(("GRAFT1-101", 1L), ("GRAFT1-101", 2L), ("GRAFT1-102", 1L), ("GRAFT1-999", 1L)))
    // AESEV CT with synonyms (mild→MILD, Grade 2→MODERATE)
    assert(ae.map(_.getAs[String]("AESEV")).toSeq ==
      Seq("MILD", "MODERATE", "SEVERE", "MILD"))
    // AESTDY vs DM.RFSTDTC (first parseable = 2024-01-10): 12th → day 3
    assert(ae.map(r => Option(r.getAs[Integer]("AESTDY")).map(_.toInt)).toSeq ==
      Seq(Some(3), Some(11), Some(5), Some(2)))
  }

  test("E2: validation flags missing required vars, bad CT, and orphans") {
    val dmIssues = session.validate("DM")
    // COUNTRY is Required in DM and absent from the source → Reject
    assert(dmIssues.exists(i => i.variable == "COUNTRY" && i.kind == "RequiredMissing"
      && i.severity == "Reject"))
    // SEX value "X" resolves to no CT term (non-extensible C66731)
    val sexIssue = dmIssues.find(i => i.variable == "SEX" && i.kind == "InvalidCtValue")
    assert(sexIssue.exists(i => i.severity == "Error" && i.samples == Seq("X")))
    // populated required vars are clean
    assert(!dmIssues.exists(i => i.variable == "USUBJID"))
    val cross = session.validateCross()
    val orphan = cross.find(_.kind == "SubjectNotInDm")
    assert(orphan.isDefined)
    assert(orphan.get.count == 1)
    assert(orphan.get.samples == Seq("GRAFT1-999"))
  }

  test("E2: X4/X5 surface through session.validateCross (RELSPEC chain, RELREC refs)") {
    val d = Paths.get("target", "tmp", "study_rel")
    Files.createDirectories(d)
    Files.write(d.resolve("dm.csv"),
      ("SUBJID,RFSTDTC,SEX\n101,2024-01-10,M\n102,2024-01-12,F\n").getBytes)
    Files.write(d.resolve("ae.csv"),
      ("SUBJID,AETERM,AESEV,AESTDTC\n101,Headache,MILD,2024-01-12\n" +
        "102,Fatigue,SEVERE,2024-01-14\n").getBytes)
    // SAMPLE-3's PARENT points at a REFID no row of subject 101 carries
    Files.write(d.resolve("relspec.csv"),
      ("SUBJID,REFID,PARENT,LEVEL,SPEC\n" +
        "101,SAMPLE-1,,1,BLOOD\n" +
        "101,SAMPLE-2,SAMPLE-1,2,PLASMA\n" +
        "101,SAMPLE-3,MISSING-REF,2,SERUM\n").getBytes)
    // AESEQ=1 exists (valid); AESEQ=99 dangles
    Files.write(d.resolve("relrec.csv"),
      ("SUBJID,RDOMAIN,IDVAR,IDVARVAL,RELTYPE,RELID\n" +
        "101,AE,AESEQ,1,ONE,R1\n" +
        "101,AE,AESEQ,99,ONE,R2\n").getBytes)
    val rel = StudySession.create(spark, "GRAFT1", d.toString,
      Map("DM" -> "dm.csv", "AE" -> "ae.csv",
        "RELSPEC" -> "relspec.csv", "RELREC" -> "relrec.csv"))
    val cross = rel.validateCross()
    val chain = cross.find(_.kind == "BrokenParentChain")
    assert(chain.isDefined, s"no BrokenParentChain in $cross")
    assert(chain.get.count == 1)
    assert(chain.get.samples == Seq("GRAFT1-101:MISSING-REF"))
    val dangling = cross.find(_.kind == "DanglingRecordRef")
    assert(dangling.isDefined, s"no DanglingRecordRef in $cross")
    assert(dangling.get.variable == "AE")
    assert(dangling.get.count == 1)
    assert(dangling.get.samples == Seq("AESEQ=99"))
  }

  test("E1: a SEND study resolves SEND-only domains through the selector") {
    val d = Paths.get("target", "tmp", "study_send")
    Files.createDirectories(d)
    Files.write(d.resolve("dm.csv"),
      ("SUBJID,RFSTDTC,SEX\n101,2024-01-10,M\n").getBytes)
    // MA (Macroscopic Findings) exists only in SEND-IG
    Files.write(d.resolve("ma.csv"),
      ("SUBJID,MATESTCD,MAORRES,MADTC\n101,GROSPATH,UNREMARKABLE,2024-01-20\n").getBytes)
    val send = StudySession.create(spark, "TOX1", d.toString,
      Map("DM" -> "dm.csv", "MA" -> "ma.csv"), standard = "send")
    val ma = send.preview("MA")
    assert(ma.isDefined, "SEND session should resolve MA metadata")
    val row = ma.get.orderBy("_row_id").collect().head
    assert(row.getAs[String]("DOMAIN") == "MA")
    assert(row.getAs[String]("MATESTCD") == "GROSPATH")
    // the same study under SDTM cannot represent MA (no IG metadata)
    val sdtm = StudySession.create(spark, "TOX1", d.toString,
      Map("DM" -> "dm.csv", "MA" -> "ma.csv"))
    assert(sdtm.preview("MA").isEmpty)

    // snapshots carry the standard and the non-SDTM domain's mappings
    val snap = Persistence.snapshotOf(send, d.toString,
      Map("DM" -> "dm.csv", "MA" -> "ma.csv"))
    assert(snap.standard == "send")
    assert(snap.mappings("MA").get("MATESTCD").contains("MATESTCD"))
  }

  test("CT version pin threads into def:Standards, resolution, and snapshots") {
    val d = Paths.get("target", "tmp", "study_ctver")
    Files.createDirectories(d)
    Files.write(d.resolve("dm.csv"),
      ("SUBJID,RFSTDTC,SEX\n101,2024-01-10,M\n").getBytes)
    val assign = Map("DM" -> "dm.csv")

    // default = the reference's production default publication
    val unpinned = StudySession.create(spark, "VER0", d.toString, assign,
      standard = "send")
    assert(unpinned.ctVersion == graft.standards.Standards.DefaultCtVersion)
    unpinned.exportAll("target/tmp/study_ctver_out0")
    val def0 = new String(Files.readAllBytes(
      Paths.get("target/tmp/study_ctver_out0/define.xml")), "UTF-8")
    assert(def0.contains("STD.CT.SEND.2024-03-29"), "default pin in def:Standards")

    // a pinned session exports and resolves through ITS publication only
    val pinned = StudySession.create(spark, "VER1", d.toString, assign,
      standard = "send", ctVersion = "2025-09-26")
    pinned.exportAll("target/tmp/study_ctver_out1")
    val def1 = new String(Files.readAllBytes(
      Paths.get("target/tmp/study_ctver_out1/define.xml")), "UTF-8")
    assert(def1.contains("STD.CT.SEND.2025-09-26"))
    assert(!def1.contains("2024-03-29"), "no leakage of the default date")

    // the pin rides in the snapshot (format v3) and restores
    val snap = Persistence.snapshotOf(pinned, d.toString, assign)
    assert(snap.ctVersion == "2025-09-26")
    // unknown pins fail fast at session construction
    intercept[IllegalArgumentException](
      new StudySession(spark, "VERX", ctVersion = "2023-01-01"))
  }

  test("E3: split-domain dataset (LBCH) exports under its own name with parent DOMAIN") {
    val d = Paths.get("target", "tmp", "study_split")
    Files.createDirectories(d)
    Files.write(d.resolve("dm.csv"),
      ("SUBJID,RFSTDTC,SEX\n101,2024-01-10,M\n").getBytes)
    Files.write(d.resolve("lbch.csv"),
      ("SUBJID,LBTESTCD,LBORRES,LBDTC\n" +
        "101,ALT,34,2024-01-11\n101,AST,28,2024-01-11\n").getBytes)
    val split = StudySession.create(spark, "GRAFT1", d.toString,
      Map("DM" -> "dm.csv", "LBCH" -> "lbch.csv"))
    assert(split.baseDomainCode("LBCH") == "LB")
    assert(split.baseDomainCode("FAAE") == "FA")
    assert(split.baseDomainCode("AE") == "AE")
    // metadata resolves through the parent: LBTESTCD is an LB variable
    val pv = split.preview("LBCH").get.orderBy("_row_id").collect()
    assert(pv.map(_.getAs[String]("DOMAIN")).distinct.toSeq == Seq("LB"))
    assert(pv.map(_.getAs[String]("LBTESTCD")).toSeq == Seq("ALT", "AST"))

    val outDir = "target/tmp/study_split_out"
    val written = split.exportAll(outDir)
    assert(written.exists(_.endsWith("lbch.xpt")))
    val xpt = XptReader.read(s"$outDir/lbch.xpt")
    assert(xpt.name == "LBCH")
    val domIdx = xpt.columns.indexWhere(_.name == "DOMAIN")
    assert(xpt.rows.map(_(domIdx)).toSet == Set("LB"))
    // Define-XML keys the ItemGroupDef by dataset name, Domain by parent
    val define = new String(Files.readAllBytes(Paths.get(s"$outDir/define.xml")), "UTF-8")
    assert(define.contains("""<ItemGroupDef OID="IG.LBCH" Name="LBCH""""))
    assert(define.contains("""Domain="LB""""))
  }

  test("E3: export produces readable XPT + both XML documents + SUPP") {
    val outDir = "target/tmp/study1_out"
    session.configureSupp("DM", Seq(
      "SEXLBL" -> graft.operators.SuppColumnConfig("QSEXLBL", "Sex Label", "CRF")))
    val written = session.exportAll(outDir)
    val supp = XptReader.read(s"$outDir/suppdm.xpt")
    assert(supp.name == "SUPPDM")
    assert(supp.rows.size == 3)
    val qvalIdx = supp.columns.indexWhere(_.name == "QVAL")
    assert(supp.rows.map(_(qvalIdx)).toSet == Set("Male", "Female", "Other"))
    assert(written.exists(_.endsWith("dm.xpt")))
    assert(written.exists(_.endsWith("ae.xml")))
    assert(written.exists(_.endsWith("define.xml")))

    val dm = XptReader.read(s"$outDir/dm.xpt")
    assert(dm.name == "DM")
    assert(dm.rows.size == 3)
    val useIdx = dm.columns.indexWhere(_.name == "USUBJID")
    assert(dm.rows.map(_(useIdx)).toSet ==
      Set("GRAFT1-101", "GRAFT1-102", "GRAFT1-103"))

    val define = new String(Files.readAllBytes(Paths.get(s"$outDir/define.xml")), "UTF-8")
    assert(define.contains("""<ItemGroupDef OID="IG.DM""""))
    assert(define.contains("""<ItemGroupDef OID="IG.AE""""))
    // every dataset in the package is described — SUPPDM included
    assert(define.contains("""<ItemGroupDef OID="IG.SUPPDM""""))
    assert(define.contains("""CodeListOID="CL.C66731""""))
    // no CodeListRef may dangle: every referenced OID has a CodeList element
    val refs = """CodeListOID="(CL\.[^"]+)"""".r.findAllMatchIn(define).map(_.group(1)).toSet
    val defs = """<CodeList OID="(CL\.[^"]+)"""".r.findAllMatchIn(define).map(_.group(1)).toSet
    assert(refs.subsetOf(defs), s"dangling CodeListRefs: ${refs -- defs}")
    val aeXml = new String(Files.readAllBytes(Paths.get(s"$outDir/ae.xml")), "UTF-8")
    assert(aeXml.contains("""data:ItemGroupDataSeq="4""""))
    assert(aeXml.contains("""<ItemData ItemOID="IT.AE.AETERM" Value="Headache"/>"""))
  }

  test("dotted source headers are names, not struct paths: ingest → export") {
    val d = Paths.get("target", "tmp", "study_dotted")
    Files.createDirectories(d)
    Files.write(d.resolve("dm.csv"),
      ("SUBJID,RFSTDTC,SEX,RACE.CODE,VISIT.NAME\n" +
        "101,2024-01-10,M,1,Screening\n" +
        "102,2024-01-12,F,2,Screening\n").getBytes)
    Files.write(d.resolve("vs.csv"),
      ("SUBJID,VSTESTCD,VSORRES,VSORRESU,VISIT.NAME,VSDTC,NOTE.TEXT\n" +
        "101,SYSBP,120,mmHg,Screening,2024-01-10,seated\n" +
        "101,SYSBP,118,mmHg,Week 1,2024-01-17,\n" +
        "102,SYSBP,131,mmHg,Screening,2024-01-12,standing\n").getBytes)
    Files.write(d.resolve("Items.csv"),
      ("Item.ID,Item.Label,Data.Type\n" +
        "SUBJID,Subject identifier as recorded,text\n" +
        "VISIT.NAME,Visit name as entered in the EDC,text\n" +
        "RACE.CODE,Race of the participant coded,integer\n").getBytes)
    val s = new StudySession(spark, "DOTS")
    s.loadItemsMetadata(d.resolve("Items.csv").toString,
      codelists = Map("RACE.CODE" -> Map("1" -> "WHITE", "2" -> "ASIAN")))
    s.addDomain("DM", d.resolve("dm.csv").toString)
    s.addDomain("VS", d.resolve("vs.csv").toString)
    assert(s.domainState("DM").get.source.columns.contains("RACE.CODE_DECODED"))
    val vs = s.domainState("VS").get
    assert(vs.hints("VISIT.NAME").uniqueRatio == 2.0 / 3)
    assert(vs.hints("VISIT.NAME").label.contains("Visit name as entered in the EDC"))
    s.acceptAllSuggestions("VS")
    assert(vs.mapping.acceptManual("VISIT", "VISIT.NAME").isRight)

    val preview = s.preview("VS").get.orderBy("_row_id").collect()
    assert(preview.map(_.getAs[String]("VISIT")).toSeq ==
      Seq("Screening", "Week 1", "Screening"))
    assert(!s.validate("VS").exists(_.variable == "VISIT"))
    assert(s.validate("DM").nonEmpty)

    s.configureSupp("VS", Seq(
      "NOTE.TEXT" -> graft.operators.SuppColumnConfig("QNOTE", "Position note", "CRF")))
    val outDir = "target/tmp/study_dotted_out"
    val written = s.exportAll(outDir)
    assert(written.exists(_.endsWith("suppvs.xpt")))
    val xpt = XptReader.read(s"$outDir/vs.xpt")
    val visitIdx = xpt.columns.indexWhere(_.name == "VISIT")
    assert(xpt.rows.map(_(visitIdx)) == Seq("Screening", "Week 1", "Screening"))
    val supp = XptReader.read(s"$outDir/suppvs.xpt")
    val qval = supp.columns.indexWhere(_.name == "QVAL")
    assert(supp.rows.map(_(qval)).toSet == Set("seated", "standing"))
  }

  test("E1: Items.csv metadata wires labels and codelist decode into ingest") {
    val d = Paths.get("target", "tmp", "study_items")
    Files.createDirectories(d)
    Files.write(d.resolve("Items.csv"),
      ("ItemID,ItemLabel,DataType,Mandatory,FormatName,Length\n" +
        "SUBJID,Subject identifier as recorded in EDC,text,Y,,20\n" +
        "SEXCD,Sex of the participant coded,text,C,SEXFMT,1\n" +
        "AGE,Age at informed consent in years,integer,N,,3\n" +
        "VSDT,Visit date for the encounter,text,N,DATEFMT,10\n" +
        "WT,Body weight measured at screening,integer,N,,6\n" +
        "HT,Standing height without shoes,integer,N,,6\n" +
        "AETERM,Reported adverse event verbatim term,text,N,,20\n" +
        "CMTRT,Concomitant medication reported name,text,N,CMFMT,20\n").getBytes)
    Files.write(d.resolve("dm.csv"),
      ("SUBJID,SEXCD,AGE\n101,1,44\n102,2,48\n103,9,34\n").getBytes)
    val s2 = new StudySession(spark, "GRAFT2")
    s2.loadItemsMetadata(d.resolve("Items.csv").toString,
      codelists = Map("SEXCD" -> Map("1" -> "M", "2" -> "F")))
    s2.addDomain("DM", d.resolve("dm.csv").toString)
    val ds = s2.domainState("DM").get
    // decode created a SEX column from SEXCD (M1), visible to mapping
    assert(ds.source.columns.contains("SEX"))
    // Items labels reached the hints
    assert(ds.hints("AGE").label.contains("Age at informed consent in years"))
    val preview = s2.preview("DM").get.orderBy("USUBJID").collect()
    assert(preview.map(r => Option(r.getAs[String]("SEX")).getOrElse("")).toSeq ==
      Seq("M", "F", ""))

    // CodeLists.csv routes format-keyed codelists to columns via FormatName
    // (EDC-export fixture layout: label header + name header)
    Files.write(d.resolve("CodeLists.csv"),
      ("\"Format Name\",\"Data Type\",\"Code Value\",\"Code Text\"\n" +
        "\"FormatName\",\"DataType\",\"CodeValue\",\"CodeText\"\n" +
        "\"SEXFMT\",\"integer\",\"1\",\"M\"\n" +
        "\"SEXFMT\",\"integer\",\"2\",\"F\"\n" +
        "\"CMFMT\",\"text\",\"A\",\"Aspirin\"\n").getBytes)
    val s3 = new StudySession(spark, "GRAFT2")
    s3.loadItemsMetadata(d.resolve("Items.csv").toString,
      codeListsCsvPath = Some(d.resolve("CodeLists.csv").toString))
    s3.addDomain("DM", d.resolve("dm.csv").toString)
    val pv3 = s3.preview("DM").get.orderBy("USUBJID").collect()
    assert(pv3.map(r => Option(r.getAs[String]("SEX")).getOrElse("")).toSeq ==
      Seq("M", "F", ""))
  }

  test("K4: snapshot round trip + change detection") {
    val assignments = Map("DM" -> "dm.csv", "AE" -> "ae.csv")
    val snap = Persistence.snapshotOf(session, studyDir, assignments)
    val path = "target/tmp/study1.tss"
    Persistence.save(snap, path)
    val loaded = Persistence.load(path)
    assert(loaded == snap)
    assert(loaded.mappings("DM")("SEX") == "SEX")
    assert(Persistence.changedSources(loaded, studyDir).isEmpty)
    val original = Files.readAllBytes(Paths.get(studyDir, "ae.csv"))
    Files.write(Paths.get(studyDir, "ae.csv"), "SUBJID\n1\n".getBytes)
    assert(Persistence.changedSources(loaded, studyDir) == Seq("AE"))
    // restore byte-identical content so cached frames stay valid on rescan
    Files.write(Paths.get(studyDir, "ae.csv"), original)
    // a vanished source counts as changed, not a crash
    val gone = snap.copy(assignments = snap.assignments + ("VS" -> "no_such.csv"),
      sourceHashes = snap.sourceHashes + ("VS" -> "deadbeef"))
    assert(Persistence.changedSources(gone, studyDir) == Seq("VS"))
  }

  test("K4: session mutators mark dirty and autoSaveIfDue persists a snapshot") {
    val s = new StudySession(spark, "AUTOSAVE1")
    assert(!s.dirtyTracker.isDirty)
    s.addDomain("DM", Paths.get(studyDir, "dm.csv").toString)
    assert(s.dirtyTracker.isDirty, "addDomain must mark the session dirty")
    val path = "target/tmp/autosave1.tss"
    val assignments = Map("DM" -> "dm.csv")
    // still inside the debounce window → no save
    assert(!s.autoSaveIfDue(studyDir, assignments, path,
      AutoSaveConfig(debounceMs = 60000, maxDelayMs = 120000)))
    // quiet long enough (debounce 0) → saves and comes back clean
    assert(s.autoSaveIfDue(studyDir, assignments, path,
      AutoSaveConfig(debounceMs = 0, maxDelayMs = 0)))
    assert(!s.dirtyTracker.isDirty)
    assert(Persistence.load(path).studyId == "AUTOSAVE1")
    // nothing new → idempotent no-op
    assert(!s.autoSaveIfDue(studyDir, assignments, path,
      AutoSaveConfig(debounceMs = 0, maxDelayMs = 0)))
    s.configureSupp("DM", Nil)
    assert(s.dirtyTracker.isDirty, "configureSupp must mark the session dirty")
  }

  test("mutators run their Spark work outside the snapshot lock") {
    // the narrowed-lock contract: addDomain's Spark phase (CSV scan, hints
    // aggregation, scoring) must complete even while another thread holds
    // stateLock — the lock guards only the final shared-map publish. A
    // regression that hoists the lock over the Spark work times this
    // test out instead of passing.
    val s = new StudySession(spark, "LOCKTEST1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val worker = new Thread(() =>
      s.addDomain("DM", Paths.get(studyDir, "dm.csv").toString))
    try {
      s.stateLock.synchronized {
        worker.start()
        // while we hold the lock: the worker must finish >=1 Spark job and
        // park BLOCKED on the publish monitor, with nothing published yet
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while ((jobs.get() < 1 || worker.getState != Thread.State.BLOCKED) &&
            System.nanoTime() < deadline) Thread.sleep(20)
        assert(jobs.get() >= 1,
          "worker ran no Spark jobs while the lock was held — Spark work has moved inside the lock")
        assert(worker.getState == Thread.State.BLOCKED,
          s"worker should be parked at the publish, was ${worker.getState}")
        assert(s.domainState("DM").isEmpty, "publish happened under a held lock")
      }
      worker.join(30000)
      assert(!worker.isAlive, "worker never finished after lock release")
      assert(s.domainState("DM").isDefined)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      if (worker.isAlive) worker.interrupt()
    }
  }
}

/** Standards loader pins (S8/S9). */
class StandardsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("SDTM-IG loads with ordered variables") {
    val dm = Standards.domain("DM").get
    assert(dm.label.contains("Demographics"))
    assert(dm.orderedVariables.head.name == "STUDYID")
    assert(dm.variable("AGE").get.dataType == graft.standards.VariableType.Num)
    assert(dm.variable("SEX").get.firstCodelistCode.contains("C66731"))
    assert(Standards.domain("SUPPQUAL").isDefined)
  }

  test("CT: a synonym never shadows another term's submission value") {
    import graft.standards.{Codelist, CtTerm}
    val cl = Codelist("X", "Test", extensible = false, Seq(
      CtTerm("C1", "MILD", Seq("LOW")),
      CtTerm("C2", "LOW", Nil)))
    // submission values of ALL terms resolve before any synonym
    assert(cl.resolve("low").contains("LOW"))
    assert(cl.resolve("mild").contains("MILD"))
  }

  test("CT registry: synonyms resolve case-insensitively") {
    val sex = Standards.ctRegistry.get("C66731").get
    assert(!sex.extensible)
    assert(sex.resolve("male").contains("M"))
    assert(sex.resolve(" F ").contains("F"))
    assert(sex.resolve("unk").contains("U"))
    assert(sex.resolve("nope").isEmpty)
    val ageu = Standards.ctRegistry.get("C66781").get
    assert(ageu.extensible)
    assert(ageu.resolve("Year").contains("YEARS"))
  }

  test("SUPP template clone renames correctly") {
    val supp = Standards.domain("SUPPQUAL").get.asSuppDomain("AE", Some("Adverse Events"))
    assert(supp.name == "SUPPAE")
    assert(supp.label.contains("Supplemental Qualifiers for Adverse Events"))
  }
}
