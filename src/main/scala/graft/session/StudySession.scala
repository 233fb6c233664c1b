package graft.session

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.srcCol
import graft.operators._
import graft.sinks.{CtStandard, XmlSinks, XmlVariable, XmlCodelist, XptWriter}
import graft.sources.{CsvIngest, ItemMeta, ItemsMetadata}
import graft.standards.{SdtmDomain, Standards, VariableType}

/** Per-domain state inside a session (DomainState —
  * `crates/tss-gui/src/service/study.rs:122-142`). */
case class DomainState(
    code: String,
    source: DataFrame,
    headers: graft.sources.CsvHeaders,
    hints: Map[String, ColumnHint],
    mapping: MappingState)

/**
 * E1/E2/E3 — study lifecycle orchestration (SURVEY §3), Spark-first:
 *
 *  - E1 create: per-domain CSV scans (parallel plans), ONE long-form
 *    profile query per domain for the hints (`Validate.valueCounts`: a
 *    plan of constant size in the column count, one `(i, v)` shuffle),
 *    driver-side scoring/suggestion;
 *  - E2 preview+validate: normalization is a single unexecuted projection;
 *    validation runs one long-form profile query per domain — the same
 *    kernel joined with broadcast per-variable rule and CT-spelling
 *    tables, no CT literal lists in the plan — plus broadcast anti-joins
 *    study-wide;
 *  - E3 export: per-domain XPT / Dataset-XML / Define-XML with one
 *    stats aggregate per domain feeding the writers.
 *
 * Mirrors `service/study.rs:27-153`, `service/preview.rs:46-86`,
 * `service/export.rs:127-276`.
 */
class StudySession(val spark: SparkSession, val studyId: String,
    val standard: String = "sdtm",
    val ctVersion: String = Standards.DefaultCtVersion) {

  require(Standards.CtVersions.contains(ctVersion),
    s"unknown CT version '$ctVersion' (embedded: ${Standards.CtVersions.mkString(", ")})")

  /** The CT registry every lookup in this session goes through — pinned to
    * the study's terminology release (`registry.rs:20` `ct_version`): rule
    * inference (N8), V8 membership checks, and the Define-XML
    * `def:Standards` section all resolve through the SAME publication, so
    * the exported define.xml reports exactly the release the data was
    * validated against. */
  def ctRegistry: graft.standards.TerminologyRegistry =
    Standards.ct(standard, ctVersion)

  private val domains = scala.collection.mutable.LinkedHashMap[String, DomainState]()
  private val suppConfigs =
    scala.collection.mutable.Map[String, Seq[(String, SuppColumnConfig)]]()
  private var itemsMetadata: Map[String, ItemMeta] = Map.empty
  private var studyCodelists: Map[String, Map[String, String]] = Map.empty

  /** Unsaved-change tracking for debounced auto-save (K4 —
    * `autosave/tracker.rs`). Session-level mutators mark it automatically;
    * callers editing a domain's mapping state directly
    * (`domainState(c).get.mapping.accept…`) should call
    * `dirtyTracker.markDirty()` themselves, mirroring the reference GUI's
    * explicit marks, and must do so from the session thread — only the
    * session-level mutators below are guarded against a concurrent
    * auto-save snapshot. Drive saves with [[autoSaveIfDue]]. */
  val dirtyTracker = new DirtyTracker()

  // guards `domains`/`suppConfigs`/`itemsMetadata`/`studyCodelists` (and the
  // MappingStates reached through them) between the session thread's
  // mutators and the auto-save poller's snapshot read — without it a
  // poller-thread snapshotOf can hit a ConcurrentModificationException or
  // serialize a torn mix of pre- and post-edit mapping state
  private[session] val stateLock = new Object

  /** E1 step — load Items.csv study metadata (S7 statistical detection) and
    * study codelists; labels feed the scorer's label boost, codelists feed
    * the M1/M2 decode applied at ingest (`study.rs:43-49`). Call BEFORE
    * addDomain. Codelists come from `codeListsCsvPath` (the EDC-export
    * CodeLists.csv companion file, routed to columns via each item's
    * FormatName) and/or the pre-built `codelists` map (column → value map),
    * which wins on conflicts. */
  def loadItemsMetadata(itemsCsvPath: String,
      codelists: Map[String, Map[String, String]] = Map.empty,
      codeListsCsvPath: Option[String] = None,
      codeListsHeaderRows: Int = 2,
      itemsHeaderRows: Int = 1): Unit = {
    // ingest + scoring run OUTSIDE the lock: mutators are session-thread-
    // only by contract, the lock exists so the auto-save poller's snapshot
    // read never sees torn state — holding it across whole Spark jobs
    // would block every snapshot (and every other mutator) for the full
    // ingest. Only the shared-map writes below synchronize.
    val (df, _) = CsvIngest.readCsvTable(spark, itemsCsvPath, itemsHeaderRows)
    val dataCols = df.columns.filterNot(_ == CsvIngest.RowIdCol)
    val scores = ItemsMetadata.analyzeColumns(
      df.select(dataCols.toIndexedSeq.map(srcCol): _*))
    val detected = ItemsMetadata.detectSchema(scores)
      .map(schema => ItemsMetadata.loadItems(df, schema))
    val itemsForRouting = detected.getOrElse(itemsMetadata)
    val fromCsv = codeListsCsvPath.map { p =>
      val (cdf, _) = CsvIngest.readCsvTable(spark, p, codeListsHeaderRows)
      val byFormat = ItemsMetadata.loadCodelists(cdf.drop(CsvIngest.RowIdCol))
      itemsForRouting.values.flatMap(m => m.formatName.flatMap(f =>
        byFormat.get(f.toUpperCase).map(m.id -> _))).toMap
    }.getOrElse(Map.empty)
    stateLock.synchronized {
      detected.foreach(itemsMetadata = _)
      studyCodelists = fromCsv ++ codelists
      dirtyTracker.markDirty()
    }
  }

  def domainState(code: String): Option[DomainState] = domains.get(code.toUpperCase)
  def domainCodes: Seq[String] = domains.keys.toSeq

  /** Split-domain dataset names: a >2-char code whose 2-letter prefix is a
    * splittable parent (LBCH → LB, FAAE → FA) resolves IG metadata, DOMAIN
    * value, and --SEQ naming through the parent, while files, XPT member
    * name, and Define-XML ItemGroupDefs keep the dataset name
    * (`export/types.rs:12-72`). */
  def baseDomainCode(code: String): String = {
    val u = code.toUpperCase
    if (u.length > 2 && StudySession.SplitBases.contains(u.take(2))) u.take(2) else u
  }

  private def domainMetaFor(code: String): Option[SdtmDomain] =
    Standards.domain(standard, baseDomainCode(code))

  /** Route extra source columns of a domain to SUPP-- (G1 config). */
  def configureSupp(code: String, configs: Seq[(String, SuppColumnConfig)]): Unit =
    stateLock.synchronized {
      suppConfigs(code.toUpperCase) = configs
      dirtyTracker.markDirty()
    }

  /** E1 step — ingest one assigned (domain, csv) pair: scan, RELSUB
    * augmentation, hints, scoring suggestions. */
  def addDomain(code: String, csvPath: String, headerRows: Int = 1): DomainState = {
    val ds = buildDomainState(code, csvPath, headerRows)
    publishDomain(ds)
    ds
  }

  /** The Spark-heavy half of [[addDomain]] — scan, augment, hints,
    * scoring — with no session-state writes, so [[StudySession.create]]
    * can run several builds concurrently (independent files, independent
    * jobs) and publish the results in deterministic order afterwards.
    * Same split as loadItemsMetadata: this work must not hold the
    * snapshot lock; only the domains-map publish does. */
  private def buildDomainState(code: String, csvPath: String,
      headerRows: Int): DomainState = {
    val codeU = code.toUpperCase
    val (raw, headers) = CsvIngest.readCsvTable(spark, csvPath, headerRows)
    val augmented = if (codeU == "RELSUB") Reshape.ensureRelsubBidirectional(raw) else raw
    // M1/M2 — study-codelist decode for coded columns present in the frame
    val decodeable = studyCodelists.filter { case (c, _) => augmented.columns.contains(c) }
    val df = Reshape.applyStudyCodelists(augmented, decodeable).cache()
    val dataCols = df.columns.filterNot(_ == CsvIngest.RowIdCol).toSeq
    // column labels: double-header row, else Items.csv item labels (S7)
    val headerLabels = headers.labels
      .map(ls => headers.columns.zip(ls).toMap).getOrElse(Map.empty)
    val itemLabels = dataCols.flatMap(c => itemsMetadata.get(c).map(c -> _.label)).toMap
    val hints = Mapping.columnHints(df.select(dataCols.map(srcCol): _*),
      itemLabels ++ headerLabels)

    val domainMeta = domainMetaFor(codeU).getOrElse(
      SdtmDomain(codeU, None, None, None, Nil))
    val varMetas = domainMeta.variables.map(v =>
      VarMeta(v.name, v.label, v.isRequired,
        isNumeric = Some(v.dataType == graft.standards.VariableType.Num)))
    val state = new MappingState(codeU, varMetas)
    state.applySuggestions(Mapping.suggestAll(dataCols, varMetas, hints))
    DomainState(codeU, df, headers, hints, state)
  }

  private def publishDomain(ds: DomainState): Unit = stateLock.synchronized {
    domains.get(ds.code).foreach(_.source.unpersist()) // re-add frees the old cache
    domains(ds.code) = ds
    if (ds.code == "DM") refDateCache = None // new DM invalidates the memo
    dirtyTracker.markDirty()
  }

  /** Accept every scorer suggestion (the auto-accept path used in tests
    * and batch pipelines; interactive flows call mapping.acceptManual). */
  def acceptAllSuggestions(code: String): Unit = stateLock.synchronized {
    domainState(code).foreach { ds =>
      domainMetaFor(ds.code).foreach(_.variables.foreach { v =>
        ds.mapping.acceptSuggestion(v.name) // no-op unless Suggested
      })
      dirtyTracker.markDirty()
    }
  }

  /** One auto-save tick (`autosave/tracker.rs:95-106` + `io/save.rs`):
    * persist a snapshot iff the debounce policy says the session is due.
    * Returns true when a save happened. A failed save keeps the session
    * dirty so the next tick retries. */
  def autoSaveIfDue(folder: String, assignments: Map[String, String],
      snapshotPath: String,
      config: AutoSaveConfig = AutoSaveConfig()): Boolean = {
    // one atomic check-then-claim: two concurrent tickers can't both pass
    // a separate shouldAutoSave test and start duplicate saves
    if (!dirtyTracker.tryStartSave(config)) return false
    try {
      // snapshot under the same lock the mutators hold — a concurrent
      // addDomain/accept can't tear the state mid-serialization; the disk
      // write happens after release so edits only block for the read
      val snap = stateLock.synchronized(
        Persistence.snapshotOf(this, folder, assignments))
      Persistence.save(snap, snapshotPath)
      dirtyTracker.saveComplete()
      true
    } catch {
      case e: Throwable => dirtyTracker.saveFailed(); throw e
    }
  }

  // DM reference date is memoized per RFSTDTC source column, so repeated
  // preview/validate/export calls skip the DM scan-and-sort job BUT a
  // re-mapped RFSTDTC (acceptManual after the first preview) recomputes —
  // study days must always follow the current mapping
  private var refDateCache: Option[(Option[String], Option[String])] = None

  private def referenceDate: Option[String] = {
    val mappedCol = domains.get("DM").flatMap(dm =>
      dm.mapping.columnFor("RFSTDTC").filter(dm.source.columns.contains))
    refDateCache match {
      case Some((key, v)) if key == mappedCol => v
      case _ =>
        val v = for {
          dm <- domains.get("DM")
          c <- mappedCol
          d <- RuleInference.referenceDateFrom(dm.source, c)
        } yield d
        refDateCache = Some((mappedCol, v))
        v
    }
  }

  private def contextFor(ds: DomainState): NormalizationContext = {
    val refDate = referenceDate
    NormalizationContext(
      studyId = studyId,
      domainCode = baseDomainCode(ds.code),
      mappings = domainMetaFor(ds.code).map(_.variables.flatMap(v =>
        ds.mapping.columnFor(v.name).map(v.name -> _)).toMap).getOrElse(Map.empty),
      omitted = ds.mapping.omitted,
      referenceDate = refDate,
      standard = standard,
      ctVersion = ctVersion)
  }

  /** E2 — normalized preview: one projection, lazily planned. `_row_id`
    * rides along for deterministic export ordering. */
  def preview(code: String): Option[DataFrame] =
    for {
      ds <- domainState(code)
      domain <- domainMetaFor(ds.code)
    } yield RuleInference.normalizeDomain(ds.source, domain, contextFor(ds),
      keepRowId = true)

  /** E2 — validate one domain's normalized frame. */
  def validate(code: String): Seq[Issue] =
    (for {
      ds <- domainState(code)
      domain <- domainMetaFor(ds.code)
      frame <- preview(code)
    } yield DomainValidation.validateDomain(frame, domain,
      ct = ctRegistry)).getOrElse(Nil)

  /** E2 — study-wide cross-domain checks over normalized frames. */
  def validateCross(): Seq[Issue] =
    DomainValidation.validateCrossDomain(
      domainCodes.flatMap(c => preview(c).map(c -> _)).toMap)

  /** Implementation-guide version string for the study's standard — rides
    * into the XML writers' MDV OIDs and descriptions (the reference takes
    * this as a caller option, `define_xml.rs:27-35`; deriving it from the
    * session's standard selector keeps the two always consistent). */
  def igVersion: String = standard.toLowerCase match {
    case "send" => "3.1.1"
    case "adam" => "1.3"
    case _ => "3.4"
  }

  /** E3 — export every domain: XPT + Dataset-XML per domain, one
    * Define-XML over all. Returns written paths.
    *
    * The per-domain sink work runs CONCURRENTLY — two tasks per domain
    * (stats+XPT, Dataset-XML) on a bounded pool, no task ever waiting on
    * another, so the long pole (the largest domain's Dataset-XML) overlaps
    * everything else instead of the whole export running serially. All
    * session-state reads (previews, metadata, the DM reference date) happen
    * on the caller's thread BEFORE the fork; the forked tasks touch only
    * their own frames and the write paths, and every output byte is
    * assembled in sorted-domain order afterwards, so the produced files are
    * identical to the serial loop's (golden SHA-256 pins). */
  def exportAll(outDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val written = Seq.newBuilder[String]

    // only domains with IG metadata can export (preview needs the variable
    // list); unknown codes were ingestable for mapping work but are skipped.
    // Building the previews here also materializes the DM reference-date
    // memo on this thread — the forked tasks below only run the plans.
    val exportable = domainCodes.sorted.filter(c =>
      domainMetaFor(c).isDefined && preview(c).isDefined)

    // per-domain plan + metadata, resolved serially (cheap, driver-only)
    case class DomainPlan(code: String, domain: SdtmDomain, frame: DataFrame,
        presentVars: Seq[graft.standards.SdtmVariable], isRefData: Boolean)
    val plans = exportable.map { code =>
      val domain = domainMetaFor(code).get
      // cached PRE-SORTED by the export order: both sinks (XPT `typed`,
      // Dataset-XML's orderCol) sort by _row_id — caching the sorted frame
      // pays that global sort once and the cached plan's outputOrdering
      // satisfies both sinks' Sort requirements (bytes unchanged: the
      // golden SHA-256 pins cover both artifacts)
      val frame = preview(code).get.orderBy(col(CsvIngest.RowIdCol)).cache()
      val presentVars = domain.orderedVariables.filter(v => frame.columns.contains(v.name))
      // Trial Design / Study Reference datasets are reference data, not
      // subject data (is_reference_domain — export/common.rs:74-80): they
      // ride in <ReferenceData> in Dataset-XML and carry
      // def:IsReferenceData="Yes" in Define-XML
      val isRefData = domain.className.exists(c =>
        c.equalsIgnoreCase("Trial Design") || c.equalsIgnoreCase("Study Reference"))
      DomainPlan(code, domain, frame, presentVars, isRefData)
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(plans.size * 2, 8)))
    val (defineByCode, codesByCode) =
      try {
        def submit[A](f: => A): () => A = {
          val fut = pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f })
          // surface the task's own exception type (e.g. XPT overflow errors
          // with variable context), not the pool's ExecutionException wrapper
          () => try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }

        // task A per domain: the shared stats aggregate, then XPT (which
        // needs the observed char lengths) and the DefineDataset row
        val statsXpt = plans.map { p =>
          p.code -> submit {
            val varNames = p.presentVars.map(_.name)
            // ONE stats aggregate per domain feeds both writers: the XPT
            // observed lengths and the Define-XML maxLength/has_data come
            // from the same numbers, so the two artifacts can never
            // disagree (and export runs one scan fewer per domain)
            val stats = XmlSinks.varStats(p.frame, varNames)
            val charLengths = p.presentVars.filter(_.dataType != VariableType.Num)
              .flatMap(v => stats.get(v.name).map(s => v.name -> math.max(s.maxLength, 1)))
              .toMap
            // XPT (numeric SDTM vars ride as doubles; file order = source
            // order). try_cast, not cast: normalization emits UNMAPPED
            // variables as empty strings (the reference's total-function
            // behavior), and under ANSI a plain cast of "" aborts the
            // export — empty/unparseable numeric cells are missing values,
            // exactly what XptWriter writes for a null (its own string
            // fallback uses Numerics.parse the same way)
            val typed = p.frame.orderBy(col(CsvIngest.RowIdCol)).select(p.presentVars.map { v =>
              if (v.dataType == VariableType.Num) col(v.name).try_cast("double").as(v.name)
              else col(v.name)
            }: _*)
            // same label fallback as the DefineDataset below — XPT and
            // Define-XML must agree on the dataset label
            XptWriter.writeDataFrame(typed, s"$outDir/${p.code.toLowerCase}.xpt",
              p.code, p.domain.label.getOrElse(p.code),
              labels = p.presentVars.map(v => v.name -> v.label.getOrElse(v.name)).toMap,
              declaredLengths = charLengths)
            val codes = Seq.newBuilder[String]
            val define = XmlSinks.DefineDataset(
              name = p.code, domain = baseDomainCode(p.code),
              label = p.domain.label.getOrElse(p.code),
              structure = p.domain.structure.getOrElse(""),
              klass = p.domain.className.getOrElse(""),
              isReferenceData = p.isRefData,
              variables = p.domain.variablesByRole
                .filter(v => p.frame.columns.contains(v.name))
                .map { v =>
                  // only reference codelists the CT catalog can actually
                  // define — a CodeListRef without a matching CodeList
                  // element is a broken OID that fails define.xml validation
                  val resolved = v.firstCodelistCode
                    .filter(c => ctRegistry.get(c).isDefined)
                  resolved.foreach(codes += _)
                  XmlVariable(v.name, v.label.getOrElse(""),
                    isNumeric = v.dataType == VariableType.Num,
                    required = v.isRequired, identifier = v.isIdentifier,
                    expected = v.isExpected,
                    codelistOid = resolved.map(c => s"CL.$c"))
                },
              stats = stats)
            (define, codes.result())
          }
        }
        // task B per domain: Dataset-XML (independent of stats)
        val xmls = plans.map { p =>
          submit {
            XmlSinks.writeDatasetXmlFile(p.frame, s"$outDir/${p.code.toLowerCase}.xml",
              p.code, studyId, igVersion, p.presentVars.map(_.name),
              orderCol = Some(CsvIngest.RowIdCol), isReferenceData = p.isRefData)
          }
        }
        val a = statsXpt.map { case (code, f) => code -> f() }.toMap
        xmls.foreach(_())
        (a.map { case (c, (d, _)) => c -> d }, a.map { case (c, (_, cs)) => c -> cs })
      } finally {
        // on failure, sibling tasks must stop BEFORE this method returns —
        // a zombie sink still writing part files into outDir would race a
        // caller's retry into the same directory. shutdownNow interrupts
        // the tasks' Spark-job waits; the bounded drain is belt-and-braces
        // (on the success path both are no-ops: every task already ran)
        pool.shutdownNow()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
        plans.foreach(_.frame.unpersist())
      }

    val defineDatasets = Seq.newBuilder[XmlSinks.DefineDataset]
    val usedCodelists = scala.collection.mutable.LinkedHashSet[String]()
    exportable.foreach { code =>
      written += s"$outDir/${code.toLowerCase}.xpt"
      written += s"$outDir/${code.toLowerCase}.xml"
      defineDatasets += defineByCode(code)
      codesByCode(code).foreach(usedCodelists += _)
    }

    // SUPP-- datasets: source extras joined to the normalized USUBJID/SEQ on
    // _row_id, unpivoted via stack (G1), written as SUPP{code}.xpt
    suppConfigs.toSeq.sortBy(_._1).foreach { case (code, configs) =>
      (domainState(code), preview(code)) match {
        case (Some(ds), Some(normalized)) =>
          val idCols = Seq("USUBJID", s"${code}SEQ").filter(normalized.columns.contains)
          // select ONLY the configured supp columns from the raw side: a
          // source that itself carries USUBJID/--SEQ columns must not
          // collide with the normalized ids on the join output
          val suppSrcCols = (configs.map(_._1)
            .filter(ds.source.columns.contains)
            .filterNot(idCols.contains) :+ CsvIngest.RowIdCol).distinct
          val joined = ds.source.select(suppSrcCols.map(srcCol): _*).join(
            normalized.select((idCols :+ CsvIngest.RowIdCol).map(col): _*),
            Seq(CsvIngest.RowIdCol))
          Reshape.buildSupp(code, studyId, joined, configs).foreach { supp =>
            val suppName = Reshape.suppDomainName(code)
            val suppLabel = Reshape.suppDomainLabel(code,
              domainMetaFor(code).flatMap(_.label))
            val path = s"$outDir/${suppName.toLowerCase}.xpt"
            val orderedSupp = supp.orderBy("QNAM", "USUBJID", "IDVARVAL")
            XptWriter.writeDataFrame(orderedSupp, path, suppName, suppLabel)
            written += path
            // the define.xml must describe every dataset in the package —
            // SUPP-- gets an ItemGroupDef from the SUPPQUAL template
            // (SdtmDomain.asSuppDomain), variables limited to the frame
            Standards.domain(standard, "SUPPQUAL")
              .orElse(Standards.domain("SUPPQUAL")).foreach { tmpl =>
              val suppDomain = tmpl.asSuppDomain(code, domainMetaFor(code).flatMap(_.label))
              val presentSupp = suppDomain.variablesByRole
                .filter(v => supp.columns.contains(v.name))
              defineDatasets += XmlSinks.DefineDataset(
                name = suppName, domain = baseDomainCode(code),
                label = suppLabel,
                structure = suppDomain.structure.getOrElse(""),
                klass = suppDomain.className.getOrElse("Relationship"),
                variables = presentSupp.map { v =>
                  XmlVariable(v.name, v.label.getOrElse(""),
                    isNumeric = v.dataType == VariableType.Num,
                    required = v.isRequired, identifier = v.isIdentifier,
                    expected = v.isExpected, codelistOid = None)
                },
                stats = XmlSinks.varStats(supp, presentSupp.map(_.name)))
            }
          }
        case _ =>
      }
    }

    // each codelist links to the CT publication it resolved from; the
    // distinct publications become the def:Standards section
    // (define_xml.rs:377-400: OID = STD.CT.{publishingSet}.{version})
    val ctStandards = scala.collection.mutable.LinkedHashMap[String, CtStandard]()
    val codelists = usedCodelists.toSeq.flatMap(code =>
      ctRegistry.getWithCatalog(code).map { case (cl, cat) =>
        val stdOid = for (set <- cat.publishingSet; ver <- cat.version) yield {
          val oid = s"STD.CT.${XmlSinks.sanitizeOid(set)}.${XmlSinks.sanitizeOid(ver)}"
          ctStandards.getOrElseUpdate(oid,
            CtStandard(oid, "CDISC/NCI", set, ver))
          oid
        }
        XmlCodelist(s"CL.$code", cl.name, cl.extensible,
          cl.terms.map(_.submissionValue).distinct, standardOid = stdOid)
      })
    val definePath = s"$outDir/define.xml"
    XmlSinks.writeDefineXmlFile(definePath, studyId, igVersion,
      defineDatasets.result(), codelists, ctStandards.values.toSeq)
    written += definePath
    written.result()
  }
}

object StudySession {

  /** 2-letter SDTM parents whose datasets are commonly split into named
    * subsets (export/types.rs:60-66). */
  val SplitBases: Set[String] = Set("LB", "FA", "QS", "VS", "EG", "PC", "PP")

  /** E1 — create a session from a folder + domain→file assignments
    * (`study.rs:27-153`). `standard` selects the implementation guide the
    * study is authored against: "sdtm" (default), "send", or "adam";
    * `ctVersion` pins the CT publication ([[graft.standards.Standards.CtVersions]]). */
  def create(spark: SparkSession, studyId: String, folder: String,
      assignments: Map[String, String], headerRows: Int = 1,
      standard: String = "sdtm",
      ctVersion: String = graft.standards.Standards.DefaultCtVersion): StudySession = {
    val s = new StudySession(spark, studyId, standard, ctVersion)
    val sorted = assignments.toSeq.sortBy(_._1)
    if (sorted.size <= 1) {
      sorted.foreach { case (code, file) =>
        s.addDomain(code, Paths.get(folder, file).toString, headerRows)
      }
    } else {
      // the per-domain builds (CSV scan, cache, hints aggregate, scoring)
      // are independent Spark jobs over different files — run them
      // concurrently, then publish in sorted-code order so domainCodes and
      // snapshot serialization are identical to the serial loop's
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(sorted.size, 8))
      val built = sorted.map { case (code, file) =>
        pool.submit(new java.util.concurrent.Callable[DomainState] {
          def call(): DomainState =
            s.buildDomainState(code, Paths.get(folder, file).toString, headerRows)
        })
      }
      try {
        built.foreach { f =>
          val ds = try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          s.publishDomain(ds)
        }
        pool.shutdown()
      } catch {
        case e: Throwable =>
          // the session is being abandoned: stop in-flight builds, then
          // unpersist every frame any build cached (published or not —
          // the caller never receives `s`, so nothing would ever free them)
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          built.foreach { f =>
            if (f.isDone && !f.isCancelled)
              scala.util.Try(f.get().source.unpersist())
          }
          throw e
      }
    }
    s
  }
}
