package graft.perfbench

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.session.StudySession

/** The output checks pass on real engine output and fail on broken output,
  * so a passing benchmark run means the checks were live. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val work: Path = Files.createTempDirectory("perfbench-checks")
  private lazy val env = new Env(spark, work, new Tracer(spark.sparkContext), 5L)

  override def beforeAll(): Unit = {
    spark = graft.Graft.session("perfbench-checks", "local[2]")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private lazy val studyDir = work.resolve("study")
  private lazy val manifest =
    StudyGen.write(studyDir, 5L, StudyGen.Size(12, 2, Seq("DM", "AE", "LB", "RELSUB")))
  private lazy val session: StudySession = Study.open(env, studyDir, manifest)
  private lazy val exported: Path = {
    val out = work.resolve("export")
    session.exportAll(out.toString)
    out
  }
  private lazy val issues =
    session.domainCodes.flatMap(session.validate) ++ session.validateCross()

  test("validation reports exactly the planted issues") {
    assert(Checks.issues(issues, manifest, manifest.rows.keySet, StudyGen.CheckedKinds).isEmpty)
  }

  test("a changed issue count is caught") {
    val bumped = manifest.copy(expectedIssues = manifest.expectedIssues.map(e =>
      if (e.kind == "NonIso8601") e.copy(count = e.count + 1) else e))
    assert(Checks.issues(issues, bumped, manifest.rows.keySet, StudyGen.CheckedKinds).nonEmpty)
  }

  test("the exported package passes its checks") {
    assert(Checks.exportPackage(exported, manifest.rows).isEmpty)
  }

  test("a truncated XPT is caught") {
    val copy = work.resolve("export-truncated")
    copyTree(exported, copy)
    val lb = copy.resolve("lb.xpt")
    val bytes = Files.readAllBytes(lb)
    Files.write(lb, bytes.take(bytes.length - 3 * 80), StandardOpenOption.TRUNCATE_EXISTING)
    assert(Checks.exportPackage(copy, manifest.rows).exists(_.startsWith("LB.xpt")))
  }

  test("a define.xml missing a dataset is caught") {
    val copy = work.resolve("export-define")
    copyTree(exported, copy)
    val define = copy.resolve("define.xml")
    val xml = new String(Files.readAllBytes(define), "UTF-8")
    Files.write(define, xml.replaceFirst("<ItemGroupDef ", "<ItemGroupDefX ").getBytes("UTF-8"))
    assert(Checks.exportPackage(copy, manifest.rows).exists(_.startsWith("define.xml")))
  }

  test("a conversion operation passes end to end") {
    val w = new StudyConvert(StudyGen.Size(12, 2, Seq("DM", "LB", "VS", "RELSUB")))
    w.setup(env)
    assert(w.run(env, 0).failures.isEmpty)
  }

  test("an edit round passes end to end") {
    val w = new StudyEdit(StudyGen.Size(12, 2, Seq("DM", "LB")))
    w.setup(env)
    assert(w.run(env, 0).failures.isEmpty)
    assert(w.run(env, 1).failures.isEmpty)
  }

  test("curation keeps exactly the predicted survivors, and a dropped one is caught") {
    val w = new CorpusCurate(CorpusGen.Size(corpus = 120, batch = 60, probes = 10))
    w.setup(env)
    assert(w.run(env, 0).failures.isEmpty)

    val m = CorpusGen.write(work.resolve("corpus2"), 9L, CorpusGen.Size(50, 30, 5))
    val out = work.resolve("curated-broken")
    spark.createDataFrame(m.survivors.drop(1).map(id => (id, "train")))
      .toDF("id", "split").write.parquet(out.toString)
    assert(Checks.survivors(spark, out, m.survivors, Set("train")).nonEmpty)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).forEach(p => Files.copy(p, to.resolve(p.getFileName)))
  }
}
