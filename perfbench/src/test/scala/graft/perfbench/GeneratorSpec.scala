package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")

  private def contents(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.toSeq
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  private val study = StudyGen.Size(subjects = 40, visits = 3)
  private val corpus = CorpusGen.Size(corpus = 200, batch = 100, probes = 20)

  test("the same seed writes byte-identical study files and manifest") {
    val (a, b) = (tmp(), tmp())
    val ma = StudyGen.write(a, 7L, study)
    val mb = StudyGen.write(b, 7L, study)
    assert(contents(a) == contents(b))
    assert(ma == mb)
  }

  test("another seed writes a study of the same shape with other defects") {
    val (a, b) = (tmp(), tmp())
    val ma = StudyGen.write(a, 7L, study)
    val mb = StudyGen.write(b, 8L, study)
    assert(contents(a).keySet == contents(b).keySet)
    assert(contents(a) != contents(b))
    // same header rows in every file, same row counts where the design fixes them
    ma.files.values.foreach { f =>
      def head(d: Path) = Files.readAllLines(d.resolve(f)).asScala.take(2)
      assert(head(a) == head(b), f)
    }
    Seq("DM", "AE", "LB", "VS", "EX", "SV").foreach(d => assert(ma.rows(d) == mb.rows(d), d))
    assert(ma.planted.keySet == mb.planted.keySet)
    assert(ma.expectedIssues.map(e => (e.domain, e.variable, e.kind)) ==
      mb.expectedIssues.map(e => (e.domain, e.variable, e.kind)))
    assert(ma.expectedIssues.forall(_.count > 0))
  }

  test("study files are UTF-8 with a BOM and two header rows") {
    val dir = tmp()
    val m = StudyGen.write(dir, 3L, study)
    val bytes = Files.readAllBytes(dir.resolve(m.files("LB")))
    assert(bytes.take(3).toSeq == Seq(0xEF, 0xBB, 0xBF).map(_.toByte))
    val lines = Files.readAllLines(dir.resolve(m.files("LB"))).asScala
    assert(lines(1).split(",").contains("LBTESTCD"))
    assert(lines.size == m.rows("LB") + 2)
  }

  test("a smaller domain list writes only those domains and their defects") {
    val m = StudyGen.write(tmp(), 3L, study.copy(domains = Seq("DM", "LB")))
    assert(m.files.keySet == Set("DM", "LB"))
    assert(m.expectedIssues.map(_.domain).toSet == Set("DM", "LB"))
    assert(m.edits.map(_.domain).toSet == Set("DM", "LB"))
  }

  test("the same seed writes byte-identical corpus files") {
    val (a, b) = (tmp(), tmp())
    val ma = CorpusGen.write(a, 11L, corpus)
    val mb = CorpusGen.write(b, 11L, corpus)
    assert(contents(a) == contents(b))
    assert(ma == mb)
  }

  test("another corpus seed keeps the class mix and predicts its own survivors") {
    val ma = CorpusGen.write(tmp(), 11L, corpus)
    val mb = CorpusGen.write(tmp(), 12L, corpus)
    assert(ma.counts == mb.counts)
    assert(ma.survivors.size == ma.counts("fresh") + ma.counts("augmented"))
    Seq("fresh", "augmented", "recrawl", "truncated", "contaminated")
      .foreach(c => assert(ma.counts(c) > 0, c))
  }
}
