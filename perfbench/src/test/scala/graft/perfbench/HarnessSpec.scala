package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("median and tail") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    // 21 samples or fewer: the tail is the median
    assert(Stats.tail((1 to 21).map(_.toDouble)) == 11.0)
    // 40 samples: the 30th value has ten above it
    assert(Stats.tail((1 to 40).map(_.toDouble)) == 30.0)
  }

  private def frame(cls: String, method: String) = new StackTraceElement(cls, method, "F.scala", 1)

  test("the sampler charges the innermost engine layer") {
    val stack = Array(
      frame("org.apache.spark.sql.Dataset", "collect"),
      frame("graft.functions.JaroWinkler$", "similarity"),
      frame("graft.operators.Mapping$", "suggestAll"),
      frame("graft.session.StudySession", "addDomain"),
      frame("graft.perfbench.Study$", "open"))
    assert(StackSampler.layerOf(stack).contains("mapping.suggest"))
    assert(StackSampler.layerOf(Array(frame("graft.operators.Mapping$", "columnHints"),
      frame("graft.session.StudySession", "addDomain"))).contains("mapping.hints"))
    assert(StackSampler.layerOf(Array(frame("graft.sinks.XmlSinks$", "writeDefineXmlFile")))
      .contains("sinks.define"))
  }

  test("the sampler leaves the benchmark's own code and non-engine threads alone") {
    assert(StackSampler.layerOf(Array(frame("org.apache.spark.sql.Dataset", "collect"),
      frame("graft.perfbench.CorpusCurate", "run"))).isEmpty)
    assert(StackSampler.layerOf(Array(frame("java.lang.Thread", "run"))).isEmpty)
  }

  test("the running tasks that parse CSV decide the scan share") {
    val running = frame("org.apache.spark.scheduler.Task", "run")
    val parsing = Array(frame("org.apache.spark.sql.catalyst.csv.UnivocityParser", "parse"),
      frame("org.apache.spark.sql.execution.datasources.FileScanRDD$$anon$1", "hasNext"), running)
    val aggregating = Array(frame("org.apache.spark.sql.execution.aggregate.HashAggregateExec",
      "doExecute"), running)
    val idle = Array(frame("java.util.concurrent.ThreadPoolExecutor", "getTask"))
    assert(StackSampler.scanShare(Seq(parsing, aggregating, idle)) == 0.5)
    assert(StackSampler.scanShare(Seq(idle)) == 0.0)
  }

  test("json output") {
    assert(Json.obj(Seq("a" -> 1.5, "b" -> "x\"y", "c" -> Seq(1L, 2L), "d" -> true)) ==
      """{"a":1.5,"b":"x\"y","c":[1,2],"d":true}""")
    assert(Json.value(Double.NaN) == "null")
  }
}
