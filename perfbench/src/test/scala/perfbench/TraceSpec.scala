package perfbench

import java.nio.file.Files

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Exactly one Spark job. */
  private def job(): Long = spark.sparkContext.parallelize(1L to 999L, 2).reduce(_ + _)

  /** A SQL query whose exchange makes adaptive execution submit its
    * stages as separate jobs, some from its own threads. */
  private def query(): Long = spark.range(1000).selectExpr("sum(id)").head().getLong(0)

  test("jobs are billed to the innermost open span through the local property") {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, enabled = true)
    val listener = new SpanListener
    var started = 0
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started += 1
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(counter)
    try {
      job() // outside any span: billed to nobody
      tracer.span("Outer", "outer") {
        job()
        tracer.span("Inner", "inner") { job(); job() }
        job()
      }
      tracer.span("Sql", "query")(query())
      PerfbenchBus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(counter)
    }
    val sql = tracer.spans.find(_.module == "Sql").get
    assert(listener.workOf(sql.id).jobs.nonEmpty)
    assert(listener.workOf(sql.id).recordsRead > 0 && listener.workOf(sql.id).shuffleWriteBytes > 0)
    assert(started == 5 + listener.workOf(sql.id).jobs.length,
      "every job started inside a span is billed to exactly one span")
    val spans = tracer.spans
    val outer = spans.find(_.module == "Outer").get
    val inner = spans.find(_.module == "Inner").get
    assert(inner.parent == outer.id)
    assert(listener.workOf(outer.id).jobs.length == 2)
    assert(listener.workOf(inner.id).jobs.length == 2)
    // the property is restored on span exit
    assert(sc.getLocalProperty(Trace.SpanProperty) == null)
    val layers = Trace.layers(spans, listener.workOf)
    assert(layers("Outer").jobs == 2 && layers("Inner").jobs == 2)
    assert(layers("Outer").driverGapS >= 0 && layers("Outer").driverGapS <= layers("Outer").selfS)
    assert(layers("Outer").selfS + layers("Inner").selfS <=
      (outer.end - outer.start) / 1000.0 + 1e-9)
  }

  test("a disabled tracer records nothing and sets no property") {
    val tracer = new Tracer(spark.sparkContext, enabled = false)
    assert(tracer.span("M", "m")(job()) == 499500L)
    assert(tracer.span("M", "m")(query()) == 499500L)
    assert(tracer.spans.isEmpty)
    assert(spark.sparkContext.getLocalProperty(Trace.SpanProperty) == null)
  }

  test("failed ops count: exceptions and failed output checks, against attempted") {
    val work = Files.createTempDirectory("perfbench-spec").toFile
    try {
      val ctx = new Ctx(spark, seed = 1L, seconds = 1, work = work, traceMode = false)
      ctx.op("ok", 1)(job())(_ == 499500L)
      ctx.op("wrong", 1)(job())(_ == 0L)
      ctx.op("throws", 1)(sys.error("boom"): Long)(_ => true)
      ctx.op("checkThrows", 1)(job())(_ => sys.error("bad check"))
      val attempted = ctx.ops.length
      val failed = ctx.ops.count(!_.ok)
      assert(attempted == 4 && failed == 3)
      assert(Stats.failedFrac(attempted, failed) == 0.75)
      val json = Main.resultJson(correct = ctx.ops.forall(_.ok), attempted, failed,
        Seq(Main.Metric("op_p50_s", 0.25, "s")))
      assert(json == """{"correct": false, "attempted": 4, "failed": 3, """ +
        """"metrics": {"op_p50_s": {"value": 0.25, "unit": "s"}}}""")
    } finally Disk.delete(work)
  }
}
