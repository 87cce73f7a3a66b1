package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{AlertStore, Benchmarking, Dedup, IsolationForest,
  MinHashLsh, Pipeline, Reports, TextAnalysis}
import graft.sources.Tables

/** `batch`: the three scheduled jobs — fault detection, corpus curation
  * and the benchmarking report — with the per-row kernels run on every
  * input row. At these sizes the steps are still bound by per-job cost
  * as much as by rows; see the README for the traced figures. Each step is
  * one op, fully materialised through the digest sink; the loop runs
  * whole passes, so every pass times every step once. */
final class Batch(ctx: Ctx) extends Workload {
  import Batch._
  private val spark = ctx.spark
  private val sizes = Gen.Sizes(events = 30000L, users = 600, days = 30,
    customers = 5000L, orders = 50000L, docs = 2000, vectors = 0)
  private val (docs, planted) = Gen.corpus(ctx.seed, sizes.docs, 0L, DupShare)
  private var input = ""

  def writeInputs(dir: String): Unit = {
    input = dir
    Gen.events(spark, ctx.seed, sizes).write.parquet(s"$input/events.parquet")
    Gen.customers(spark, ctx.seed, sizes).write.parquet(s"$input/customer.parquet")
    Gen.orders(spark, ctx.seed, sizes).write.parquet(s"$input/orders.parquet")
    Gen.docsFrame(spark, docs).repartition(4).write.parquet(s"$input/documents.parquet")
  }

  /** Set-up is the ETL stage the batch schedule runs ahead of its jobs:
    * events to the persisted rolling-feature table and its summary
    * sidecar. */
  def setUp(dir: String): Unit = Pipeline.runEtl(spark, input, s"$dir/features")

  /** First pass's digest of each step: every later pass must match it. */
  private val firstDigest = mutable.HashMap.empty[String, Long]
  private def sameAsFirst(step: String, d: Long): Boolean =
    firstDigest.getOrElseUpdate(step, d) == d

  private var lastStore = ""
  private var alertRows = 0L

  def loop(): Unit = {
    ctx.startLoop()
    var pass = 0
    // the first pass warms up (see Main.timed); at least one more is timed
    while (pass < math.max(2, ctx.minCycles) || !ctx.timeUp) {
      ctx.cycle(onePass(pass))
      pass += 1
    }
    ctx.notes("passes") = pass.toDouble
  }

  private def documents: DataFrame = Tables.documents(spark, input)

  /** A digest-sinked op over the documents: one row per document. */
  private def perDoc(step: String, module: String)(df: => DataFrame): Unit =
    ctx.op(step, sizes.docs) {
      ctx.call(module, step.stripPrefix("curate."))(Sink.digest(df))
    } { case (n, d) => n == sizes.docs && sameAsFirst(step, d) }

  private def onePass(pass: Int): Unit = {
    // detect
    val store = ctx.dir(s"store-$pass")
    ctx.op("detect.runDetection", sizes.events) {
      ctx.call("Pipeline", "runDetection")(Pipeline.runDetection(spark, input, store))
    } { _ =>
      val (n, d) = Sink.digest(AlertStore.read(spark, store))
      alertRows = n
      n > 0 && sameAsFirst("detect.runDetection", d)
    }
    if (lastStore.nonEmpty) Disk.delete(new java.io.File(lastStore))
    lastStore = store
    ctx.op("detect.scoreAll", sizes.events) {
      ctx.call("IsolationForest", "scoreAll")(
        Sink.digest(IsolationForest.scoreAll(spark, input)))
    } { case (n, d) => n == sizes.events && sameAsFirst("detect.scoreAll", d) }

    // curate
    perDoc("curate.curate", "TextAnalysis")(TextAnalysis.curate(documents))
    perDoc("curate.piiScan", "TextAnalysis")(TextAnalysis.piiScan(documents))
    perDoc("curate.regexTokenStats", "TextAnalysis")(TextAnalysis.regexTokenStats(documents))
    ctx.op("curate.exactPairs", sizes.docs) {
      ctx.call("MinHashLsh", "exactPairs")(MinHashLsh.exactPairs(documents).collect())
    } { got =>
      got.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet == planted
    }
    ctx.op("curate.clusterExact", sizes.docs) {
      ctx.call("Dedup", "clusterExact")(Dedup.clusterExact(documents).collect())
    } { got =>
      val comp = got.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
      got.length == sizes.docs && planted.forall { case (a, b) => comp(a) == comp(b) } &&
        comp.values.toSet.size == sizes.docs - planted.size
    }

    // report
    val out = ctx.dir("report")
    ctx.op("report.exportJson", sizes.customers + sizes.orders) {
      ctx.call("Reports", "exportJson")(Reports.exportJson(
        ctx.call("Benchmarking", "metricsFor")(Benchmarking.metricsFor(spark, input)),
        out, asOf = Some(AsOf)))
    } { _ =>
      val text = spark.read.text(out).collect().map(_.getString(0)).mkString("\n")
      text.contains("portfolio_summary") && sameAsFirst("report.exportJson", text.hashCode)
    }
    ctx.op("report.portfolioSummary", sizes.customers + sizes.orders) {
      ctx.call("Benchmarking", "portfolioSummary")(Benchmarking.portfolioSummary(
        ctx.call("Benchmarking", "metricsFor")(Benchmarking.metricsFor(spark, input)))
        .collect())
    } { got =>
      got.length == 1 && got.head.getAs[Long]("total_entities") == sizes.customers &&
        got.head.getAs[Long]("total_activity") == sizes.orders
    }
  }

  def stateBytesPerRow(): Double = Disk.bytes(lastStore).toDouble / math.max(1L, alertRows)
}

object Batch {
  val DupShare = 0.1
  /** Fixed report stamp, so the exported document is a pure function of
    * the inputs and its digest can be compared across passes. */
  val AsOf: java.time.Instant = java.time.Instant.parse("2026-01-01T00:00:00Z")
}
