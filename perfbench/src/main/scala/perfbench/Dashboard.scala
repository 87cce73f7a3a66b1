package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.{AdaptiveAnn, AlertStore, Alerts, Benchmarking, Ivf,
  Pipeline, Similarity}
import graft.sources.Tables

/** `dashboard`: the serving side, where every call is bound by fixed
  * per-call cost (planning, job scheduling, driver gaps) rather than by
  * rows. One client thread sends a seeded mix of the analysts' reads —
  * alert range queries and summaries, the benchmarking portfolio /
  * percentile / top-entity reports, IVF lookups — with the writes that hit
  * the same stores mixed in: day-slice rewrites of the alert store and
  * document/vector ingest batches into the signature and IVF indexes, so
  * the ANN reads probe a growing, periodically compacted index. */
final class Dashboard(ctx: Ctx) extends Workload {
  import Dashboard._
  private val spark = ctx.spark
  private val sizes = Gen.Sizes(events = 24000L, users = 600, days = 30,
    customers = 5000L, orders = 50000L, docs = 0, vectors = 400)
  private val vectors = Gen.vectors(ctx.seed, 0L, sizes.vectors, 0L)
  private val rng = new scala.util.Random(ctx.seed * 104729L + 1L)
  private val firstDay = Gen.StartUs / Gen.DayUs

  private val ingest = new Ingest(ctx)
  private var input = ""
  private var store = ""
  private var ivf = ""

  def writeInputs(dir: String): Unit = {
    input = dir
    Gen.events(spark, ctx.seed, sizes).write.parquet(s"$input/events.parquet")
    Gen.customers(spark, ctx.seed, sizes).write.parquet(s"$input/customer.parquet")
    Gen.orders(spark, ctx.seed, sizes).write.parquet(s"$input/orders.parquet")
    Gen.vectorsFrame(spark, vectors).write.parquet(s"$input/embeddings.parquet")
    ingest.writeInputs(dir)
  }

  def setUp(dir: String): Unit = {
    store = s"$dir/alerts"
    Pipeline.runDetection(spark, input, store)
    val emb = Tables.embeddings(spark, input)
    val cells = math.ceil(math.sqrt(sizes.vectors.toDouble)).toInt
    ivf = s"$dir/ivf"
    Ivf.saveIndex(emb, Ivf.kmeansCentroids(emb, cells), ivf)
    Ivf.openIndex(spark, ivf)
    ingest.setUp(dir)
  }

  // ---- driver-side references for the output checks -------------------

  /** The store's rows, read once through AlertStore.read after set-up and
    * then kept in step with every write the loop makes. */
  private val rows = mutable.ArrayBuffer.empty[Alert]
  /** Per-day alert rows as set-up wrote them: the source of the
    * day-slice rewrites. */
  private var byDay: Map[Long, Seq[Alert]] = Map.empty
  private var sliceSource = ""

  private lazy val entities: Map[Long, Entity] = {
    val spend = mutable.HashMap.empty[Long, (Long, BigDecimal)]
    Tables.orders(spark, input).select("o_custkey", "o_totalprice").collect()
      .foreach { r =>
        val (n, s) = spend.getOrElse(r.getLong(0), (0L, BigDecimal(0)))
        spend(r.getLong(0)) = (n + 1,
          s + BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      }
    Tables.customer(spark, input).select("c_custkey", "c_mktsegment").collect()
      .map { r =>
        val (n, s) = spend.getOrElse(r.getLong(0), (0L, BigDecimal(0)))
        r.getLong(0) -> Entity(r.getLong(0), r.getString(1), n, s.toDouble)
      }.toMap
  }

  /** Vectors the IVF index holds; ingest requests append more. */
  private var nVectors = sizes.vectors.toLong
  /** Exact top-10 per (query, index size), from the live index corpus,
    * which is read and held once per index size. */
  private val truth = mutable.HashMap.empty[(Long, Long), Set[Long]]
  private val corpusAt = mutable.HashMap.empty[Long, DataFrame]
  private def exactTop10(q: Long): Set[Long] = truth.getOrElseUpdate((q, nVectors), {
    val live = corpusAt.getOrElseUpdate(nVectors,
      corpus(Ivf.openIndex(spark, ivf)).localCheckpoint(true))
    Similarity.bruteForceTopK(live, q, 10).collect().map(_.getAs[Long]("vec_id")).toSet
  })

  private def corpus(index: Ivf.IvfIndex): DataFrame =
    index.corpus.select("vec_id", "embedding", "label")

  private def recallOk(q: Long, got: Seq[Long]): Boolean = {
    val r = got.toSet.intersect(exactTop10(q)).size / 10.0
    recalls += r
    got.length == 10 && r >= RecallFloor
  }
  private val recalls = mutable.ArrayBuffer.empty[Double]

  private def prepareChecks(): Unit = {
    sliceSource = ctx.dir("alert-slices")
    AlertStore.read(spark, store).write.partitionBy("epoch_day").parquet(sliceSource)
    rows ++= AlertStore.read(spark, store).collect().map(Alert(_))
    byDay = rows.toSeq.groupBy(_.day)
  }

  // ---- the loop --------------------------------------------------------

  private val queryPool = rng.shuffle(vectors.map(_.id)).take(8)
  private lazy val severities = rows.map(_.severity).distinct.sorted.toVector
  private lazy val rules = rows.map(_.rule).distinct.sorted.toVector
  private lazy val users = rows.map(_.user).distinct.sorted.toVector

  private def some[T](p: Double, xs: => IndexedSeq[T]): Option[T] =
    if (rng.nextDouble() < p) Some(xs(rng.nextInt(xs.length))) else None

  def loop(): Unit = {
    prepareChecks()
    val counts = mutable.LinkedHashMap(Round.distinct.map(_ -> 0L): _*)
    ctx.startLoop()
    ctx.cycle(WarmUp.foreach(request))
    // whole rounds only, so the realised mix is the round's
    var rounds = 0
    while (rounds < math.max(1, ctx.minCycles - 1) || !ctx.timeUp) {
      ctx.cycle(Round.foreach { kind =>
        counts(kind) += 1
        request(kind)
      })
      rounds += 1
    }
    ctx.notes("rounds") = rounds.toDouble
    val total = counts.values.sum.toDouble
    counts.foreach { case (k, n) => ctx.notes(s"share.$k") = n / total }
    ctx.notes("Ivf.recall_at_10") = recalls.sum / math.max(1, recalls.length)
    ctx.notes("AlertStore.rows_returned") = rowsReturned.toDouble
    ingest.notes()
  }

  private var rowsReturned = 0L

  private def metrics: DataFrame =
    ctx.call("Benchmarking", "metricsFor")(Benchmarking.metricsFor(spark, input))

  private def request(kind: String): Unit = kind match {
    case "queryRange" =>
      val start = firstDay + rng.nextInt(sizes.days)
      val end = math.min(firstDay + sizes.days - 1, start + rng.nextInt(7))
      val (sev, rule, user) = (some(0.5, severities), some(0.3, rules), some(0.3, users))
      ctx.op(kind, 1) {
        ctx.tracer.counted("AlertStore", "queryRange")(
          AlertStore.queryRange(spark, store, start, end, sev, rule, user, Limit).collect())(
          _.length.toLong)
      } { got =>
        rowsReturned += got.length
        val ref = rows.filter(a => a.tsUs >= start * Gen.DayUs &&
            a.tsUs < (end + 1) * Gen.DayUs && sev.forall(_ == a.severity) &&
            rule.forall(_ == a.rule) && user.forall(_ == a.user))
          .sortBy(a => (-a.tsUs, a.eventId))
        val res = got.map(Alert(_))
        val refSet = ref.toSet
        res.length == math.min(Limit, ref.length) &&
          res.map(a => (a.tsUs, a.eventId)).toSeq ==
            ref.take(res.length).map(a => (a.tsUs, a.eventId)).toSeq &&
          res.forall(refSet)
      }

    case "summaryByRule" =>
      ctx.op(kind, 1) {
        ctx.call("Alerts", "summaryByRule")(Alerts.summaryByRule(
          ctx.call("AlertStore", "read")(AlertStore.read(spark, store))).collect())
      } { got =>
        val ref = rows.groupBy(_.severity).map { case (k, v) => (k, null, null, v.size.toLong) } ++
          rows.groupBy(_.rule).map { case (k, v) => (null, k, null, v.size.toLong) } ++
          rows.groupBy(_.user).map { case (k, v) => (null, null, k, v.size.toLong) }
        got.map(r => (r.getAs[String]("severity"), r.getAs[String]("rule_name"),
          r.getAs[Any]("user_id"), r.getAs[Long]("n"))).toSet == ref.toSet
      }

    case "topEntities" =>
      ctx.op(kind, 1) {
        ctx.call("Alerts", "summaryTopEntities")(Alerts.summaryTopEntities(
          ctx.call("AlertStore", "read")(AlertStore.read(spark, store))).collect())
      } { got =>
        val ref = rows.groupBy(_.user).map { case (u, v) => (u, v.size.toLong) }
          .toSeq.sortBy { case (u, n) => (-n, u) }.take(10)
        got.map(r => (r.getLong(0), r.getLong(1))).toSeq == ref
      }

    case "portfolio" =>
      ctx.op(kind, 1) {
        ctx.call("Benchmarking", "portfolioSummary")(
          Benchmarking.portfolioSummary(metrics).collect())
      } { got =>
        val r = got.head
        got.length == 1 && r.getAs[Long]("total_entities") == entities.size &&
          r.getAs[Long]("total_activity") == entities.values.map(_.orders).sum &&
          close(r.getAs[Double]("total_spend"), entities.values.map(_.spend).sum)
      }

    case "percentile" =>
      val id = 1L + rng.nextInt(sizes.customers.toInt)
      ctx.op(kind, 1) {
        ctx.call("Benchmarking", "percentiles")(
          Benchmarking.percentiles(metrics).filter(col("c_custkey") === id).collect())
      } { got =>
        val e = entities(id)
        val peers = entities.values.filter(_.segment == e.segment).toSeq
        val rank = peers.count(_.intensity < e.intensity).toDouble / (peers.length - 1)
        got.length == 1 && close(got.head.getAs[Double]("intensity"), e.intensity) &&
          close(got.head.getAs[Double]("pct_rank"), rank)
      }

    case "topPerGroup" =>
      ctx.op(kind, 1) {
        ctx.call("Benchmarking", "topEntitiesPerGroup")(
          Benchmarking.topEntitiesPerGroup(metrics, TopK).collect())
      } { got =>
        val ref = entities.values.groupBy(_.segment).toSeq.sortBy(_._1).flatMap {
          case (_, es) => es.toSeq.sortBy(e => (-e.intensity, e.id)).take(TopK).map(_.id)
        }
        got.map(_.getAs[Long]("c_custkey")).toSeq == ref
      }

    case "annIndexed" =>
      val q = queryPool(rng.nextInt(queryPool.length))
      ctx.op(kind, 1) {
        val live = ctx.call("Ivf", "openIndex")(Ivf.openIndex(spark, ivf))
        ctx.call("Ivf", "topKIndexed")(Ivf.topKIndexed(live, q, 10).collect())
      } { got => recallOk(q, got.map(_.getAs[Long]("vec_id")).toSeq) }

    case "annBatchAuto" =>
      val qs = rng.shuffle(queryPool).take(3)
      ctx.op(kind, 1) {
        val live = ctx.call("Ivf", "openIndex")(Ivf.openIndex(spark, ivf))
        ctx.call("AdaptiveAnn", "ivfTopKBatchAuto")(AdaptiveAnn.ivfTopKBatchAuto(
          corpus(live), live.centroids, qs, 10, corpusSize = nVectors).collect())
      } { got =>
        val byQ = got.groupBy(_.getAs[Long]("q_id"))
        qs.forall(q => recallOk(q,
          byQ.getOrElse(q, Array.empty[Row]).map(_.getAs[Long]("vec_id")).toSeq))
      }

    case "replaceDay" =>
      val day = firstDay + rng.nextInt(sizes.days)
      ctx.op(kind, 1) {
        ctx.call("AlertStore", "clearRange")(AlertStore.clearRange(spark, store, day, day))
        ctx.call("AlertStore", "append")(AlertStore.append(
          spark.read.parquet(sliceSource).filter(col("epoch_day") === day)
            .drop("epoch_day"), store))
      } { _ =>
        rows --= rows.filter(_.day == day)
        rows ++= byDay.getOrElse(day, Nil)
        true
      }

    case "ingest" | "ingest+compact" =>
      ingest.request(ivf, Gen.vectors(ctx.seed, nVectors, Ingest.VectorsPerBatch, nVectors),
        compact = kind == "ingest+compact")
      nVectors += Ingest.VectorsPerBatch
  }

  def stateBytesPerRow(): Double =
    (Disk.bytes(store) + Disk.bytes(ivf) + ingest.bytes).toDouble /
      (rows.length + nVectors + ingest.docsIndexed)
}

object Dashboard {
  /** One measured round of requests, in order; the seed picks each
    * request's parameters. The loop runs whole rounds, so every run has
    * this mix and every read meets the indexes in the same state in every
    * run. The round's last ingest compacts both indexes inside its own
    * timing. The counts are not taken from any traffic source: they were
    * chosen to keep the median among the IVF lookups and the 90th
    * percentile among the uncompacted ingests, not on the edge between two
    * request kinds, so that both stay steady between runs. */
  val Round: Seq[String] = Seq("queryRange", "annIndexed", "summaryByRule",
    "annIndexed", "ingest", "portfolio", "annIndexed", "topEntities", "annIndexed",
    "replaceDay", "percentile", "ingest", "annIndexed", "queryRange", "topPerGroup",
    "annIndexed", "annBatchAuto", "ingest+compact")

  /** One request of each kind before the measured rounds: the first call
    * of a kind pays JIT, code generation and cache warm-up, and is not
    * timed into the metrics (see Main.timed). */
  val WarmUp: Seq[String] = Round.distinct.filterNot(_ == "ingest+compact")
  val Limit = 100
  val TopK = 5
  val RecallFloor = 0.8

  final case class Alert(eventId: Long, user: Long, tsUs: Long, metric: String,
      score: Double, rule: String, severity: String, day: Long)
  object Alert {
    def apply(r: Row): Alert = Alert(r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
      r.getAs[Long]("ts_us"), r.getAs[String]("metric"), r.getAs[Double]("score"),
      r.getAs[String]("rule_name"), r.getAs[String]("severity"),
      r.getAs[Long]("ts_us") / Gen.DayUs)
  }

  final case class Entity(id: Long, segment: String, orders: Long, spend: Double) {
    def intensity: Double = spend / math.max(orders, 1L)
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
