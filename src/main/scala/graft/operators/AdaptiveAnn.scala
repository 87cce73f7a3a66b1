package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Concentration-aware ANN dial selection — the recall floor at scale
  * (SURVEY.md §2 similarity family, round-8 addition).
  *
  * The two index families each expose two honest operating points: the
  * BUDGET constant-row/occupancy dial (per-probe cost constant at any
  * corpus size; recall 1.0 where real neighbor structure exists,
  * falling on structureless background as the corpus outgrows the
  * budget — `Ivf.budgetNprobe` / `AnnLsh.autoPlanes`) and the
  * WIDE constant-fraction dial (background recall held ≥0.7 at any
  * size; cost linear in the corpus — since r14 the `nprobe = 0` /
  * `planes = 0` DEFAULT, so the out-of-the-box recall does not decay
  * with corpus growth). Neither is right universally — which one a
  * query needs depends on whether its true neighbors are CONCENTRATED
  * structure (near-dups, clusters) or background noise, a property of
  * the data the engine can measure instead of guess.
  *
  * The auto entry points probe the cheap BUDGET dial first (passed
  * explicitly — they are the bounded-cost path, so they must not
  * inherit the recall-anchored default), then escalate — per query,
  * not per batch — exactly those queries whose top-k came back
  * indistinguishable from the corpus's background cosine distribution
  * ([[concentrated]] is the pinned rule). A planted or clustered query
  * pays the constant budget cost and nothing else; a background query
  * pays one additional wide probe, the price its answer actually costs
  * (no constant-cost index can surface an unconcentrated top-k — the
  * information simply is not in any bounded candidate set). At 100 TB
  * the escalation set is the contract: junk answers are upgraded for
  * linear cost only where junk was measured, and the background
  * statistics come from one driver-tiny seeded sample, not a corpus
  * pass. */
object AdaptiveAnn {

  /** Escalation z-score: a top-k hit counts as structure when its cosine
    * clears μ + 5σ of the sampled background pair distribution. The
    * extreme-value yardstick: the best of the ~n·k background candidates
    * a probe can surface sits near μ + 4σ for corpora up to ~10⁶ docs
    * (max of m Gaussian draws ≈ √(2·ln m)·σ), so 5σ is clear of what
    * background CAN produce while far below real near-dup structure
    * (a ±2% jittered duplicate scores ≈ μ + 8σ on 64-dim data). */
  val EscalationZ: Double = 5.0

  /** A query's default answer is kept when at least half its k hits
    * clear the [[EscalationZ]] band — half, not all, so a query with
    * genuine-but-partial structure (fewer than k true neighbors) is
    * not escalated for the crime of an honest tail. */
  val MinStructuredFraction: Double = 0.5

  /** Ceiling on the escalation band: low-dimensional corpora have wide
    * background distributions (σ ≈ 1/√dim), and μ + 5σ can exceed
    * cosine's own range — demanding the impossible and escalating
    * everything. Near-duplicate structure sits at ≥0.9 at ANY dimension
    * (a ±2% jitter costs ~2·10⁻⁴ of cosine), so the band never needs to
    * rise past it. */
  val StructureCosineCap: Double = 0.9

  /** The escalation band: min(μ + [[EscalationZ]]·σ, [[StructureCosineCap]]). */
  private[graft] def escalationBand(mu: Double, sigma: Double): Double =
    math.min(mu + EscalationZ * sigma, StructureCosineCap)

  /** Sampled vectors behind the background (μ, σ) estimate: 128 vectors
    * = 8128 deterministic pairs, one driver-collected job. */
  private val StatsSampleVectors = 128

  /** Corpus size above which the default dial's trade-off deserves a
    * log line. Through r13 the default was the BUDGET dial and the
    * warning was about its measured background-recall decay (RecallGrid:
    * IVF 0.70 → 0.28, LSH 0.79 → 0.52 between the 10⁴- and 10⁵-row
    * corpora); since r14 the default is the recall-anchored FRACTION
    * dial and the warning is about its linear per-probe cost growth.
    * Same threshold either way — the midpoint between the scale where
    * both dials coincide and the scale where they measurably diverge. */
  val ConstantDialAdvisoryRows: Long = 50000L

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.AdaptiveAnn")

  /** True while an auto entry point is building its probes — the auto
    * path IS the cliff's fix, so its internal constant-dial probe must
    * not re-warn about the problem it exists to solve. */
  private val inAuto = new scala.util.DynamicVariable[Boolean](false)

  private[graft] def suppressAdvisory[T](f: => T): T = inAuto.withValue(true)(f)

  /** The pure decision behind the constant-dial advisory (specced):
    * advise iff the corpus is past [[ConstantDialAdvisoryRows]] and the
    * caller is not already inside an auto entry point. Explicit dials
    * never reach this — a caller who chose planes/nprobe chose their
    * operating point. */
  private[graft] def adviseDecision(corpusRows: Long): Boolean =
    !inAuto.value && corpusRows > ConstantDialAdvisoryRows

  /** Driver-side advisory, once per plan build (called from the
    * default-dial resolvers): the r14 decision (docs/indexes.md, "Which
    * entry point") is that the `nprobe = 0` / `planes = 0` DEFAULT is
    * the recall-anchored constant-fraction dial — and this warning is
    * what keeps its linear per-probe cost growth from ever being SILENT
    * at scale. Explicit dials never reach it. */
  def adviseDefaultDial(family: String, corpusRows: Long): Unit =
    if (adviseDecision(corpusRows))
      log.warn(s"$family recall-anchored default dial on a " +
        s"~$corpusRows-row corpus: each probe reads a constant corpus " +
        "FRACTION, so per-probe cost grows linearly from here (recall " +
        "holds by design). For bounded per-probe cost pass the budget " +
        "dial explicitly (Ivf.budgetNprobe / AnnLsh.autoPlanes — " +
        "background recall then decays with corpus growth, measured IVF " +
        "0.70 -> 0.28 per 10x rows) or use AdaptiveAnn.lshTopKBatchAuto " +
        "/ ivfTopKBatchAuto (budget probe + per-query escalation) — " +
        "see docs/indexes.md.")

  /** The dial-selection rule, pure and pinned by spec: keep the default
    * answer iff ≥ ⌈[[MinStructuredFraction]]·k⌉ of its cosines clear
    * μ + [[EscalationZ]]·σ. An under-filled result (fewer than the
    * required hits, e.g. zero bucket collisions) always escalates. */
  private[graft] def concentrated(cosines: Seq[Double], k: Int,
      mu: Double, sigma: Double): Boolean = {
    val need = math.ceil(k * MinStructuredFraction).toInt
    cosines.count(_ >= escalationBand(mu, sigma)) >= need
  }

  /** Background cosine (μ, σ) from a deterministic stride sample:
    * [[StatsSampleVectors]] vectors at a fixed id stride, all pairwise
    * cosines computed on the driver (≤ 8128 doubles — no corpus pass,
    * no shuffle, stable across runs on the same corpus). */
  private[graft] def backgroundStats(embeddings: DataFrame,
      corpusSize: Long = 0L): (Double, Double) = {
    val n = if (corpusSize > 0L) corpusSize else embeddings.count()
    val stride = math.max(1L, n / StatsSampleVectors)
    val ids = (0L until math.min(StatsSampleVectors.toLong, n)).map(_ * stride)
    val vecs = embeddings.filter(col("vec_id").isin(ids: _*))
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val cos = for {
      i <- vecs.indices.iterator
      j <- (i + 1) until vecs.length
    } yield {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var t = 0
      while (t < math.min(vecs(i).length, vecs(j).length)) {
        d += vecs(i)(t).toDouble * vecs(j)(t).toDouble
        na += vecs(i)(t).toDouble * vecs(i)(t).toDouble
        nb += vecs(j)(t).toDouble * vecs(j)(t).toDouble
        t += 1
      }
      d / math.sqrt(na * nb)
    }
    val xs = cos.toArray
    val mu = xs.sum / xs.length
    val sigma = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.length)
    (mu, sigma)
  }

  /** The per-query escalation decision over a collected phase-1 result:
    * query ids whose default top-k failed [[concentrated]]. Query ids
    * with NO phase-1 rows at all (no collisions) are included too. */
  private[graft] def escalationSet(phase1: Array[Row], queryIds: Seq[Long],
      k: Int, mu: Double, sigma: Double): Set[Long] = {
    val byQ = phase1.groupBy(_.getLong(0))
    queryIds.filter { q =>
      !concentrated(byQ.getOrElse(q, Array.empty[Row])
        .map(_.getDouble(3)).toSeq, k, mu, sigma)
    }.toSet
  }

  /** Escalated-query share of the most recent auto probe on this thread
    * — bench telemetry (RecallProbe emits it beside the `_auto_cost_x`
    * ratios so escalation drift fails the scaling gate loudly, r15).
    * Read it immediately after an auto entry point returns; it is not
    * part of any query-result contract. */
  private val lastEscalation = new ThreadLocal[(Int, Int)] {
    override def initialValue: (Int, Int) = (0, 0)
  }

  private[graft] def lastEscalatedFraction: Double = {
    val (e, t) = lastEscalation.get()
    if (t == 0) 0.0 else e.toDouble / t
  }

  /** Shared two-phase driver: collect the default batch probe, keep the
    * concentrated queries' rows as a local DataFrame, re-probe the rest
    * wide, union. Output schema/ordering match the batch probes. */
  private def adaptive(spark: SparkSession, queryIds: Seq[Long], k: Int,
      mu: Double, sigma: Double, defaultProbe: => DataFrame,
      wideProbe: Seq[Long] => DataFrame): DataFrame = suppressAdvisory {
    val p1 = defaultProbe
    val rows = p1.collect()
    val esc = escalationSet(rows, queryIds, k, mu, sigma)
    lastEscalation.set((esc.size, queryIds.size))
    val kept = spark.createDataFrame(
      java.util.Arrays.asList(rows.filterNot(r => esc(r.getLong(0))): _*),
      p1.schema)
    val out =
      if (esc.isEmpty) kept
      else kept.unionByName(wideProbe(esc.toSeq.sorted))
    out.orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
  }

  /** LSH batched probe with the concentration-escalation contract:
    * 24-table BUDGET (constant-occupancy `autoPlanes`) first probe,
    * per-query wide (anchor-plane constant-fraction) re-probe where the
    * budget answer measured as background. Runs two actions (the stats
    * sample and the phase-1 collect) — the ANN-service shape where
    * results are consumed, not composed. */
  def lshTopKBatchAuto(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      tables: Int = 24, corpusSize: Long = 0L): DataFrame = {
    val n = if (corpusSize > 0L) corpusSize else embeddings.count()
    val (mu, sigma) = backgroundStats(embeddings, n)
    adaptive(embeddings.sparkSession, queryIds, k, mu, sigma,
      AnnLsh.topKBatch(embeddings, queryIds, k, tables,
        planes = AnnLsh.autoPlanes(n)),
      esc => AnnLsh.topKBatch(embeddings, esc, k, tables,
        planes = AnnLsh.anchorPlanes(tables)))
  }

  /** IVF batched probe with the concentration-escalation contract:
    * [[Ivf.budgetNprobe]] (constant-row) first probe, per-query
    * [[Ivf.wideNprobe]] re-probe where the budget answer measured as
    * background. */
  def ivfTopKBatchAuto(embeddings: DataFrame, centroids: Array[Array[Float]],
      queryIds: Seq[Long], k: Int, corpusSize: Long = 0L): DataFrame = {
    val (mu, sigma) = backgroundStats(embeddings, corpusSize)
    adaptive(embeddings.sparkSession, queryIds, k, mu, sigma,
      Ivf.topKBatch(embeddings, centroids, queryIds, k,
        nprobe = Ivf.budgetNprobe(centroids.length)),
      esc => Ivf.topKBatch(embeddings, centroids, esc, k,
        nprobe = Ivf.wideNprobe(centroids.length)))
  }
}
