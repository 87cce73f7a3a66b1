package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AdaptiveAnn, AnnLsh, Ivf}

/** The concentration-escalation dial (AdaptiveAnn): rule pins plus the
  * two end-to-end contracts — planted structure keeps the constant-cost
  * default answer untouched; background queries escalate to the wide
  * dial and recover its recall. */
class AdaptiveAnnSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val dim = 16

  /** Deterministic pseudo-random unit-scale background vectors. */
  private def bgVec(seed: Long): Array[Float] = {
    var s = seed * 6364136223846793005L + 1442695040888963407L
    Array.tabulate(dim) { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33).toDouble / (1L << 31).toDouble) - 0.5).toFloat
    }
  }

  /** 900 background vectors; ids 0-899. */
  private lazy val background = (0 until 900).map { i =>
    (i.toLong, bgVec(i + 17L), i % 4)
  }.toDF("vec_id", "embedding", "label")

  /** Background plus 10 planted near-duplicates (±1% jitter) of each
    * query id, far above the corpus id range. */
  private def planted(qids: Seq[Long]): org.apache.spark.sql.DataFrame = {
    val dups = qids.flatMap { q =>
      val base = bgVec(q + 17L)
      (1 to 10).map { d =>
        val v = base.indices.map { i =>
          val j = ((q * 131 + d * 8191 + i * 524287) % 1000) / 500.0 - 1.0
          (base(i) * (1.0 + 0.01 * j)).toFloat
        }.toArray
        (1000000L + q * 64 + d, v, 0)
      }
    }.toDF("vec_id", "embedding", "label")
    background.unionByName(dups)
  }

  test("concentrated: the pinned selection rule") {
    val (mu, sigma) = (0.0, 0.1)
    val band = AdaptiveAnn.escalationBand(mu, sigma) // 0.5
    assert(band === 0.5)
    // a wide (low-dim) background distribution caps the band at the
    // near-dup ceiling instead of demanding an impossible cosine
    assert(AdaptiveAnn.escalationBand(0.0, 0.25) === AdaptiveAnn.StructureCosineCap)
    // k=10 needs >= 5 hits above the band
    assert(AdaptiveAnn.concentrated(Seq.fill(5)(0.9) ++ Seq.fill(5)(0.1), 10, mu, sigma))
    assert(!AdaptiveAnn.concentrated(Seq.fill(4)(0.9) ++ Seq.fill(6)(0.1), 10, mu, sigma))
    // boundary counts: exactly at the band is structure
    assert(AdaptiveAnn.concentrated(Seq.fill(5)(band), 10, mu, sigma))
    // an under-filled or empty answer always escalates
    assert(!AdaptiveAnn.concentrated(Seq.fill(4)(0.99), 10, mu, sigma))
    assert(!AdaptiveAnn.concentrated(Nil, 10, mu, sigma))
    // k=1 needs its single hit above the band
    assert(AdaptiveAnn.concentrated(Seq(band + 0.01), 1, mu, sigma))
    assert(!AdaptiveAnn.concentrated(Seq(band - 0.01), 1, mu, sigma))
  }

  test("backgroundStats measures the sampled pair distribution") {
    val (mu, sigma) = AdaptiveAnn.backgroundStats(background)
    // i.i.d.-ish 16-dim vectors: mean near zero, sd near 1/4
    assert(math.abs(mu) < 0.1, s"mu=$mu")
    assert(sigma > 0.1 && sigma < 0.45, s"sigma=$sigma")
    // planted duplicates clear the (capped) escalation band by construction
    assert(AdaptiveAnn.escalationBand(mu, sigma) <= AdaptiveAnn.StructureCosineCap)
  }

  test("planted queries keep the default answer; background queries escalate") {
    val qids = Seq(3L, 250L, 777L)
    val corpus = planted(qids).localCheckpoint(true)
    val (mu, sigma) = AdaptiveAnn.backgroundStats(corpus, 910L)
    val p1 = AnnLsh.topKBatch(corpus, qids ++ Seq(500L), 10).collect()
    val esc = AdaptiveAnn.escalationSet(p1, qids ++ Seq(500L), 10, mu, sigma)
    // the three planted queries are concentrated (10 dups at ~cos 1);
    // 500 has only background neighbors
    assert(esc === Set(500L), s"escalated: $esc")
  }

  test("auto == default on a fully planted corpus (no escalation, no extra cost)") {
    val qids = Seq(3L, 250L, 777L)
    val corpus = planted(qids).localCheckpoint(true)
    val auto = AdaptiveAnn.lshTopKBatchAuto(corpus, qids, 10)
      .collect().map(_.toSeq)
    val default = AnnLsh.topKBatch(corpus, qids, 10)
      .collect().map(_.toSeq)
    assert(auto.toSeq === default.toSeq)
  }

  test("background queries recover the wide dial's answer via escalation") {
    val corpus = background.localCheckpoint(true)
    val qids = Seq(3L, 250L, 777L)
    val auto = AdaptiveAnn.lshTopKBatchAuto(corpus, qids, 10)
      .collect().map(_.toSeq)
    val wide = AnnLsh.topKBatch(corpus, qids, 10, planes = 5)
      .collect().map(_.toSeq)
    assert(auto.toSeq === wide.toSeq)
  }

  test("ivf auto matches the same contract on both corpus shapes") {
    val qids = Seq(3L, 250L, 777L)
    val corpusP = planted(qids).localCheckpoint(true)
    val cents = Ivf.kmeansCentroids(corpusP, 8, 4, inputMaterialized = true)
    val autoP = AdaptiveAnn.ivfTopKBatchAuto(corpusP, cents, qids, 10)
      .collect().map(_.toSeq)
    val defaultP = Ivf.topKBatch(corpusP, cents, qids, 10)
      .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
      .collect().map(_.toSeq)
    assert(autoP.toSeq === defaultP.toSeq)

    val corpusB = background.localCheckpoint(true)
    val centsB = Ivf.kmeansCentroids(corpusB, 8, 4, inputMaterialized = true)
    val autoB = AdaptiveAnn.ivfTopKBatchAuto(corpusB, centsB, qids, 10)
      .collect().map(_.toSeq)
    val wideB = Ivf.topKBatch(corpusB, centsB, qids, 10,
      nprobe = Ivf.wideNprobe(8))
      .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
      .collect().map(_.toSeq)
    assert(autoB.toSeq === wideB.toSeq)
  }

  test("sim_ivf_auto (the registered query key): schema, k rows per query, escalation plan") {
    // the key's exact shape: ivfTopKBatchAuto over the sf embeddings
    // with the same sqrt(n) centroids the other sim_ivf keys use
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .localCheckpoint(true)
    val n = emb.count()
    val cells = math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = Ivf.kmeansCentroids(emb, cells, 8, inputMaterialized = true)
    val qids = 0L until 64L
    val out = AdaptiveAnn.ivfTopKBatchAuto(emb, cents, qids, 5)
    assert(out.columns.toSeq === Seq("q_id", "vec_id", "label", "cosine"))
    val rows = out.collect()
    // every query answers with exactly k rows, none of them itself
    val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQ.keySet === qids.toSet)
    assert(perQ.values.forall(_ === 5), perQ.filter(_._2 != 5).toString)
    assert(!rows.exists(r => r.getLong(0) == r.getLong(1)))
    // the escalation contract, replayed through the same internals the
    // key runs: queries the rule keeps answer with the BUDGET dial's
    // rows (auto's explicit constant-cost first pass since r14),
    // escalated queries with the WIDE dial's rows — auto is the
    // per-query splice of the two probes, nothing else
    val (mu, sigma) = AdaptiveAnn.backgroundStats(emb, n)
    val p1 = Ivf.topKBatch(emb, cents, qids, 5,
      nprobe = Ivf.budgetNprobe(cells)).collect()
    val esc = AdaptiveAnn.escalationSet(p1, qids, 5, mu, sigma)
    val wide =
      if (esc.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else Ivf.topKBatch(emb, cents, esc.toSeq.sorted, 5,
        nprobe = Ivf.wideNprobe(cells)).collect()
    def keyed(rs: Iterable[org.apache.spark.sql.Row]) =
      rs.map(_.toSeq).toSet
    val want = keyed(p1.filterNot(r => esc(r.getLong(0)))) ++ keyed(wide)
    assert(keyed(rows) === want,
      s"auto output is not the default/wide splice (${esc.size} escalated)")
  }

  test("constant-dial advisory: the recorded default-entry-point decision") {
    // docs/indexes.md "Which entry point is the default?": the r14
    // default is the recall-anchored fraction dial, and its linear
    // per-probe cost growth is made non-silent by an advisory past the
    // scale where the dials measurably diverge. The pure rule, pinned:
    val n = AdaptiveAnn.ConstantDialAdvisoryRows
    assert(!AdaptiveAnn.adviseDecision(n), "at the threshold: quiet")
    assert(AdaptiveAnn.adviseDecision(n + 1), "past the threshold: advise")
    assert(!AdaptiveAnn.adviseDecision(100L), "measured-good scale: quiet")
    // the auto entry points ARE the fix — their internal constant-dial
    // probe never re-warns about the problem it solves
    AdaptiveAnn.suppressAdvisory {
      assert(!AdaptiveAnn.adviseDecision(n + 1))
    }
    assert(AdaptiveAnn.adviseDecision(n + 1), "suppression is scoped")
    // threshold sits between the RecallGrid-measured good (10^4) and
    // decayed (10^5) corpus scales
    assert(n > 10000L && n < 100000L)
  }
}
