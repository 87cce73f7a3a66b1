package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{ConnectedComponents, Dedup, Ivf, MinHashLsh, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming.StreamingAlerts

class ClusterIvfSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  test("connected components merge chained pairs transitively") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val comps = ConnectedComponents.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(5L, 6L).forall(comps(_) == 5L))
    assert(Seq(8L, 9L).forall(comps(_) == 8L))
  }

  test("dedup clusters keep exactly one representative per component") {
    val docs = Tables.documents(spark, sf)
    val clusters = ConnectedComponents.dedupClusters(
      docs, Dedup.ngramJaccard(docs, 0.9)).cache()
    assert(clusters.count() === docs.count())
    val perComp = clusters.groupBy("component")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
    assert(perComp.filter(col("keepers") =!= 1).count() === 0)
    // there really are multi-doc clusters in this corpus
    assert(clusters.filter(!col("keep")).count() > 0)
  }

  /** Ground truth: EVERY pair at jaccard >= threshold, no blocking at all
    * (test-only quadratic scan; integer-form predicate as in the ops). */
  private def exhaustivePairs(docs: org.apache.spark.sql.DataFrame,
      threshold: Double) = {
    val t100 = math.round(threshold * 100)
    val toks = docs.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    val ta = toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
      col("n").as("na"))
    val tb = toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
      col("n").as("nb"))
    ta.crossJoin(tb).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.graft.ColumnBridge
          .sortedIntersectCount(col("toks_a"), col("toks_b"))
          .cast("long").as("inter"), col("na"), col("nb"))
      .filter(col("inter") * lit(100L + t100) >= lit(t100) * (col("na") + col("nb")))
      .select("doc_a", "doc_b")
  }

  test("LSH exactPairs equal an exhaustive all-pairs scan, and clusters match") {
    val docs = Tables.documents(spark, sf)
    val exhaustive = exhaustivePairs(docs, 0.9).cache()
    val lsh = MinHashLsh.exactPairs(docs, 0.9).select("doc_a", "doc_b").cache()
    assert(lsh.exceptAll(exhaustive).count() === 0, "false-positive pairs")
    assert(exhaustive.exceptAll(lsh).count() === 0, "missed true pairs")
    // and the full dd_cluster pipeline (exact-dup collapse + LSH + CC)
    // reproduces the exhaustive clustering
    val got = Dedup.clusterExact(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    val want = ConnectedComponents.dedupClusters(docs, exhaustive).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(got.sameElements(want))
  }

  test("exactPairs and clusterExact are exact on a planted-near-dup corpus") {
    // 40 groups of 5: a 60-token base + mutated copies with 0-6 token
    // swaps, spanning jaccard 1.0 → 0.87 across the 0.9 boundary
    val rnd = new scala.util.Random(123)
    val vocab = (1 to 400).map(i => s"w$i")
    var id = -1L
    val docs = (1 to 40).flatMap { _ =>
      val base = rnd.shuffle(vocab).take(60)
      (0 to 4).map { _ =>
        val swaps = rnd.nextInt(7)
        val mutated = base.drop(swaps) ++ rnd.shuffle(vocab.diff(base)).take(swaps)
        id += 1
        (id, rnd.shuffle(mutated).mkString(" "))
      }
    }.toDF("doc_id", "text")
    val exhaustive = exhaustivePairs(docs, 0.9).cache()
    val lsh = MinHashLsh.exactPairs(docs, 0.9).select("doc_a", "doc_b").cache()
    assert(lsh.exceptAll(exhaustive).count() === 0, "false positives")
    assert(exhaustive.exceptAll(lsh).count() === 0, "missed true pairs")
    val got = Dedup.clusterExact(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    val want = ConnectedComponents.dedupClusters(docs, exhaustive).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(got.sameElements(want))
  }

  test("exactPairs stays exact under a planted 64-bit token-hash collision (string fallback)") {
    // "a\u0080" and "ba" collide in the engine-neutral 64-bit token hash:
    // both 31-poly folds give 97·31+128 = 98·31+97 = 3135 before the
    // splitmix64 finisher (a bijection), so the hashed intersect kernel
    // would overcount pairs mixing them — the injectivity check must
    // detect the collision and route the verify through token strings
    val c1 = "a\u0080"
    val c2 = "ba"
    val filler = (1 to 30).map(i => s"f$i")
    import spark.implicits._
    val docs = Seq(
      // doc 0 and doc 1: identical but for c1↔c2 — true jaccard
      // 29/31 ≈ 0.935 of the 0.95 threshold... compute: |A∩B|=30,
      // |A∪B|=32 → 0.9375; hashed intersect would see 31/31 = 1.0
      (0L, (filler :+ c1).mkString(" ")),
      (1L, (filler :+ c2).mkString(" ")),
      (2L, (1 to 31).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val toks = MinHashLsh.tokenize(docs).localCheckpoint(true)
    assert(!MinHashLsh.hashInjectiveOnVocab(toks),
      "planted collision not detected — fallback never engages")
    // at θ=0.95 the colliding pair (true j=0.9375) must NOT surface;
    // a hashed-only verify would see j=1.0 and emit it
    val got = MinHashLsh.exactPairsFromToks(toks, 0.95)
      .select("doc_a", "doc_b").collect()
    assert(got.isEmpty,
      s"collision inflated the verify: ${got.mkString(",")}")
    // and at θ=0.9 the pair surfaces with the TRUE jaccard
    val loose = MinHashLsh.exactPairsFromToks(toks, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(loose.toSeq === Seq((0L, 1L, 30.0 / 32.0)))
  }

  test("connected components: distributed rounds throw on non-convergence when strict") {
    // a 200-vertex chain needs ~log2(200) pointer-jumping rounds —
    // maxIter=2 is below that. Small graphs normally take the exact
    // driver union-find (no convergence cap), so force the distributed
    // label rounds with a driver bound of -1
    val chain = (1L to 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      ConnectedComponents.componentsImpl(chain, maxIter = 2, strict = true,
        pairsDistinct = false, driverEdgeRowBound = -1).collect()
    }
    // non-strict returns (partial) labels instead
    assert(ConnectedComponents.componentsImpl(chain, maxIter = 2,
      strict = false, pairsDistinct = false, driverEdgeRowBound = -1)
      .count() === 200)
    // under the driver bound the same graph solves exactly at any cap
    val exact = ConnectedComponents.components(chain, maxIter = 2).collect()
    assert(exact.length === 200)
    assert(exact.forall(_.getAs[Long]("comp") === 1L))
  }

  test("k-means IVF: full probe equals brute force on the real corpus") {
    // labels scrambled so nothing supervised can help — cells must be
    // LEARNED (the round-2 sim_ivf weakness: label-derived cells)
    val emb = Tables.embeddings(spark, sf)
      .withColumn("label", pmod(hash(col("vec_id") + 3), lit(977)).cast("int"))
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    // nprobe >= cell count → the probe degenerates to an exact scan
    val all = Ivf.topK(emb, 0L, 10, nprobe = 64).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(all === brute)
  }

  test("k-means IVF: partial probe keeps recall on a cosine-clustered corpus") {
    // the test corpus's top-10 cosines sit at the ~0.3 background (no
    // cluster structure → any cell index has nothing to exploit), so
    // recall is demonstrated on a corpus with PLANTED cosine clusters:
    // 20 gaussian centers × 25 members, noise << center norm. Labels are
    // deliberately uninformative (vec_id mod 7) — cells must be learned.
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat), i % 7)
    }.toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteForceTopK(vecs, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val partial = Ivf.topK(vecs, 0L, 10, nprobe = 3).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = partial.intersect(brute).size
    assert(recall >= 8, s"recall@10 = $recall/10 with nprobe=3 of ~23 cells")
  }

  test("clusterExact long chains: solved exactly under the driver bound at any cap") {
    // 100 sliding-window docs over a 200-token vocab (windows never
    // wrap): consecutive windows share 59 of 60 tokens, near-dup edges
    // reach distance <= 3, so the cluster graph is a ~33-diameter path.
    // Its edge list is far under the driver union-find bound, so even a
    // maxIter that would starve label propagation solves it exactly —
    // the convergence cap only governs the distributed at-scale path
    // (pinned in the componentsImpl test above)
    val vocab = (1 to 200).map(i => s"c$i")
    val docs = (0 until 100).map { i =>
      (i.toLong, (i until i + 60).map(vocab(_)).mkString(" "))
    }.toDF("doc_id", "text")
    val comps = Dedup.clusterExact(docs, 0.9, maxIter = 2).collect()
    assert(comps.length === 100)
    assert(comps.forall(_.getAs[Long]("component") === 0L))
  }

  test("IVF index persists: saved/loaded centroids probe identically") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Ivf.kmeansCentroids(emb, 23, 8)
    val path = java.nio.file.Files.createTempDirectory("ivf").toString + "/centroids.json"
    Ivf.save(cents, path, spark)
    val loaded = Ivf.load(path, spark)
    // the JSON sidecar round-trips every float BIT-exactly — the loaded
    // index is the saved one, not an approximation of it
    assert(loaded.length === cents.length)
    loaded.zip(cents).foreach { case (l, c) => assert(l.sameElements(c)) }
    val a = Ivf.topKWith(emb, cents, 0L, 10, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val b = Ivf.topKWith(emb, loaded, 0L, 10, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(a.sameElements(b))
    // one learned index serves many queries without re-fitting
    val q7 = Ivf.topKWith(emb, loaded, 7L, 5, nprobe = 3).collect()
    assert(q7.length === 5 && !q7.exists(_.getLong(0) == 7L))
  }

  test("legacy Java-serialized index formats are rejected with a rebuild message") {
    val dir = java.nio.file.Files.createTempDirectory("legacyidx").toString
    // a pre-v1 centroid file: Java serialization, not JSON
    val binPath = s"$dir/centroids.json"
    val oos = new java.io.ObjectOutputStream(new java.io.FileOutputStream(binPath))
    try oos.writeObject(Array(Array(1.0f))) finally oos.close()
    val e1 = intercept[IllegalStateException] { Ivf.load(binPath, spark) }
    assert(e1.getMessage.contains("legacy"))
    // a pre-v1 signature index: params.bin present, params.json absent
    val sigDir = java.nio.file.Files.createTempDirectory("legacysig").toString
    val oos2 = new java.io.ObjectOutputStream(
      new java.io.FileOutputStream(s"$sigDir/params.bin"))
    try oos2.writeObject(Array(128, 16)) finally oos2.close()
    val e2 = intercept[IllegalStateException] {
      graft.operators.IncrementalDedup.openSignatures(spark, sigDir)
    }
    assert(e2.getMessage.contains("legacy") && e2.getMessage.contains("params.bin"))
    // same rejection for the LSH index layout
    val e3 = intercept[IllegalStateException] {
      graft.operators.AnnLsh.openIndex(spark, sigDir)
    }
    assert(e3.getMessage.contains("legacy"))
  }

  test("IVF top-k self-consistency and brute-force agreement inside probed cells") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = Ivf.topK(emb, 0L, 10, nprobe = 3).collect()
    assert(ivf.length === 10)
    val cos = ivf.map(_.getAs[Double]("cosine"))
    assert(cos.sameElements(cos.sorted.reverse))
    val bruteBest = Similarity.bruteForceTopK(emb, 0L, 1)
      .collect().head.getAs[Double]("cosine")
    // 1e-6: brute force scores with the decimal-quantized oracle cosine,
    // the IVF re-rank with the double kernel — same ranking, ~1e-7 gap
    assert(ivf.forall(_.getAs[Double]("cosine") <= bruteBest + 1e-6))
  }

  test("k-means dense and shuffle rounds learn bit-identical centroids") {
    val emb = graft.sources.Tables.embeddings(spark, sf).localCheckpoint(true)
    val init = graft.operators.Ivf.kmeansCentroids(emb, 12, iters = 1,
      inputMaterialized = true)
    val dim = init.head.length
    val assigned = graft.operators.Ivf.withCell(emb, init)
      .select(org.apache.spark.sql.functions.col("cell"),
        org.apache.spark.sql.functions.col("embedding"))
    val dense = graft.operators.Ivf.denseRound(assigned, 12, dim, init)
    val shuffle = graft.operators.Ivf.shuffleRound(assigned, 12, dim, init)
    assert(dense.map(_.toSeq).toSeq === shuffle.map(_.toSeq).toSeq)
  }

  test("IVF batched probe is row-identical to per-query probes") {
    val emb = graft.sources.Tables.embeddings(spark, sf).localCheckpoint(true)
    val cents = graft.operators.Ivf.kmeansCentroids(emb, 16, iters = 4)
    val qids = Seq(0L, 7L, 31L)
    val batch = graft.operators.Ivf.topKBatch(emb, cents, qids, k = 10, nprobe = 3)
      .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine")))
    val single = qids.flatMap { q =>
      graft.operators.Ivf.topKWith(emb, cents, q, k = 10, nprobe = 3)
        .collect()
        .map(r => (q, r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    }
    assert(batch.toSeq === single)
  }

  test("AnnLsh batched probe is row-identical to per-query probes") {
    val emb = graft.sources.Tables.embeddings(spark, sf).localCheckpoint(true)
    val qids = Seq(0L, 7L, 31L)
    val batch = graft.operators.AnnLsh.topKBatch(emb, qids, k = 10)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine")))
    val single = qids.flatMap { q =>
      graft.operators.AnnLsh.topK(emb, q, k = 10)
        .collect()
        .map(r => (q, r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    }
    assert(batch.toSeq === single)
  }

  test("batched probes fail fast on query ids absent from the corpus") {
    // a silently-missing q_id group is indistinguishable from "no
    // neighbors" — a service pairing batch answers with queries would
    // misalign; both families carry topKIndexed's fail-fast contract
    val emb = graft.sources.Tables.embeddings(spark, sf).localCheckpoint(true)
    val cents = graft.operators.Ivf.kmeansCentroids(emb, 8, iters = 2)
    val eIvf = intercept[IllegalArgumentException] {
      graft.operators.Ivf.topKBatch(emb, cents, Seq(0L, 99999999L), k = 5)
    }
    assert(eIvf.getMessage.contains("99999999"))
    val eLsh = intercept[IllegalArgumentException] {
      graft.operators.AnnLsh.topKBatch(emb, Seq(0L, 99999999L), k = 5)
    }
    assert(eLsh.getMessage.contains("99999999"))
  }

  test("regex token stats: alpha runs equal whitespace tokens on this corpus") {
    val docs = Tables.documents(spark, sf)
    val r = TextAnalysis.regexTokenStats(docs)
    // corpus is lowercase words + single spaces → the three counts relate
    assert(r.filter(col("n_alpha_runs") =!= col("n_nonspace")).count() === 0)
    assert(r.filter(col("n_bpe_chunks") < col("n_alpha_runs")).count() === 0)
  }

  test("streaming dedup covers exactly the distinct key set") {
    val stream = StreamingAlerts.readEvents(spark, sf)
    val q = StreamingAlerts.dedupFirstEvents(stream)
      .select("user_id", "event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = graft.operators.TimeSeries.base(spark, sf)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
  }
}
