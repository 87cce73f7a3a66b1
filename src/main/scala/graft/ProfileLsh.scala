package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MinHashLsh
import graft.sources.Tables

/** Stage profiler for dd_minhash_lsh (`MinHashLsh.candidatePairs`) — the
  * measure-first discipline that settled dd_simhash (SURVEY §17.4) and
  * dd_cluster (§17 r13): time each pipeline stage IN ISOLATION, with its
  * input pre-materialized (eager localCheckpoint), so the breakdown
  * attributes wall-clock to real stages instead of re-billing shared
  * lineage. The same noop-sink evaluation as Bench — every column of
  * every row is driven through the plan.
  *
  * Stages (key defaults: k=128, bands=8 → r=16, threshold=0.95,
  * maxBucket=4096):
  *   tokenize   — split/distinct/sort token arrays (scan-speed)
  *   signatures — token-hash + 128 Carter-Wegman minhashes (kernel)
  *   band_join  — band buckets, posexplode, guarded bucket self-join,
  *                first-agree dedup (the candidate stage)
  *   estimate   — signature re-attach join + matchCount/128 ≥ θ filter
  *   sort       — the presentation orderBy(doc_a, doc_b) delta
  *
  * Usage: runMain graft.ProfileLsh <sfDir> [reps]
  */
object ProfileLsh {

  private def timed(reps: Int)(df: => DataFrame): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileLsh <sfDir> [reps]")
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .appName("graft-profile-lsh").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, reps) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    val k = 128; val bands = 8; val threshold = 0.95; val maxBucket = 4096
    val docs = Tables.documents(spark, sfDir)
    docs.write.format("noop").mode("overwrite").save() // reader warm-up

    val tTok = timed(reps)(MinHashLsh.tokenize(docs))
    val tSig = timed(reps)(MinHashLsh.signatures(docs, k))
    val sigs = MinHashLsh.signatures(docs, k).localCheckpoint(true)
    val tBandJoin = timed(reps)(
      MinHashLsh.bandedPairs(sigs, k, bands, maxBucket))
    val pairs = MinHashLsh.bandedPairs(sigs, k, bands, maxBucket)
      .localCheckpoint(true)
    val nCand = pairs.count()
    def estimate(sorted: Boolean): DataFrame = {
      // the same size-aware broadcast decision the shipped operator makes
      // (candidatePairs) — a plain join here would profile a
      // shuffle shape the key never runs once the payload fits the
      // heap-derived budget (found in r14: the hand-rolled stage read
      // 130 s at sf10 while the real path ran 16 s)
      val sigBytes = sigs.count() * (32L + 8L * k)
      val sa = MinHashLsh.maybeBroadcast(
        sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), sigBytes)
      val sb = MinHashLsh.maybeBroadcast(
        sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), sigBytes)
      val est = pairs
        .join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard_est",
          org.apache.spark.sql.graft.ColumnBridge
            .matchCount(col("sig_a"), col("sig_b")).cast("double") / lit(k))
        .filter(col("jaccard_est") >= threshold)
        .select("doc_a", "doc_b", "jaccard_est")
      if (sorted) est.orderBy("doc_a", "doc_b") else est
    }
    val tEst = timed(reps)(estimate(sorted = false))
    val tEstSorted = timed(reps)(estimate(sorted = true))
    val nOut = estimate(sorted = false).count()
    val tFull = timed(reps)(
      MinHashLsh.candidatePairs(docs, k, bands, threshold, maxBucket)
        .localCheckpoint(false).orderBy("doc_a", "doc_b"))

    val nDocs = docs.count()
    println(f"""{"profile":"dd_minhash_lsh","sf":"$sfDir","docs":$nDocs,""" +
      f""""candidates":$nCand,"out":$nOut,""" +
      f""""tokenize":$tTok%.3f,"signatures":$tSig%.3f,""" +
      f""""band_join":$tBandJoin%.3f,"estimate":$tEst%.3f,""" +
      f""""sort_delta":${tEstSorted - tEst}%.3f,"full":$tFull%.3f}""")
  }
}
