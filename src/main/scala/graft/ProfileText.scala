package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Contamination, Dedup, MinHashLsh, SimHash}
import graft.sources.Tables

/** Three-scale-point density study for the TEXT dedup family (r17 —
  * the text analog of [[ProfileEmb]]'s embedding study): per-stage
  * candidate counts and full-key times for dd_minhash_lsh, dd_simhash,
  * dd_containment and dd_cluster at one corpus size per invocation.
  * tools/text_density.py aggregates the per-point JSON lines into
  * TEXT_DENSITY.json and gates the per-decade slopes.
  *
  * The scale points come from IN-MEMORY replication of a source
  * documents table using ScaleUp's exact salt scheme (every replica's
  * tokens prefixed `r<id>§`, ScaleUp.scala:118-140): each replica's
  * internal near-duplicate structure is identical to the original while
  * cross-replica token overlap is zero, so TRUE duplicate density is
  * constant by construction and any measured candidate-density growth
  * is the algorithm's, not the generator's.
  *
  * Usage: runMain graft.ProfileText <sfDir> [factor] [reps]
  *   factor ≥ 1 replicates the corpus in memory before profiling.
  */
object ProfileText {

  private def timed(reps: Int)(df: => DataFrame): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileText <sfDir> [factor] [reps]")
    val sfDir = args(0)
    val factor = if (args.length > 1) args(1).toInt else 1
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder()
      .appName("graft-profile-text").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, factor, reps) finally spark.stop()
  }

  /** ScaleUp's documents replication, in memory (ScaleUp.scala:135-140
    * verbatim semantics: per-replica doc_id shift, every token salted
    * with `r<replica>§`). */
  private[graft] def replicateDocs(docs: DataFrame, factor: Int): DataFrame = {
    if (factor <= 1) docs
    else {
      val off = docs.agg(max(col("doc_id")).cast("long")).head.getLong(0) + 1L
      (0 until factor).map { r =>
        docs
          .withColumn("doc_id", col("doc_id") + lit(off * r))
          .withColumn("text", array_join(
            transform(split(col("text"), " "), t => concat(lit(s"r$r§"), t)), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.reduce(_ unionByName _)
    }
  }

  def run(spark: SparkSession, sfDir: String, factor: Int, reps: Int): Unit = {
    val k = 128; val bands = 8; val maxBucket = 4096
    val docs = replicateDocs(Tables.documents(spark, sfDir), factor)
      // 32 blocks regardless of factor — the same realistic-layout rule
      // as ScaleUp's writer (a one-partition union caps scans at 1 task)
      .repartition(32)
      .localCheckpoint(true)
    val nDocs = docs.count()

    // --- dd_minhash_lsh: banded candidates → signature-estimate verify ---
    val sigs = MinHashLsh.signatures(docs, k).localCheckpoint(true)
    val mhCand = MinHashLsh.bandedPairs(sigs, k, bands, maxBucket).count()
    val mhOut = MinHashLsh.candidatePairs(docs, k, bands, 0.95, maxBucket).count()
    val mhFull = timed(reps)(
      MinHashLsh.candidatePairs(docs, k, bands, 0.95, maxBucket)
        .localCheckpoint(false).orderBy("doc_a", "doc_b"))

    // --- dd_simhash: pigeonhole-blocked candidates → Hamming verify ---
    // the candidate stage is the key's own internals (blockKeys +
    // guarded bucket self-join, SimHash.scala:113-125): every raw row
    // pays one bit_count verify, so raw-row count IS the verify volume
    val simCand = MinHashLsh.guardedBucketPairsRaw(
      SimHash.blockKeys(SimHash.fingerprints(docs), 8),
      Seq("blk", "key"), "doc_id", maxBucket, carry = Seq("fp"))._1.count()
    val simOut = SimHash.nearDupPairs(docs).count()
    val simFull = timed(reps)(SimHash.nearDupPairs(docs))

    // --- dd_containment: prefix-filter candidates → gram-hash verify ---
    // candidate stage replayed from Dedup.containment:450-520 (the same
    // df-ranked prefix + positional PPJoin prune, stopping at the
    // distinct that feeds the verify) — a measurement twin, like
    // ProfileLsh's estimate stage
    val t100 = 80L
    val toks = Contamination.gramSets(docs, 3)
      .select(col("doc_id"), array_sort(col("grams")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .localCheckpoint(true)
    val tokRows = toks.select(col("doc_id"), col("n"),
      explode(col("toks")).as("token"))
      .select(col("doc_id"), col("n"), xxhash64(col("token")).as("tok_h"))
    val dfTab = tokRows.groupBy("tok_h").agg(count(lit(1)).as("df"))
    val prefLen = (col("n")
      - floor((lit(t100) * col("n") + lit(99L)) / lit(100.0)).cast("long")
      + lit(1L))
    val wPref = Window.partitionBy("doc_id").orderBy(col("df"), col("tok_h"))
    val ranked = tokRows.join(dfTab, "tok_h")
      .withColumn("rn", row_number().over(wPref))
      .select("doc_id", "n", "tok_h", "rn")
    val prefix = ranked.filter(col("rn") <= prefLen)
      .select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("tok_h"), col("rn").as("rn_a"))
    val ctCand = prefix
      .join(ranked.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("tok_h"), col("rn").as("rn_b")), "tok_h")
      .filter(col("doc_a") =!= col("doc_b") &&
        col("n_b") * lit(100L) >= lit(t100) * col("n_a") &&
        (lit(1L) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")))
          * lit(100L) >= lit(t100) * col("n_a"))
      .select("doc_a", "doc_b").distinct().count()
    val ctOut = Dedup.containment(docs).count()
    val ctFull = timed(reps)(Dedup.containment(docs))

    // --- dd_cluster: exact collapse → rep-corpus LSH edges → CC ---
    val clToks = MinHashLsh.tokenize(docs)
      .withColumn("norm_hash",
        md5(concat_ws(" ", col("toks")).cast("binary")))
      .withColumn("rep_id",
        min(col("doc_id")).over(Window.partitionBy(col("norm_hash"))))
      .select("doc_id", "rep_id", "toks", "n")
      .localCheckpoint(true)
    val repToks = clToks.filter(col("doc_id") === col("rep_id"))
      .select("doc_id", "toks", "n").localCheckpoint(true)
    val clReps = repToks.count()
    val clEdges = MinHashLsh.exactPairsFromToks(repToks, 0.9).count()
    val clFull = timed(reps)(Dedup.clusterExact(docs))

    println(f"""{"profile":"text_dedup","sf":"$sfDir","factor":$factor,""" +
      f""""docs":$nDocs,""" +
      f""""minhash":{"candidates":$mhCand,"out":$mhOut,"full":$mhFull%.3f},""" +
      f""""simhash":{"candidates":$simCand,"out":$simOut,"full":$simFull%.3f},""" +
      f""""containment":{"candidates":$ctCand,"out":$ctOut,"full":$ctFull%.3f},""" +
      f""""cluster":{"reps":$clReps,"edges":$clEdges,"full":$clFull%.3f}}""")
  }
}
