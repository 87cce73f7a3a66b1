package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding — the scale path for near-dup detection
  * (SURVEY.md §2 dd_minhash_lsh). Estimates the same token-set Jaccard as
  * Dedup.ngramJaccard but never enumerates non-candidate pairs:
  *
  *   1. k Carter-Wegman min-hashes per doc → signature (one narrow map).
  *   2. signatures cut into b bands of r rows; each band hashed to a
  *      bucket key → docs exploded to b rows.
  *   3. docs sharing any (band, bucket) become candidate pairs — the only
  *      shuffle keys are the band buckets, so work tracks collision
  *      density, not corpus². Defaults are b=8, r=16 (k=128): pairs at
  *      Jaccard j collide per band with prob j^16, so a j=0.95 near-dup
  *      is caught with ~99% probability while this corpus's hot j≈0.6
  *      background collides at only ~0.4% — band width is the knob that
  *      keeps hot-bucket pair volume from exploding on self-similar data.
  *   4. candidates verified with the exact signature-agreement estimate
  *      and thresholded.
  *
  * At 100 TB this is the dedup entry point: stages 1-2 are scan-speed,
  * stage 3's self-join is bucket-local, and the verified pairs feed a
  * connected-components pass if full clustering is needed.
  */
object MinHashLsh {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Hot-bucket skew guard for bucket-local candidate self-joins — the
    * one first-order 100-TB risk in any LSH banding scheme: a degenerate
    * bucket with m members (boilerplate-heavy web text, constant vectors)
    * emits m² candidate rows before any dedup, stalling the stage however
    * well the average bucket behaves.
    *
    * Buckets at or under `maxBucket` members pair exhaustively (the
    * normal path — candidate volume tracks collision density). Oversized
    * buckets degrade to HUB PAIRING: each member is paired only with the
    * bucket's minimum id — m−1 candidates instead of m(m−1)/2, so
    * per-bucket work is linear no matter how degenerate the key.
    * Precision is unaffected (callers verify every candidate downstream);
    * recall inside an oversized bucket degrades gracefully — and in the
    * dominant degenerate case (a bucket of mutual near-dups) the
    * verified star still connects the whole cluster at graph diameter 2,
    * so connected-components output is unchanged AND converges in O(1)
    * rounds (a neighbour-chain here would be an O(m)-diameter path —
    * poison for iterative label propagation). Oversized buckets and an
    * upper bound on the skipped candidate volume are logged.
    *
    * Input is materialized once (localCheckpoint) and feeds the
    * diagnostic count, the small-bucket join and the hub pass — no
    * recomputation of the (possibly expensive) bucketing lineage. */
  private[graft] def guardedBucketPairs(rows: DataFrame, bucketCols: Seq[String],
      idCol: String, maxBucket: Int): DataFrame = {
    val (raw, _, _) = guardedBucketPairsRaw(rows, bucketCols, idCol, maxBucket)
    raw.select("id_a", "id_b").distinct()
  }

  /** Primitive form of [[guardedBucketPairs]]: one OUTPUT ROW PER
    * CO-BUCKET OCCURRENCE (a pair sharing three buckets appears three
    * times — callers either `distinct()` on the ids or, cheaper, filter
    * to a canonical occurrence computed from carried per-doc state, the
    * way SimHash keeps only the first agreeing chunk combination and
    * never shuffles the pair stream at all).
    *
    * Output: bucketCols ++ (id_a, id_b) ++ (<c>_a, <c>_b per carried
    * column) ++ is_hub. Carried columns ride through both the exhaustive
    * small-bucket join and the hub-star path (the hub's values come from
    * the bucket-minimum struct), so downstream verification needs no
    * join back to the source.
    *
    * Returns the pair rows, the oversized-bucket count (zero means no hub
    * rows exist, so a caller whose canonical-occurrence filter is exact
    * (first-agree) can skip its fallback distinct entirely), and the
    * CHECKPOINTED bucket rows — hub-mode callers derive their oversize
    * masks from that materialization instead of re-running the bucketing
    * lineage. */
  private[graft] def guardedBucketPairsRaw(rows: DataFrame, bucketCols: Seq[String],
      idCol: String, maxBucket: Int,
      carry: Seq[String] = Nil): (DataFrame, Long, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val parts = bucketCols.map(col)
    // LAZY checkpoint (r20): the eager form ran a dedicated
    // materialization job before the diagnostic aggregate — the
    // overStats head() below is the first action and materializes the
    // same blocks inside its own job; every later consumer (the
    // window, both join sides, hub masks) reads the checkpointed RDD
    // exactly as before
    val src = rows.localCheckpoint(false)
    val overStats = src.groupBy(parts: _*).agg(count(lit(1)).as("m"))
      .filter(col("m") > maxBucket)
      .agg(count(lit(1)).as("n_over"),
        coalesce(sum((col("m") - 1) * (col("m") - 2)), lit(0L)).cast("long")
          .as("skipped_x2"))
      .head()
    if (overStats.getLong(0) > 0) {
      log.warn(s"${overStats.getLong(0)} oversized LSH bucket(s) " +
        s"(> $maxBucket members): pairing degraded to hub stars, " +
        s"<= ${overStats.getLong(1) / 2} candidate pairs skipped")
    }
    // The window stays even when the eager diagnostic above has proved
    // nOver == 0 and the small/big split is vacuous. The "obvious"
    // optimization — skip the window, self-join the checkpointed rows
    // directly — was built and MEASURED OFF (r14 A/B at sf1, same
    // session): dd_cluster 8.38 -> 11.74 s, dd_minhash_lsh 6.22 ->
    // 9.34 s WITH the skip. The window's one exchange+sort is shared by
    // BOTH self-join sides (ReusedExchange feeding the sort-merge join
    // directly), while the windowless join re-shuffles and re-sorts the
    // bucket rows per side — two exchanges cost more than one window.
    val w = Window.partitionBy(parts: _*)
    val withM = src.withColumn("__m", count(lit(1)).over(w))
    val small = withM.filter(col("__m") <= maxBucket).drop("__m")
    val a = small.as("a")
    val b = small.as("b")
    val joinCond = bucketCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    val smallCols = bucketCols.map(c => col(s"a.$c").as(c)) ++
      Seq(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b")) ++
      carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))) :+
      lit(false).as("is_hub")
    val smallPairs = a.join(b, joinCond).select(smallCols: _*)
    // hub = bucket-minimum id; its carried values come along in the min
    // struct (ids are unique, so the struct min IS the min-id row)
    val hubStruct = min(struct((Seq(col(idCol)) ++ carry.map(col)): _*)).over(w)
    val big = withM.filter(col("__m") > maxBucket)
      .withColumn("__hub", hubStruct)
      .filter(col(idCol) =!= col(s"__hub.$idCol"))
    val bigCols = bucketCols.map(c => col(c).as(c)) ++
      Seq(col(s"__hub.$idCol").as("id_a"), col(idCol).as("id_b")) ++
      carry.flatMap(c => Seq(col(s"__hub.$c").as(s"${c}_a"), col(c).as(s"${c}_b"))) :+
      lit(true).as("is_hub")
    val bigPairs = big.select(bigCols: _*)
    (smallPairs.unionByName(bigPairs), overStats.getLong(0), src)
  }

  /** Signature: each token is hashed ONCE (engine-neutral 31-polynomial
    * mod 2³¹−1 — reproducible in plain SQL, see TokenHashes), then run
    * through k Carter-Wegman affine permutations h_i(x) = (a_i·x + b_i)
    * mod (2³¹−1) — a 2-universal family, so the minhash guarantees hold
    * over any distinct token-hash values. The modular form also stays
    * inside ANSI-mode arithmetic (no Long overflow). Entirely per-row:
    * signature computation needs no shuffle at any corpus size. */
  def signatures(documents: DataFrame, k: Int = 128): DataFrame =
    signaturesFromToks(tokenize(documents), k)

  /** The k seeded Carter-Wegman (a, b) pairs behind [[signaturesFromToks]]
    * — exposed so the DuckDB oracle embeds the SAME constants. */
  private[graft] def cwParams(k: Int): Array[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Array.fill(k)((1L + rng.nextInt(Int.MaxValue - 1).toLong,
      rng.nextInt(Int.MaxValue).toLong))
  }

  /** (doc_id, toks, n): sorted distinct token array + set size per doc —
    * the ONE tokenization pass every Jaccard-family stage consumes
    * (signatures, exact verification, exact-duplicate norm hashing).
    * Callers running several stages should materialize this once. */
  def tokenize(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
        array_sort(array_distinct(split(col("text"), " "))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))

  /** [[signatures]] over a pre-tokenized (doc_id, toks) frame — min-hash
    * is order-insensitive, so the sorted array yields the same signature
    * as raw tokenization. */
  def signaturesFromToks(toks: DataFrame, k: Int = 128): DataFrame = {
    val p = 2147483647L // Mersenne prime 2^31 - 1
    val ab = cwParams(k)
    toks.select(
      col("doc_id"),
      // native token-hash kernel: engine-neutral 31-poly rolling hash
      // in one codegen loop (contract + SQL twin in TokenHashes's doc,
      // property-specced against a driver-side reference)
      org.apache.spark.sql.graft.ColumnBridge
        .tokenHashesMod(col("toks"), p).as("hs"))
      .select(
        col("doc_id"),
        // one native codegen pass: k×tokens tight loop per row
        // (org.apache.spark.sql.graft.MinHashSignature)
        org.apache.spark.sql.graft.ColumnBridge
          .minhashSig(col("hs"), ab.map(_._1), ab.map(_._2), p).as("sig"))
  }

  /** Banded bucket rows (doc_id, bkts, band, bucket): the per-doc array
    * of band bucket hashes plus one exploded row per band. The banded
    * join carries the narrow int keys and the bands-length bucket array —
    * signatures/tokens are re-attached to pair ids afterwards, so the
    * shuffle payload stays small no matter how hot the buckets are. */
  private def banded(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sigs.select(
      col("doc_id"),
      // native band-bucket kernel (≡ transform(sequence(...),
      // b -> hash(slice(sig, b·rows+1, rows), b)), property-specced)
      org.apache.spark.sql.graft.ColumnBridge
        .bandBuckets(col("sig"), bands, rows).as("bkts"))
      .select(col("doc_id"), col("bkts"),
        posexplode(col("bkts")).as(Seq("band", "bucket")))
  }

  /** Deduplicated candidate id pairs from the banded self-join, with the
    * hot-bucket guard bounding per-bucket pair volume.
    *
    * Deduplication is SHUFFLE-FREE on the main path: both docs' bucket
    * arrays ride through the join, and a pair is kept only at its FIRST
    * agreeing band — flat element_at arithmetic inside whole-stage
    * codegen, no distinct over the (possibly quadratic-ish) candidate
    * stream. Only hub-star rows from oversized buckets can duplicate a
    * pair, so the fallback distinct runs exactly when such buckets exist
    * (and then over guarded, linear volume). */
  private[graft] def bandedPairs(sigs: DataFrame, k: Int, bands: Int,
      maxBucket: Int = 4096): DataFrame =
    firstAgreeBucketPairs(banded(sigs, k, bands), "bkts", "band",
        Seq("band", "bucket"), "doc_id", maxBucket, bands)
      .withColumnRenamed("id_a", "doc_a")
      .withColumnRenamed("id_b", "doc_b")

  /** Deduplicated co-bucket id pairs for any multi-table LSH scheme whose
    * per-doc table buckets live in an array column: `rows` is the
    * exploded (id, arr, pos, bucket-key...) form, and a pair is kept only
    * at the FIRST position where the two arrays agree — flat element_at/
    * bitmask arithmetic inside whole-stage codegen, no distinct over the
    * candidate stream. Hub-star rows from oversized buckets are always
    * kept; the fallback distinct runs exactly when such buckets exist
    * (and then over guarded, linear volume). */
  private[graft] def firstAgreeBucketPairs(rows: DataFrame, arrCol: String,
      posCol: String, keyCols: Seq[String], idCol: String, maxBucket: Int,
      n: Int): DataFrame = {
    require(n >= 1 && n <= 32, s"table/band count must be in [1, 32] (got $n)")
    val (raw, nOver, bucketRows) = guardedBucketPairsRaw(rows, keyCols, idCol,
      maxBucket, carry = Seq(arrCol))
    // agreeBits: bit b set iff the pair's table-b buckets collide; the
    // exploded position itself always agrees, so "first agreeing table"
    // means no lower bit is set
    val agreeBits = (0 until n).map { b =>
      when(element_at(col(s"${arrCol}_a"), b + 1) === element_at(col(s"${arrCol}_b"), b + 1),
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val earlierMask =
      expr(s"shiftleft(CAST(1 AS BIGINT), $posCol)") - lit(1L)
    if (nOver == 0) {
      raw.filter(col("is_hub") || (agreeBits.bitwiseAND(earlierMask) === 0L))
        .select(col("id_a"), col("id_b"))
    } else {
      // an agreement at an OVERSIZED bucket produced no small-bucket row
      // (only hub stars), so it must not suppress the pair's first
      // small-bucket occurrence: mask those positions out of agreeBits
      // via a per-doc oversize bitmask (shared bucket ⇒ shared status, so
      // one side's mask suffices). This branch runs only in degenerate
      // hub mode, where the guard has already bounded the volumes; both
      // scans below read the guard's CHECKPOINTED bucket rows, not the
      // original bucketing lineage.
      val overKeys = bucketRows.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__m"))
        .filter(col("__m") > maxBucket)
        .drop("__m")
      val overMask = bucketRows.join(overKeys, keyCols)
        .groupBy(col(idCol))
        .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $posCol)")).as("__over"))
      raw
        .join(overMask.select(col(idCol).as("id_a"), col("__over")),
          Seq("id_a"), "left")
        .withColumn("__over", coalesce(col("__over"), lit(0L)))
        .filter(col("is_hub") || (agreeBits
          .bitwiseAND(bitwise_not(col("__over")))
          .bitwiseAND(earlierMask) === 0L))
        .select(col("id_a"), col("id_b"))
        .distinct()
    }
  }

  /** Candidate pairs via banding + signature-agreement estimate,
    * unsorted (the plan carries the banding/verify kernels, pinned in
    * PlanQualitySpec).
    *
    * Signatures are materialized once (localCheckpoint) and feed the
    * banding AND both sides of the estimate join — without it every
    * action recomputes the tokenize+minhash scan three times over.
    *
    * The r14 stage profile at sf1 (50k docs, 18.7M banded candidates,
    * 2.6M output pairs: tokenize 0.24 s, signatures 0.19 s, band join
    * 1.27 s, estimate 0.65 s, sort +0.97 s, full 3.47 s) found that the
    * estimate join attached signatures to the 18.7M-row pair stream
    * through two SHUFFLE joins; the signature table itself is ~1 KB/doc,
    * so under [[maxBroadcastVerifyBytes]] it broadcasts (same dial as the
    * exactPairs verify) and the candidate stream flows join→join→filter
    * in one fused stage, never shuffling a pair row. A caller that sorts
    * the pairs should put a lazy localCheckpoint before the sort: the
    * range sampler would otherwise re-execute the whole join lineage
    * (the dd_minhash_lsh keys do). */
  def candidatePairs(documents: DataFrame, k: Int = 128, bands: Int = 8,
      threshold: Double = 0.9, maxBucket: Int = 4096): DataFrame = {
    // LAZY (r20): the banding guard's first action materializes the
    // signature blocks in the same job — one scheduler round-trip
    // instead of a standalone checkpoint job; all downstream readers
    // (banding, both estimate sides, the count) share the one RDD
    val sigs = signatures(documents, k).localCheckpoint(false)
    val pairs = bandedPairs(sigs, k, bands, maxBucket)
    val sigBytes = sigs.count() * (32L + 8L * k)
    val sa = maybeBroadcast(
      sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), sigBytes)
    val sb = maybeBroadcast(
      sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), sigBytes)
    // r21: the estimate kernel EARLY-EXITS once the remaining signature
    // positions cannot reach the threshold's decision floor (the r20
    // verdict's "prefix gate", generalized — the full estimate still
    // decides every survivor). estMinCount is the smallest integer count
    // whose IEEE quotient passes the filter, computed driver-side, so
    // survivor estimates are bit-identical and non-survivors fail in
    // both forms; on the j≈0.6 background that dominates the candidate
    // stream at θ=0.95 the scan bails after ~18 of 128 positions.
    pairs
      .join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard_est",
        org.apache.spark.sql.graft.ColumnBridge
          .matchCountMin(col("sig_a"), col("sig_b"), estMinCount(k, threshold))
          .cast("double") / lit(k))
      .filter(col("jaccard_est") >= threshold)
      .select("doc_a", "doc_b", "jaccard_est")
  }

  /** Verified near-dup pairs at `threshold`, generated the scale-safe
    * way: banded LSH candidates → exact sorted-intersection verification
    * on hashed token arrays (the same integer-form predicate as
    * Dedup.ngramJaccard; see [[exactPairsFromToks]] for the exactness
    * argument).
    *
    * Precision is exact: every emitted pair is verified jaccard ≥
    * threshold — no false positives, ever. Recall is governed by the
    * band shape, not guaranteed: b=16 × r=8 misses a j=0.9 boundary pair
    * with probability (1−0.9⁸)¹⁶ ≈ 1.2e-4, vanishing fast above the
    * threshold. Raise k/bands for stricter recall. Downstream clustering
    * tolerates the tail gracefully — a missed edge inside a dense
    * duplicate cluster is redundant for connectivity (validated:
    * identical components vs an exhaustive ground truth at sf0.001,
    * sf0.01 and sf0.1, plus a planted-boundary corpus, in
    * ClusterIvfSpec).
    *
    * Unlike ngramJaccard this needs no blocking column: candidate
    * generation is unsupervised (band buckets), so cross-block near-dups
    * are found and nothing quadratic ever runs; the prefilter kills the
    * j≈0.6 background before token arrays are ever shuffled. */
  def exactPairs(documents: DataFrame, threshold: Double = 0.9, k: Int = 128,
      bands: Int = 16, maxBucket: Int = 4096): DataFrame =
    // materialize the tokenization ONCE: it feeds the signature pass AND
    // both sides of the verify join, and each would otherwise re-run the
    // tokenize corpus scan on every action
    exactPairsFromToks(tokenize(documents).localCheckpoint(false),
      threshold, k, bands, maxBucket)

  /** Per-side byte budget under which a verify payload table (hashed
    * token arrays, signatures) is explicitly BROADCAST into the
    * candidate-pair joins instead of shuffle-joined. Below it, the
    * candidate stream — tens of millions of rows on self-similar
    * corpora — flows from the banded self-join through the verify
    * filters in ONE fused stage, never shuffling a pair row; above it
    * (the 100-TB corpus), the shuffle join is the only correct shape
    * and pairs ship to their payloads.
    *
    * The budget is derived from the memory the executors actually
    * have, not a constant sized for a hypothetical small executor: the
    * r14 third-scale-point study measured the cliff a fixed 256 MB
    * carves — at 500k docs the 528 MB signature table fell off the
    * broadcast path and the estimate stage went 1.6 s → 165.7 s (the
    * 187M-row candidate stream shuffled twice with ~1 KB payloads,
    * 102× for 10× data) while every other stage scaled linearly.
    * Rule: heap/12 (≈2× headroom over the ~1.5× expansion of a
    * broadcast hash relation plus the scan working set, per side, two
    * sides live at once), floored at 256 MB (any realistic executor
    * broadcasts that comfortably — Spark's own hard limit is 8 GB),
    * capped at 2 GB (past it, relation build time and driver collect
    * pressure dominate whatever the shuffle would have cost). Heap is
    * `spark.executor.memory` when set (plan time runs on the driver,
    * whose heap may differ from the executors'), else this JVM's max
    * heap — which in local mode IS the executor heap. */
  private[graft] def maxBroadcastVerifyBytes(df: DataFrame): Long = {
    // forced-path dial (guarded verify runs, specs): pin the budget to an
    // explicit byte count so every shuffle-mode fallback — the estimate/
    // verify joins here, the embedding verify, the incremental bipartite
    // probe — EXECUTES against the real oracle gate on small corpora,
    // where the 256 MB floor otherwise makes those paths unreachable
    // (every fallback is a plan choice, never a result change, so the
    // same oracles must stay green; r15 verdict ask #4)
    sys.props.get("graft.broadcastBudgetBytes").foreach(v => return v.toLong)
    val conf = df.sparkSession.conf
    val confHeap = conf.getOption("spark.executor.memory")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
    // the driver-JVM fallback is trustworthy only in local mode (there
    // the driver heap IS the executor heap). On a cluster whose executor
    // memory is configured outside the session conf (spark-defaults,
    // operator env), a large driver would otherwise overestimate small
    // executors and push a multi-GB broadcast into their heaps — so the
    // non-local fallback stays at the floor, which any realistic
    // executor broadcasts comfortably (r15 advisor finding).
    val isLocal = conf.getOption("spark.master").exists(_.startsWith("local"))
    val heap = confHeap.getOrElse(
      if (isLocal) Runtime.getRuntime.maxMemory else 0L)
    math.min(2L << 30, math.max(256L << 20, heap / 12))
  }

  private[graft] def maybeBroadcast(df: DataFrame, estBytes: Long): DataFrame = {
    val budget = maxBroadcastVerifyBytes(df)
    if (estBytes <= budget) broadcast(df)
    else {
      // the guarded-verify evidence line: correctness runs with the
      // forced budget grep for it to prove shuffle mode actually ran.
      // WARN only under the forced dial — at real scale this branch is
      // normal operation, not a warning
      val msg = s"verify payload ~$estBytes B past broadcast budget " +
        s"$budget B: shuffle join"
      if (sys.props.contains("graft.broadcastBudgetBytes")) log.warn(msg)
      else log.info(msg)
      df
    }
  }

  /** Smallest integer count c whose IEEE quotient c/k passes `>= θ` —
    * the decision floor the early-exit estimate kernel
    * (LongArrayMatchCountMin) bails against. Computed by direct search
    * so the floor matches the DOUBLE filter `count/k >= θ` exactly,
    * including any rounding at the boundary. */
  private[graft] def estMinCount(k: Int, threshold: Double): Int =
    (0 to k).find(c => c.toDouble / k >= threshold).getOrElse(k + 1)

  /** True iff the engine-neutral 64-bit token hash is INJECTIVE over the
    * corpus vocabulary of `toks`: every hash value maps back to exactly
    * one distinct token string. One narrow aggregate — explode to
    * (token, hash) rows (hashes from the same codegen kernel the verify
    * stage uses), group by hash with min/max partial aggregation
    * map-side, and any group whose min ≠ max is a collision. Cost is a
    * vocabulary-sized shuffle of (long, string-bounds) rows — the
    * exactness premium that lets the verify stage shuffle 8-byte hashed
    * arrays instead of token strings (see [[exactPairsFromToks]]).
    * Expected collisions over a V-token vocabulary are ~V²/2⁶⁵ (≈ 5e-8
    * at V = 1M), so the check passes in practice; it exists so the
    * hashed fast path NEVER silently trades the exactness contract. */
  private[graft] def hashInjectiveOnVocab(toks: DataFrame): Boolean =
    hashCollisionWitness(toks).count() == 0L

  /** At most ONE row iff the engine-neutral 64-bit token hash has a
    * collision over the corpus vocabulary of `toks` (the subtree behind
    * [[hashInjectiveOnVocab]] and [[verifyStats]]). */
  private def hashCollisionWitness(toks: DataFrame): DataFrame = {
    val pairs = toks
      .select(explode(arrays_zip(col("toks"),
        org.apache.spark.sql.graft.ColumnBridge.tokenHashes64(col("toks"))
          .as("h"))).as("z"))
      .select(col("z.toks").as("t"), col("z.h").as("h"))
    // witness each kernel-hash group with an INDEPENDENT 64-bit hash of
    // the token string (Spark's xxhash64 — a different construction than
    // the poly-31/splitmix kernel), so the aggregate shuffles
    // (long, long, long) — never token strings. Exactly one direction
    // matters: w = xxhash64(t) is a FUNCTION of t, so a group whose
    // witnesses split (min ≠ max) PROVES two distinct tokens share a
    // kernel hash — a real collision, no string re-check needed. A
    // collision escapes only when the two distinct tokens collide in
    // BOTH independent 64-bit hashes (~V²·2⁻¹²⁸ — below any physical
    // error rate; the string-verify fallback it would skip is itself a
    // belt-over-suspenders tier, see exactPairsFromToks). Measured at
    // sf1 this is the difference between a vocabulary-of-longs shuffle
    // and a vocabulary-of-strings shuffle (~1 s of dd_cluster's budget).
    pairs
      .select(col("h"), xxhash64(col("t")).as("w"))
      .groupBy(col("h"))
      .agg(min(col("w")).as("lo"), max(col("w")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .limit(1)
  }

  /** (docCount, tokenTotal, hashInjective) over a [[tokenize]] frame in
    * ONE Spark action (r20 optimization round): the broadcast-sizing
    * aggregate and the vocabulary-injectivity proof are the two
    * plan-shaping decisions every hashed-verify pipeline takes before
    * its main query, and they ran as two serial jobs — union them with
    * a tag column so one job schedules both subtrees (they also overlap
    * in-flight instead of serializing). Decision values are identical
    * to the former toks.agg(...).head() + [[hashInjectiveOnVocab]]. */
  private[graft] def verifyStats(toks: DataFrame): (Long, Long, Boolean) = {
    val sizes = toks
      .agg(count(lit(1)).as("a"), coalesce(sum(col("n")), lit(0L)).as("b"))
      .select(lit(0L).as("tag"), col("a"), col("b"))
    val collision = hashCollisionWitness(toks)
      .select(lit(1L).as("tag"), lit(0L).as("a"), lit(0L).as("b"))
    val rows = sizes.unionByName(collision).collect()
    val s = rows.find(_.getLong(0) == 0L).get
    (s.getLong(1), s.getLong(2), !rows.exists(_.getLong(0) == 1L))
  }

  /** [[exactPairs]] over a pre-tokenized [[tokenize]] frame, which the
    * caller should have MATERIALIZED (localCheckpoint/persist): it is
    * read by the signature pass and both verify-join sides. Lets callers
    * that already tokenized the corpus (e.g. Dedup.clusterExact's
    * exact-duplicate collapse) share one pass.
    *
    * Verify-stage shape (the dominant cost at scale): banded candidate
    * pairs are verified DIRECTLY on SORTED 64-BIT TOKEN-HASH arrays
    * (`sort_array(token_hashes64(toks))` — 8-byte elements and primitive
    * compares through the per-pair shuffle, not token strings). The
    * former signature-estimate prefilter stage is gone: measured on the
    * salted sf1 corpus (24.5M banded candidates, 12.7M est-survivors,
    * 289k true pairs) it shipped the 1 KB signatures per candidate pair
    * to halve a hash-verify volume whose per-pair payload is the SAME
    * size — two extra join stages that cost more than they saved, at
    * every selectivity this corpus family exhibits. Exactness is
    * preserved, not traded: [[hashInjectiveOnVocab]] proves the hash
    * collision-free over this corpus's vocabulary first (one narrow
    * aggregate), in which case the hashed intersection IS the token
    * intersection; in the (≈ V²/2⁶⁵) event of a vocabulary collision the
    * hashed count can only overcount — a merge on multisets counts
    * min-multiplicity, and hashing is a function, so matched tokens
    * always match — making it a zero-false-negative prefilter, and the
    * exact string intersect re-verifies just the surviving
    * (output-bound) pairs. */
  def exactPairsFromToks(toks: DataFrame, threshold: Double = 0.9,
      k: Int = 128, bands: Int = 16, maxBucket: Int = 4096): DataFrame = {
    val t100 = math.round(threshold * 100)
    // signatures feed the banding only — the verify decides on hashed
    // token arrays; materialize once (~1 KB/doc of executor-local
    // storage, the standard persist any multi-read LSH pipeline
    // carries). LAZY checkpoint: both sides of the banded self-join
    // share the one RDD, so the first downstream job computes the
    // minhash kernel exactly once — without a separate synchronous
    // materialization job ahead of it
    val sigs = signaturesFromToks(toks, k).localCheckpoint(false)
    val cand = bandedPairs(sigs, k, bands, maxBucket)
    // size the hashed-payload side: rows × (id + n + array header) +
    // 8 B per token hash — the sizing aggregate and the injectivity
    // proof below share ONE action over the checkpointed tokenization
    val (nDocs, nToks, injective) = verifyStats(toks)
    val hashedBytes = nDocs * 32L + nToks * 8L
    val hashed = toks.select(col("doc_id"), col("n"),
      sort_array(org.apache.spark.sql.graft.ColumnBridge
        .tokenHashes64(col("toks"))).as("hsh"))
    val ha = maybeBroadcast(hashed.select(col("doc_id").as("doc_a"),
      col("hsh").as("hsh_a"), col("n").as("na")), hashedBytes)
    val hb = maybeBroadcast(hashed.select(col("doc_id").as("doc_b"),
      col("hsh").as("hsh_b"), col("n").as("nb")), hashedBytes)
    // r21: per-row decision floor for the early-exit merge — the filter
    // below keeps hinter iff hinter·(100+θ₁₀₀) ≥ θ₁₀₀·(na+nb), i.e. iff
    // hinter ≥ ⌈θ₁₀₀·(na+nb)/(100+θ₁₀₀)⌉ (hinter is integral), so the
    // kernel may bail once the remaining elements cannot reach that
    // floor: survivor counts are bit-identical, non-survivors fail in
    // both forms (SortedLongArrayIntersectCountMin's contract)
    val needJ = expr(s"CAST((${t100} * (na + nb) + ${t100 + 99L}) " +
      s"DIV ${t100 + 100L} AS BIGINT)")
    val hashVerified = cand.join(ha, "doc_a").join(hb, "doc_b")
      // size-ratio prefilter: j ≥ θ forces 100·min(na,nb) ≥ θ₁₀₀·max —
      // a necessary condition of the exact predicate below, so the
      // intersect kernel never runs on pairs the size gap already rules
      // out and the output is unchanged
      .filter(col("na") * 100L >= lit(t100) * col("nb") &&
        col("nb") * 100L >= lit(t100) * col("na"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        org.apache.spark.sql.graft.ColumnBridge
          .sortedLongIntersectCountMin(col("hsh_a"), col("hsh_b"), needJ)
          .cast("long").as("hinter"))
      .filter(col("hinter") * lit(100L + t100)
        >= lit(t100) * (col("na") + col("nb")))
    if (injective) {
      // collision-free vocabulary (the always case): the hashed count IS
      // the token intersection — no string arrays ever enter a shuffle
      hashVerified
        .withColumn("jaccard",
          col("hinter").cast("double") / (col("na") + col("nb") - col("hinter")))
        .select("doc_a", "doc_b", "jaccard")
    } else {
      // vocabulary collision somewhere in the corpus: the hashed pass is
      // still a zero-false-negative prefilter (it can only overcount);
      // re-verify the surviving output-bound pairs on the token strings
      val ta = toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
      val tb = toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
      hashVerified.select("doc_a", "doc_b", "na", "nb")
        .join(ta, "doc_a").join(tb, "doc_b")
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
          org.apache.spark.sql.graft.ColumnBridge
            .sortedIntersectCount(col("toks_a"), col("toks_b"))
            .cast("long").as("inter"))
        .filter(col("inter") * lit(100L + t100)
          >= lit(t100) * (col("na") + col("nb")))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .select("doc_a", "doc_b", "jaccard")
    }
  }
}
