package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.operators.{IncrementalDedup, Ivf}
import graft.sources.Tables

/** The ingest path the dashboard's write requests drive: a fixed-size
  * document batch is deduplicated against, and appended to, a persisted
  * signature index, and the batch's vectors are appended to the live IVF
  * index that the dashboard's ANN reads probe. A compacting request also
  * compacts both indexes inside its own timing, so the compaction spike
  * lands in the latency tail. */
final class Ingest(ctx: Ctx) {
  import Ingest._
  private val spark = ctx.spark
  private val rng = new scala.util.Random(ctx.seed * 15485863L + 5L)
  private val (corpus, _) = Gen.corpus(ctx.seed, CorpusDocs, 0L, 0.0)
  private var input = ""
  private var sigs = ""

  def writeInputs(dir: String): Unit = {
    input = dir
    Gen.docsFrame(spark, corpus).repartition(4).write.parquet(s"$input/documents.parquet")
  }

  def setUp(dir: String): Unit = {
    sigs = s"$dir/sigs"
    IncrementalDedup.saveSignatures(Tables.documents(spark, input), sigs)
  }

  /** Documents the signature index holds that can source a planted
    * near-duplicate. */
  private lazy val indexed = mutable.ArrayBuffer.from(corpus.filter(Gen.dupEligible))
  private var nextDoc = CorpusDocs.toLong
  private var batches = 0
  private var planted = 0L
  private var plantedFlagged = 0L
  private var fresh = 0L
  private var freshFlagged = 0L
  private var secs = 0.0

  def docsIndexed: Long = CorpusDocs + fresh

  /** One ingest request: the batch's `vectors` go to the IVF index at
    * `ivf`. */
  def request(ivf: String, vectors: Seq[Gen.Vec], compact: Boolean): Unit = {
    // the batch arrives materialised outside the timing: arrival cost
    // belongs to the source, not to the ingest cycle
    val nDup = math.round(BatchDocs * DupShare).toInt
    val dups = Seq.fill(nDup)(indexed(rng.nextInt(indexed.length))).distinct
      .zipWithIndex.map { case (src, j) => Gen.nearDup(src, nextDoc + j) }
    val freshDocs = (dups.length until BatchDocs).map(j => Gen.freshDoc(rng, nextDoc + j))
    nextDoc += BatchDocs
    val batch = Gen.docsFrame(spark, dups ++ freshDocs).localCheckpoint(true)
    val vecFrame = Gen.vectorsFrame(spark, vectors).localCheckpoint(true)
    batches += 1
    val t0 = System.nanoTime()
    ctx.op("ingest", 1) {
      val idx = ctx.call("IncrementalDedup", "openSignatures")(
        IncrementalDedup.openSignatures(spark, sigs))
      val flagged = ctx.call("IncrementalDedup", "dedupAgainst")(
        IncrementalDedup.dedupAgainst(idx, batch).localCheckpoint(true))
      ctx.call("IncrementalDedup", "writeFlags")(
        flagged.write.mode("append").parquet(ctx.dir("flags")))
      ctx.call("IncrementalDedup", "appendSignatures")(
        IncrementalDedup.appendSignatures(idx, batch.join(
          flagged.filter(!col("is_duplicate")).select("doc_id"), "doc_id")))
      ctx.call("Ivf", "appendToIndex")(Ivf.appendToIndex(ivf, vecFrame))
      if (compact) {
        ctx.call("IncrementalDedup", "compact")(IncrementalDedup.compact(spark, sigs))
        ctx.call("Ivf", "compactIndex")(Ivf.compactIndex(ivf, spark))
      }
      secs += (System.nanoTime() - t0) / 1e9
      flagged
    } { flagged =>
      val isDup = flagged.select("doc_id", "is_duplicate").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      planted += dups.length
      plantedFlagged += dups.count(d => isDup(d.id))
      fresh += freshDocs.length
      freshFlagged += freshDocs.count(d => isDup(d.id))
      indexed ++= freshDocs.filter(Gen.dupEligible)
      isDup.size == BatchDocs && dups.forall(d => isDup(d.id)) &&
        !freshDocs.exists(d => isDup(d.id))
    }
  }

  def notes(): Unit = {
    ctx.notes("ingest.near_dup_share") = planted.toDouble / math.max(1L, planted + fresh)
    ctx.notes("ingest.docs_per_s") = batches * BatchDocs / math.max(secs, 1e-9)
    ctx.notes("IncrementalDedup.planted_dup_recall") =
      plantedFlagged.toDouble / math.max(1L, planted)
    ctx.notes("IncrementalDedup.fresh_false_flag_frac") =
      freshFlagged.toDouble / math.max(1L, fresh)
  }

  def bytes: Long = Disk.bytes(sigs)
}

object Ingest {
  val CorpusDocs = 2000
  /** Documents per batch, fixed at every index size as in IngestBench. */
  val BatchDocs = 500
  /** Share of each batch that is planted near-duplicates of indexed
    * documents; the rest are fresh documents. */
  val DupShare = 0.3
  val VectorsPerBatch = 100
}
