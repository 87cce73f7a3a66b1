package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §2 mm_*): media ride along as
  * opaque `binary` columns with typed metadata structs; decode / feature
  * extraction runs batch-wise per partition.
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked deterministic STUB (`stubDecode`); everything around it —
  * the binary payload schema, the metadata struct, the mapPartitions batch
  * shape, partition sizing — is the real plumbing a decoder would drop
  * into.
  *
  * Scale: payloads never leave their partition (no shuffle); feature
  * extraction is a narrow map, so a 100-TB corpus processes at scan speed
  * with decode parallelism = partition count.
  */
object Multimodal {

  /** Expression-level plumbing: binary payload + metadata + a stub scalar
    * feature, all engine-agnostic. The raw payload stays binary here (this
    * is the frame `extractFeatures` consumes). Unsorted, so payloads stay
    * in their scan partitions: the decode/sample stages are OPAQUE to
    * Catalyst, and a sort below them would globally exchange the raw
    * payload bytes (the heavy-payload shuffle the §8 design rule bans);
    * consumers sort their own narrow results. */
  def binaryColumns(documents: DataFrame): DataFrame =
    documents
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("header_hex", upper(hex(substring(col("text"), 1, 8).cast("binary"))))
      .withColumn("modality", lit("text/utf-8"))
      .withColumn("fake_feature", (col("n_bytes") % 7).cast("double") / 7.0)
      .select("doc_id", "payload", "n_bytes", "header_hex", "modality",
        "fake_feature")

  /** Query view (oracle-checked as mm_binary): the raw payload is projected
    * to its md5 digest so every output column is flat and comparable —
    * payload bytes themselves never need to leave the executors. */
  def binaryColumnsChecked(documents: DataFrame): DataFrame =
    binaryColumns(documents)
      .withColumn("payload_md5", md5(col("payload")))
      .select("doc_id", "payload_md5", "n_bytes", "header_hex", "modality",
        "fake_feature")
      .orderBy("doc_id")

  /** One decoded media item: id + normalized feature vector + the raw
    * integer bin counts the features were normalized from. Carrying the
    * exact counts (not just floats) lets downstream consumers — and the
    * correctness oracle — work on true integers instead of recovering them
    * as round(float·n), which loses exactness once a bin exceeds the Float
    * mantissa (~2e6). */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, features: Array[Float],
      counts: Array[Long])

  /** STUB decode kernel, integer form — stands in for an image/audio
    * decoder (deterministic: byte histogram folded to `dim` buckets).
    * A real deployment swaps this body for e.g. JPEG decode + model
    * features; the signature (bytes → fixed-dim vector) is the contract
    * the pipeline depends on. */
  def stubDecodeCounts(payload: Array[Byte], dim: Int): Array[Long] = {
    val acc = new Array[Long](dim)
    var i = 0
    while (i < payload.length) {
      acc((payload(i) & 0xff) % dim) += 1L
      i += 1
    }
    acc
  }

  /** Normalized-float view of [[stubDecodeCounts]]. */
  def stubDecode(payload: Array[Byte], dim: Int): Array[Float] = {
    val n = math.max(payload.length, 1).toFloat
    stubDecodeCounts(payload, dim).map(_ / n)
  }

  /** Batch feature extraction: binary payloads → fixed-dim vectors, one
    * partition at a time (the Scala analog of a pandas-UDF `mapInPandas`
    * batch: the iterator processes rows lazily without materializing the
    * partition). */
  def extractFeatures(media: DataFrame, dim: Int = 16): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.select("doc_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val counts = stubDecodeCounts(payload, dim)
        val n = math.max(payload.length, 1).toFloat
        MediaFeatures(r.getAs[Long]("doc_id"), payload.length.toLong,
          counts.map(_ / n), counts)
      }
    }
  }

  /** Feature "resize": re-bin a histogram feature vector to a coarser
    * dimension by summing adjacent bins (the stand-in for image resize /
    * audio resample — the real kernel swaps in here with the same
    * array-in/array-out shape). Pure expression work: `newDim` must
    * divide the source dimension. */
  def resizeFeatures(features: DataFrame, featureCol: String,
      newDim: Int): DataFrame = {
    val factor = size(col(featureCol)) / newDim
    features.withColumn(s"${featureCol}_resized",
      transform(sequence(lit(0), lit(newDim - 1)), b =>
        aggregate(
          slice(col(featureCol), b * factor + lit(1), factor),
          lit(0.0d), (acc, x) => acc + x.cast("double"))))
  }

  /** One sampled frame: fixed-length byte window cut from the payload at
    * a regular stride — the video frame-sampling shape (per-frame decode
    * plugs in where the md5 digest sits now). */
  case class Frame(doc_id: Long, frame_no: Int, off_bytes: Long, frame_md5: String)

  /** Frame sampling: every `stride` bytes, emit a `frameLen`-byte window
    * with its digest, partition-locally (no shuffle; frames never leave
    * their executor). Rows lazily stream through the iterator, so a
    * 100-TB corpus samples at scan speed.
    *
    * The digest is md5 of the window's UPPERCASE-HEX rendering (not of
    * the raw bytes): windows are cut at BYTE offsets, so a frame can
    * split a multi-byte UTF-8 character and carry invalid-UTF-8 bytes —
    * which the DuckDB oracle cannot feed to its VARCHAR-only md5. The
    * hex rendering is plain ASCII at any window content, so both
    * engines hash the identical string (`md5(substring(hex(encode(
    * text)), 2·off+1, 2·frameLen))` is the oracle twin). The r17 sf1
    * oracle run exposed the raw-byte digest's char/byte divergence on
    * ScaleUp's non-ASCII salted corpus (r18 fix); as a digest the hex
    * form is equally deterministic and collision-resistant. */
  def frameSample(media: DataFrame, frameLen: Int = 16,
      stride: Int = 64): Dataset[Frame] = {
    require(frameLen > 0 && stride > 0,
      s"frameLen and stride must be positive (got frameLen=$frameLen, stride=$stride)")
    implicit val enc = Encoders.product[Frame]
    media.select("doc_id", "payload").mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexDigits = "0123456789ABCDEF".toCharArray
      val lowerHexDigits = "0123456789abcdef".toCharArray
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val id = r.getAs[Long]("doc_id")
        Iterator.range(0, math.max(payload.length, 1), stride).zipWithIndex
          .map { case (off, no) =>
            val end = math.min(off + frameLen, payload.length)
            val windowHex = new Array[Byte]((end - off) * 2)
            var i = off
            while (i < end) {
              val b = payload(i) & 0xff
              windowHex((i - off) * 2) = hexDigits(b >>> 4).toByte
              windowHex((i - off) * 2 + 1) = hexDigits(b & 0xf).toByte
              i += 1
            }
            md.reset()
            // lowercase-hex render via the char table — the former
            // per-byte "%02x".format built a java.util.Formatter per
            // digest byte (r20; same output characters)
            val dig = md.digest(windowHex)
            val out = new Array[Char](dig.length * 2)
            var j = 0
            while (j < dig.length) {
              val b = dig(j) & 0xff
              out(j * 2) = lowerHexDigits(b >>> 4)
              out(j * 2 + 1) = lowerHexDigits(b & 0xf)
              j += 1
            }
            Frame(id, no, off.toLong, new String(out))
          }.toSeq
      }
    }
  }

  /** Cross-document frame dedup — the media near-dup detection shape
    * (shared intros/outros/segments repeated across videos): digests of
    * sampled frames grouped corpus-wide, keeping digests seen in ≥2
    * documents. Only the hex digests and doc ids shuffle (map-side
    * partial aggregation; payload bytes never leave their executor), so
    * at 100 TB the exchange carries ~48 bytes per frame, not media. */
  def frameDedup(media: DataFrame, frameLen: Int = 16,
      stride: Int = 64): DataFrame =
    frameSample(media, frameLen, stride).toDF()
      .groupBy("frame_md5")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("frame_md5")
}
