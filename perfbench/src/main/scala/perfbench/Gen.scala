package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator, kept apart from the program under test: graft
  * only ever sees the tables and batches made here. The same seed gives
  * the same inputs. Table shapes follow the test corpus's data contract
  * (`events`, `customer`, `orders`, `documents`, `embeddings`), so the
  * tables load through graft's own `Tables` readers.
  *
  * Fact tables are derived from `spark.range` with seeded xxhash64
  * pseudo-randoms; documents and vectors are made on the driver with a
  * seeded RNG, because their planted structure (near-duplicate pairs,
  * vector clusters) is the truth the output checks compare against.
  */
object Gen {

  /** Row counts of one workload's inputs. */
  final case class Sizes(events: Long, users: Int, days: Int,
      customers: Long, orders: Long, docs: Int, vectors: Int)

  val Dim = 64
  val Labels = 16
  /** 2024-01-01T00:00:00Z in µs — the events stream starts here. */
  val StartUs = 1704067200000000L
  val DayUs = 86400000000L

  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000L)).cast("double") / 1e6

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(values.length.toLong)) + 1)
        .cast("int"))

  /** Sensor/user event stream: `days` days of readings from `users`
    * entities, ids in time order. */
  def events(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val stepUs = s.days * DayUs / s.events
    spark.range(s.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(StartUs) + col("id") * stepUs +
        (u(seed, 1) * stepUs).cast("long")).as("ts"),
      pmod(xxhash64(col("id"), lit(seed), lit(2)), lit(s.users.toLong)).as("user_id"),
      pick(seed, 3, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      round(-log(lit(1.0) - u(seed, 4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(col("id"), lit(seed), lit(5)), lit(100L)).cast("string"),
        lit("}")).as("props"))
  }

  def customers(spark: SparkSession, seed: Long, s: Sizes): DataFrame =
    spark.range(1, s.customers + 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(seed), lit(11)), lit(25L)).cast("int").as("c_nationkey"),
      round(u(seed, 12) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(seed, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))

  /** Orders over customers; as in TPC-H, every third customer has none. */
  def orders(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val ck = lit(1L) + pmod(xxhash64(col("id"), lit(seed), lit(21)), lit(s.customers))
    spark.range(1, s.orders + 1).select(
      col("id").as("o_orderkey"),
      when(ck % 3 === 0, ck - 1).otherwise(ck).as("o_custkey"),
      pick(seed, 22, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(seed, 23) * 450000.0 + 900.0, 2).as("o_totalprice"),
      // 1992-01-01 plus up to ~6.6 years, stored as TIMESTAMP_NTZ like
      // the test corpus
      timestamp_micros(lit(694224000000000L) +
        (u(seed, 24) * 2400).cast("long") * DayUs)
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(seed, 25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
  }

  // ---- documents ------------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Shared vocabulary: 4000 distinct pronounceable words, so two
    * unrelated documents share almost no tokens (Jaccard ≈ 0). */
  private lazy val vocab: Array[String] = {
    val syl = Array("ka", "ne", "lo", "ri", "su", "ta", "mi", "do", "pe", "ha",
      "vo", "ze", "gu", "bi", "fa", "ro", "ni", "se", "tu", "la")
    val rng = new scala.util.Random(7)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 4000)
      out += Seq.fill(2 + rng.nextInt(3))(syl(rng.nextInt(syl.length))).mkString
    out.toArray
  }

  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** One fresh document of 40–100 words, with occasional PII-shaped
    * tokens (emails, phones, IPs, URLs) for the scrubbing pass. */
  def freshDoc(rng: scala.util.Random, id: Long): Doc = {
    val words = Seq.fill(40 + rng.nextInt(61))(vocab(rng.nextInt(vocab.length)))
    val pii = Seq(
      (0.10, () => s"${vocab(rng.nextInt(vocab.length))}${rng.nextInt(999)}@mail.example.com"),
      (0.05, () => f"${rng.nextInt(900) + 100}%d-${rng.nextInt(900) + 100}%d-${rng.nextInt(9000) + 1000}%d"),
      (0.05, () => s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)}"),
      (0.05, () => s"https://site${rng.nextInt(50)}.example.org/${vocab(rng.nextInt(vocab.length))}"))
      .flatMap { case (p, tok) => if (rng.nextDouble() < p) Some(tok()) else None }
    Doc(id, (words ++ pii).mkString(" "), langs(rng.nextInt(langs.length)),
      s"src${rng.nextInt(20)}")
  }

  /** A planted near-duplicate of `src`: its text plus one token found in
    * no other document. For a source of at least [[MinDupSourceTokens]]
    * distinct tokens the Jaccard similarity is ≥ 0.975, far above the
    * 0.9 dedup threshold and its minhash estimation noise. */
  def nearDup(src: Doc, id: Long): Doc =
    src.copy(id = id, text = s"${src.text} zq${id}x")

  val MinDupSourceTokens = 40

  def dupEligible(d: Doc): Boolean =
    d.text.split(" ").distinct.length >= MinDupSourceTokens

  /** `n` documents with ids from `firstId`; a `dupShare` of them are
    * planted near-duplicates of earlier documents in the same set (each
    * source used at most once, so the planted pairs are the only
    * similar pairs). Returns the docs and the planted (source, dup) ids. */
  def corpus(seed: Long, n: Int, firstId: Long, dupShare: Double)
      : (Vector[Doc], Set[(Long, Long)]) = {
    val rng = new scala.util.Random(seed * 1000003L + 17L)
    val nDup = (n * dupShare).toInt
    val originals = (0 until n - nDup).map(i => freshDoc(rng, firstId + i)).toVector
    val sources = rng.shuffle(originals.filter(dupEligible)).take(nDup)
    val dups = sources.zipWithIndex.map { case (s, j) =>
      nearDup(s, firstId + n - nDup + j)
    }
    (originals ++ dups, sources.zip(dups).map { case (s, d) => (s.id, d.id) }.toSet)
  }

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => (d.id, d.text, d.lang, d.source)))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))

  // ---- embeddings -----------------------------------------------------

  final case class Vec(id: Long, v: Array[Float], label: Int)

  /** Cluster centres shared by every vector of one seed. */
  def centres(seed: Long): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed * 7919L + 3L)
    Array.fill(Labels)(unit(Array.fill(Dim)(rng.nextGaussian().toFloat)))
  }

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** `n` vectors with ids from `firstId`: each a noisy copy of one of the
    * seed's cluster centres, so nearest neighbours concentrate in a few
    * IVF cells the way real embedding corpora do. */
  def vectors(seed: Long, salt: Long, n: Int, firstId: Long): Vector[Vec] = {
    val cs = centres(seed)
    val rng = new scala.util.Random(seed * 31L + salt)
    Vector.tabulate(n) { i =>
      val label = rng.nextInt(Labels)
      Vec(firstId + i,
        unit(cs(label).map(x => x + 0.12f * rng.nextGaussian().toFloat)), label)
    }
  }

  def vectorsFrame(spark: SparkSession, vs: Seq[Vec]): DataFrame =
    spark.createDataFrame(vs.map(v => (v.id, v.v, v.label)))
      .toDF("vec_id", "embedding", "label")
}
