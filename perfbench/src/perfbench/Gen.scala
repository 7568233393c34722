package perfbench

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.Schemas

/** Seeded input generators. Everything here runs before a timed region
  * starts; the program only ever sees the frames or files produced.
  *
  * Taxi months are distributed (`spark.range` plus hash-derived
  * columns) and keep the reference quirks of graft.taxi.TaxiFixtures:
  * exact duplicate rows, out-of-month stragglers whose 7-column
  * quarantine keys collide pairwise, rows older than the watermark,
  * ratecodes "1"/"1.0"/"99"/NULL, an unmapped vendor (42) and a payment
  * type with no dim row (9).
  *
  * Corpus documents are 30 to 69 words drawn from a small vocabulary, so word
  * 3-gram shingles of two independent documents almost never meet,
  * while a near-duplicate copy (one word replaced) stays far above the
  * dedup gate's Jaccard threshold. Embeddings are 64-d points around 16
  * seeded cluster centres.
  */
object Gen {

  // ---------------------------------------------------------------- taxi

  final case class MonthShape(base: Long) {
    val dups: Long = base / 100
    val stale: Long = base / 500
    val stragglerPairs: Long = base / 5000 + 1
    def total: Long = base + dups + stale + 2 * stragglerPairs
  }

  private def epoch(year: Int, month: Int): Long =
    LocalDate.of(year, month, 1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)

  /** One month's raw batch with the bronze schema. Row ids
    * `[0, base)` are regular trips; the next ranges are exact copies,
    * rows dated a day or more before the month (older than any
    * watermark the previous month leaves), and straggler pairs dated in
    * the following month that share their 7-column key. */
  def taxiMonth(spark: SparkSession, seed: Long, year: Int, month: Int,
                shape: MonthShape): DataFrame = {
    val n = shape.base
    val dupEnd = n + shape.dups
    val staleEnd = dupEnd + shape.stale
    val start = epoch(year, month)
    val next = if (month == 12) epoch(year + 1, 1) else epoch(year, month + 1)
    val id = col("id")
    // source row: copies re-derive every column from a regular row
    val src = when(id < n, id)
      .when(id < dupEnd, pmod((id - n) * 7919L, lit(n)))
      .when(id < staleEnd, id)
      .otherwise(lit(staleEnd) + floor((id - staleEnd) / 2))
    def h(k: Int): Column = xxhash64(lit(seed), lit(month), col("src"), lit(k))
    def pick(k: Int, n: Int): Column = pmod(h(k), lit(n.toLong))
    val kind = when(id < dupEnd, 0).when(id < staleEnd, 1).otherwise(2)
    val pickupSec = when(col("kind") === 0,
        lit(start) + pmod(h(1), lit(next - start - 3600)))
      .when(col("kind") === 1,
        lit(start - 86400L) - pmod(h(1), lit(20L * 86400)))
      .otherwise(lit(next + 86400L) + pmod(h(1), lit(5L * 86400)))
    val durMin = when(pick(2, 97) === 0, lit(-15L)).otherwise(pick(3, 90) + 1)
    val fare = pmod(
      when(col("kind") === 2, xxhash64(lit(seed), lit(month), id, lit(12)))
        .otherwise(h(12)), lit(10000L)) / 100.0
    val tip = pick(13, 2000000) / 100000.0
    spark.range(0, shape.total, 1, 4)
      .withColumn("src", src)
      .withColumn("kind", kind)
      .withColumn("pu", timestamp_seconds(pickupSec))
      .select(
        element_at(array(Seq(1, 2, 6, 7, 42).map(lit): _*),
          (pick(4, 5) + 1).cast("int")).as("vendorid"),
        col("pu").as("tpep_pickup_datetime"),
        timestamp_seconds(pickupSec + durMin * 60).as("tpep_dropoff_datetime"),
        when(pick(5, 53) === 0, lit(null).cast("string"))
          .otherwise(pick(6, 5).cast("string")).as("passenger_count"),
        (pick(7, 2000) / 100.0).as("trip_distance"),
        element_at(array(Seq("1", "1.0", "2", "5.0", "99").map(lit) :+
          lit(null).cast("string"): _*), (pick(8, 6) + 1).cast("int"))
          .as("ratecodeid"),
        when(pick(9, 2) === 0, "Y").otherwise("N").as("store_and_fwd_flag"),
        (pick(10, 265) + 1).cast("int").as("pulocationid"),
        (pick(11, 265) + 1).cast("int").as("dolocationid"),
        element_at(array(Seq(0, 1, 2, 3, 4, 5, 6, 9).map(lit): _*),
          (pick(14, 8) + 1).cast("int")).as("payment_type"),
        fare.as("fare_amount"), lit(1.0).as("extra"), lit(0.5).as("mta_tax"),
        tip.as("tip_amount"), lit(0.0).as("tolls_amount"),
        lit(0.3).as("improvement_surcharge"),
        // the total is part of the quarantine key: straggler pairs keep
        // the same total while their fares differ
        (pick(15, 10000) / 100.0 + tip + 1.8).as("total_amount"),
        lit(2.5).as("congestion_surcharge"), lit(0.0).as("airport_fee"))
      .select(Schemas.bronze.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
  }

  // -------------------------------------------------------------- corpus

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "data", "query", "shuffle", "spark", "batch", "stream", "index", "join",
    "sort", "scan", "filter", "group", "window", "merge", "hash", "vector",
    "table", "column", "row", "part", "line", "order", "key", "value",
    "fast", "slow", "small", "big", "the", "a", "agg", "plan",
    "cache", "page", "disk", "node", "task", "stage", "job", "file",
    "block", "range", "token", "score", "rank", "doc", "term", "bloom")

  /** Query term triples the serve mix draws from. */
  val QueryTerms: IndexedSeq[Seq[String]] = {
    val r = new java.util.SplittableRandom(7L)
    (0 until 64).map(_ => Seq.fill(3)(Vocab(r.nextInt(Vocab.size))).distinct)
  }

  val Dim = 64
  private val Clusters = 16

  private def rng(seed: Long, salt: Long, id: Long) =
    new java.util.SplittableRandom(seed * 1000003L + salt * 7919L + id)

  def docText(seed: Long, id: Long): String = {
    val r = rng(seed, 1, id)
    val n = 30 + r.nextInt(40)
    Seq.fill(n)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
  }

  /** `src`'s text with one word replaced: of its 28 or more word 3-grams
    * at most 3 change, so the Jaccard similarity stays above 0.8, far
    * above the gate threshold. */
  def nearDupText(seed: Long, src: Long, id: Long): String = {
    val words = docText(seed, src).split(" ")
    val r = rng(seed, 2, id)
    words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.size))
    words.mkString(" ")
  }

  private def centre(seed: Long, c: Int): Array[Float] = {
    val r = rng(seed, 3, c)
    Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
  }

  def embedding(seed: Long, id: Long): Array[Float] = {
    val r = rng(seed, 4, id)
    val c = centre(seed, r.nextInt(Clusters))
    Array.tabulate(Dim)(i => c(i) + (r.nextDouble() * 0.6 - 0.3).toFloat)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  val EmbSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def docsFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*),
      DocSchema)

  def embFrame(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, e) => Row(i, e.toSeq) }: _*),
      EmbSchema)
}
