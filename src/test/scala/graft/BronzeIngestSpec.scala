package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.{ZoneId, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.bronze.{BronzeIngest, IngestResult}
import graft.meta.MetaStore
import graft.schema.Schemas
import graft.taxi.TaxiFixtures

/** `BronzeIngest.ingest` against its documented contract (rows newer
  * than the watermark in the batch's earliest new month load, other
  * newer rows are quarantined once per 7-column key, the watermark is
  * recomputed from bronze), its Spark job budget, and the partition
  * pruning of its one quarantine read. */
class BronzeIngestSpec extends SparkTestBase {

  private def freshWarehouse(): String =
    Files.createTempDirectory("graft_bronze_").toString

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.bronze)

  private val pickup = Schemas.bronze.fieldIndex("tpep_pickup_datetime")
  private val dropoff = Schemas.bronze.fieldIndex("tpep_dropoff_datetime")
  private val fare = Schemas.bronze.fieldIndex("fare_amount")
  private val keyIdx = Schemas.invalidRecordsKey.map(Schemas.bronze.fieldIndex)
  private implicit val tsOrder: Ordering[Timestamp] =
    Ordering.fromLessThan(_ before _)

  /** The documented bronze contract replayed on the driver, with the
    * window defined as `date_trunc` defines a month in `zone` and the
    * ON CONFLICT check made against the WHOLE quarantine — so the
    * ingest's listing-derived quarantine slice is checked too. */
  private final class Contract(zone: ZoneId) {
    val bronze = mutable.ArrayBuffer.empty[Row]
    val quarantine = mutable.LinkedHashMap.empty[Seq[Any], Row]
    var watermark: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")

    private def key(r: Row): Seq[Any] = keyIdx.map(r.get)
    private def ts(r: Row): Timestamp = r.getAs[Timestamp](pickup)
    // a NULL key column never equals anything, as in the SQL anti-join
    private def quarantined(r: Row): Boolean =
      !key(r).contains(null) && quarantine.contains(key(r))

    def ingest(batch: Seq[Row]): (Long, Long, Timestamp) = {
      val fresh = batch.filter(r =>
        ts(r) != null && ts(r).after(watermark) && !quarantined(r))
      if (fresh.isEmpty) (0L, 0L, watermark)
      else {
        val start = ZonedDateTime.ofInstant(fresh.map(ts).min.toInstant, zone)
          .withDayOfMonth(1).truncatedTo(ChronoUnit.DAYS)
        val end = start.plusMonths(1)
        def inWindow(r: Row): Boolean = {
          val t = ts(r).toInstant
          !t.isBefore(start.toInstant) && t.isBefore(end.toInstant)
        }
        val (in, out) = fresh.partition(inWindow)
        bronze ++= in
        // key-dedup keeps the earliest dropoff, then the lowest fare
        val firsts = out.groupBy(key).values.map(_.minBy(r =>
          (r.getAs[Timestamp](dropoff).getTime, r.getDouble(fare))))
        firsts.foreach(r => quarantine(key(r)) = r)
        bronze.filter(inWindow).map(ts).maxOption.foreach(watermark = _)
        (in.size.toLong, firsts.size.toLong, watermark)
      }
    }

    private val month = DateTimeFormatter.ofPattern("yyyy-MM").withZone(zone)
    def withMonth(rows: Iterable[Row]): Seq[Seq[Any]] =
      rows.map(r => r.toSeq :+ month.format(ts(r).toInstant)).toSeq
  }

  private def bag(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Months 1-3 with every quirk the contract names: colliding
    * straggler keys (one pair identical, one differing in fare),
    * pre-watermark rows, a month whose stragglers the previous month
    * already quarantined, a quarantined key arriving in its own
    * month's batch, and a re-ingest of the last month. */
  private def scenario(): Seq[Seq[Row]] = {
    val Seq(jan, feb, mar) =
      (1 to 3).map(m => rowsOf(TaxiFixtures.monthBatch(spark, 2024, m, 400)))
    val febStraggler = jan.last
    val marStragglers = feb.takeRight(2)
    val cheaper = Row.fromSeq(febStraggler.toSeq.updated(fare, 9.5))
    Seq(jan ++ marStragglers :+ cheaper,
      feb ++ jan.take(5),
      mar ++ marStragglers,
      mar)
  }

  private def checkContract(zone: String): Unit = {
    val previous = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try {
      val wh = freshWarehouse()
      val meta = new MetaStore(spark, wh)
      val ingest = new BronzeIngest(spark, wh, meta)
      val contract = new Contract(ZoneId.of(zone))
      scenario().zipWithIndex.foreach { case (batch, i) =>
        val IngestResult(loaded, quarantined, watermark, _) =
          ingest.ingest(frame(batch))
        assert((loaded, quarantined, watermark) == contract.ingest(batch),
          s"ingest #${i + 1} in $zone")
      }
      val cols = (Schemas.bronzeCols :+ "pickup_month").map(col)
      assert(bag(rowsOf(ingest.bronze.select(cols: _*)).map(_.toSeq)) ==
        bag(contract.withMonth(contract.bronze)), s"bronze in $zone")
      assert(bag(rowsOf(meta.invalidRecords.select(cols: _*)).map(_.toSeq)) ==
        bag(contract.withMonth(contract.quarantine.values)),
        s"quarantine in $zone")
    } finally spark.conf.set("spark.sql.session.timeZone", previous)
  }

  test("ingest follows the documented contract (UTC)") {
    checkContract("UTC")
  }

  test("ingest follows the documented contract (America/New_York)") {
    // months whose UTC and New York keys differ pin the window to the
    // session-timezone month that date_trunc and the partitions use
    checkContract("America/New_York")
  }

  test("ingest job budget: at most 14 Spark jobs a month, 8 for a no-op") {
    val wh = freshWarehouse()
    val ingest = new BronzeIngest(spark, wh, new MetaStore(spark, wh))
    val months = (1 to 3).map(m =>
      traced(ingest.ingest(TaxiFixtures.monthBatch(spark, 2024, m))))
    val again = traced(ingest.ingest(TaxiFixtures.monthBatch(spark, 2024, 3)))
    info(s"jobs per month ${months.map(_.jobs).mkString(", ")}; " +
      s"re-ingest ${again.jobs}")
    assert(months.forall(_.result.quarantined > 0))
    assert(again.result.loaded == 0 && again.result.quarantined == 0)
    assert(months.forall(_.jobs <= 14), months.map(_.jobs))
    assert(again.jobs <= 8, again.jobs)
  }

  test("ingest reads only the quarantine months at or after the watermark's") {
    // the reference's proc slowed 3.2 s → 83.5 s as the quarantine grew:
    // history before the watermark's month must never be scanned again
    val wh = freshWarehouse()
    val meta = new MetaStore(spark, wh)
    val ingest = new BronzeIngest(spark, wh, meta)
    (1 to 2).foreach(m => ingest.ingest(TaxiFixtures.monthBatch(spark, 2024, m)))
    meta.quarantine(TaxiFixtures.monthBatch(spark, 2023, 10, 20))
    meta.quarantine(TaxiFixtures.monthBatch(spark, 2024, 1, 20)
      .filter(month(col("tpep_pickup_datetime")) === 1))
    val partitions = new java.io.File(s"$wh/meta/invalid_records").list()
      .filter(_.startsWith("pickup_month=")).sorted.toSeq
    assert(partitions == Seq("2023-10", "2023-11", "2024-01", "2024-02",
      "2024-03").map("pickup_month=" + _))

    val run = traced(ingest.ingest(TaxiFixtures.monthBatch(spark, 2024, 3)))
    assert(run.result.loaded > 0)
    val reads = run.scans.filter(_.relation.location.rootPaths
      .exists(_.toString.endsWith("invalid_records")))
    assert(reads.size == 1, s"one quarantine read expected:\n${reads.mkString("\n")}")
    val filters = reads.head.partitionFilters.mkString(" AND ")
    assert(filters.contains("pickup_month"), s"no partition filter: $filters")
    Seq("2024-02", "2024-03").foreach(m =>
      assert(filters.contains(m), s"$m missing from $filters"))
    Seq("2023-10", "2023-11", "2024-01").foreach(m =>
      assert(!filters.contains(m), s"$m not pruned by $filters"))
    assert(reads.head.metrics("numPartitions").value == 2)
  }
}
