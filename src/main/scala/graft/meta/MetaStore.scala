package graft.meta

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.TinyParquetShim
import org.apache.spark.sql.types.StructType

import graft.ops.Ops
import graft.schema.Schemas

/** PG `meta.status_enum` ('success','failed') as a Scala ADT
  * serialized to string — reference src/db_setup.py:110. */
sealed abstract class RunStatus(val value: String)
object RunStatus {
  case object Success extends RunStatus("success")
  case object Failed extends RunStatus("failed")
}

/** The meta layer: run ledger + quarantine, parquet-backed — the Spark
  * mirror of the reference's `meta` schema (src/db_setup.py:108-141;
  * SURVEY §2.10 C3, §2.3 J3).
  *
  * Layout under the warehouse root:
  * {{{
  *   meta/metadata_table/            append-only run ledger
  *   meta/invalid_records/           quarantine, partitioned by pickup_month
  * }}}
  * Quarantine is partitioned by month so the insert-if-absent anti-join
  * reads only the months a new row can collide with (the watermark's
  * month and later, found by listing) instead of scanning the whole
  * ever-growing table (SURVEY §7.5 risk 3) — the 100 TB posture for
  * ON CONFLICT DO NOTHING.
  */
final class MetaStore(spark: SparkSession, warehouse: String) {
  private val ledgerPath = s"$warehouse/meta/metadata_table"
  private val invalidPath = s"$warehouse/meta/invalid_records"

  /** Reference default watermark TIMESTAMP '2024-01-01'
    * (src/sql/bronze_incremental_load.sql:18-20). */
  val defaultWatermark: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")

  private def readOrEmpty(path: String, schema: StructType): DataFrame =
    if (MetaStore.pathExists(spark, path))
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def ledger: DataFrame = readOrEmpty(ledgerPath, Schemas.metadataTable)

  def invalidRecords: DataFrame =
    readOrEmpty(invalidPath,
      Schemas.bronze.add("pickup_month", "string"))

  /** Quarantine restricted to the given months — the read carries a
    * partition-column predicate, so the parquet scan keeps a
    * `PartitionFilters: [pickup_month IN (…)]` entry and touches only
    * those month directories. Every anti-join against the quarantine
    * goes through here: the right side stays O(months-in-batch) as the
    * table grows, instead of re-scanning years of history per run
    * (SURVEY §7.5 risk 3). Locked by PlanSpec. */
  def invalidRecordsForMonths(months: Seq[String]): DataFrame =
    invalidRecords.filter(col("pickup_month").isin(months: _*))

  /** `COALESCE(MAX(last_load_date), '2024-01-01')` — A1/F1
    * (bronze_incremental_load.sql:18-20). Read driver-side
    * (TinyParquetShim), no Spark job: the ledger gains one row a run
    * and stays kilobytes even after years of runs. */
  def watermark(): Timestamp =
    TinyParquetShim.readRows(spark, ledgerPath).getOrElse(Nil)
      .flatMap(r => Option(r.getAs[Timestamp]("last_load_date")))
      .reduceOption((a, b) => if (a.after(b)) a else b)
      .getOrElse(defaultWatermark)

  /** Append one run row — C3 (bronze_incremental_load.sql:67-78).
    * Written driver-side as one new part file (TinyParquetShim, the
    * same file schema a DataFrame write produces): a one-row append
    * needs no Spark job or commit protocol. */
  def appendRun(lastLoadDate: Timestamp, status: RunStatus,
                runtimeSeconds: Double, errorMessage: Option[String]): Unit =
    TinyParquetShim.appendDir(spark, Schemas.metadataTable,
      Seq(Row(lastLoadDate, status.value, runtimeSeconds,
        errorMessage.orNull)), ledgerPath)

  /** The session-timezone `yyyy-MM` month of `ts` — the key that
    * `date_format(…, "yyyy-MM")` writes as the `pickup_month` partition
    * value and that `date_trunc("month", …)` bounds (a JVM-default-zone
    * formatter would silently diverge on non-UTC hosts). */
  private[graft] def monthOf(ts: Timestamp): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")
      .withZone(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone))
      .format(ts.toInstant)

  /** Quarantine months at or after `fromMonth`, from a driver-side
    * listing of the `pickup_month=…` partition directories — no Spark
    * job, and the months come back sorted. */
  private def quarantineMonthsFrom(fromMonth: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(invalidPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s"pickup_month=$m" if m >= fromMonth => m }
      .sorted
  }

  /** The distinct composite keys of every quarantine row whose pickup
    * month is `fromMonth` or later, read once and held on the driver:
    * the result is a LocalRelation, so every action that broadcasts it
    * ships these rows instead of scanning the quarantine again.
    *
    * The months come from [[quarantineMonthsFrom]], so the one scan (one
    * Spark job; the keys are deduplicated on the driver) is
    * partition-pruned (`PartitionFilters: [pickup_month IN (…)]`) to
    * the listed months and skipped when there are none. Called with the
    * watermark's month, this slice holds every key a row newer than the
    * watermark can collide with: the key contains
    * `tpep_pickup_datetime`, and a quarantined row lives in the
    * partition of its own pickup month, which is never earlier than
    * the watermark's month for a newer row. Older quarantine history is
    * never read, so ingest cost stays flat as the table grows. */
  private[graft] def quarantinedKeysFrom(fromMonth: String): DataFrame = {
    val keys = Schemas.invalidRecordsKey
    val months = quarantineMonthsFrom(fromMonth)
    val rows =
      if (months.isEmpty) Seq.empty[Row]
      else invalidRecordsForMonths(months).select(keys.map(col): _*)
        .collect().toSeq.distinct
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(keys.map(Schemas.bronze(_))))
  }

  /** Quarantine out-of-window rows — J3 (bronze_incremental_load.sql:
    * 46-62; key src/db_setup.py:129-137). Returns the rows written.
    *
    * The rows must already be absent from the quarantine: the
    * ON-CONFLICT-DO-NOTHING half of J3 is the anti-join
    * `BronzeIngest.ingest` runs against [[quarantinedKeysFrom]] before
    * it splits the batch, and that slice covers every month these rows
    * can fall in. Here the rows are only key-deduplicated among
    * themselves, so one batch cannot insert the same key twice.
    *
    * Scale posture: one Spark action, the partitioned append; the
    * written-row count rides along as an `Observation` on that write
    * instead of a separate `count()` re-running the plan. */
  def quarantine(outOfWindow: DataFrame): Long = {
    val withMonth = outOfWindow.withColumn("pickup_month",
      date_format(col("tpep_pickup_datetime"), "yyyy-MM"))
    val fresh = Ops.dedupFirst(withMonth, Schemas.invalidRecordsKey,
      Seq(col("tpep_dropoff_datetime"), col("fare_amount")))
    val written = Observation()
    fresh.observe(written, count(lit(1)).as("n"))
      .write.mode("append").partitionBy("pickup_month")
      .parquet(invalidPath)
    written.get("n").asInstanceOf[Long]
  }
}

object MetaStore {
  /** Existence probe through the Hadoop FileSystem API, so the
    * warehouse can live on any supported filesystem (file://, hdfs://,
    * s3a://, …) — `java.io.File` silently answered false for every
    * non-local URI, making a remote warehouse look forever empty. */
  private[graft] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
