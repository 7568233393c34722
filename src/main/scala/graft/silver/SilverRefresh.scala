package graft.silver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Ops
import graft.schema.Schemas

/** Silver full refresh — dims + cleaned, deduplicated, month-partitioned
  * fact (reference src/sql/silver_full_refresh_transformation.sql:1-72;
  * SURVEY §2.1 S9: silver is rebuilt from scratch each run, which in
  * Spark is `write.mode("overwrite")`).
  */
final class SilverRefresh(spark: SparkSession, warehouse: String) {
  import SilverRefresh._

  private val bronzePath = s"$warehouse/bronze/yellow_taxi_raw"
  private def dimPath(name: String) = s"$warehouse/silver/$name"
  private val factPath = s"$warehouse/silver/yellow_taxi"

  private def bronze: DataFrame =
    read(Schemas.bronze.add("pickup_month", "string"), bronzePath)

  /** Build all three dims + the fact; full refresh (overwrite). */
  def refresh(): Unit = {
    writeVendorDim()
    writeStaticDims()
    writeFact()
  }

  /** silver.vendor: DISTINCT vendorid from bronze + CASE decode to the
    * four known vendor names, unmapped → NULL (reference
    * silver_full_refresh_transformation.sql:3-11; SURVEY A3 + F6).
    * DISTINCT over a single int column: partial hash-dedup map-side,
    * tiny shuffle — scales to any bronze size. */
  def writeVendorDim(): Unit =
    bronze.select("vendorid").distinct()
      .withColumn("vendor", Ops.decodeByMap(col("vendorid"), VendorNames))
      .write.mode("overwrite").parquet(dimPath("vendor"))

  /** silver.payment_type + silver.ratecode: inline VALUES dims
    * (reference silver_full_refresh_transformation.sql:14-31; S6). */
  def writeStaticDims(): Unit = {
    import spark.implicits._
    PaymentTypes.toDF("payment_type_id", "payment_type")
      .write.mode("overwrite").parquet(dimPath("payment_type"))
    Ratecodes.toDF("ratecodeid", "rate")
      .write.mode("overwrite").parquet(dimPath("ratecode"))
  }

  /** The cleaned fact: full-row dedup (W1 — the reference's
    * ROW_NUMBER-over-all-columns reduces to dropDuplicates, SURVEY
    * §2.5), text→int casts (F7/F8), derived minute_duration (F5),
    * written partitioned by pickup month (the reference's 12 RANGE
    * partitions, src/db_setup.py:210-271). */
  def writeFact(): Unit =
    transformFact(bronze)
      .write.mode("overwrite").partitionBy("pickup_month")
      .parquet(factPath)

  /** The silver tables, read with their declared schemas: no
    * schema-inference job, and an empty fact dir reads as 0 rows. */
  def fact: DataFrame = read(Schemas.silverFact, factPath)
  def vendorDim: DataFrame = read(Schemas.vendorDim, dimPath("vendor"))
  def paymentTypeDim: DataFrame =
    read(Schemas.paymentTypeDim, dimPath("payment_type"))
  def ratecodeDim: DataFrame = read(Schemas.ratecodeDim, dimPath("ratecode"))

  private def read(schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)
}

object SilverRefresh {

  /** Vendor id → name CASE mapping (reference
    * silver_full_refresh_transformation.sql:4-9). */
  val VendorNames: Seq[(Any, String)] = Seq(
    1 -> "Creative Mobile Technologies, LLC",
    2 -> "Curb Mobility, LLC",
    6 -> "Myle Technologies Inc",
    7 -> "Helix")

  /** Payment-type dim rows (reference
    * silver_full_refresh_transformation.sql:24-31). */
  val PaymentTypes: Seq[(Int, String)] = Seq(
    0 -> "Flex Fare trip",
    1 -> "Credit card",
    2 -> "Cash",
    3 -> "No charge",
    4 -> "Dispute",
    5 -> "Unknown",
    6 -> "Voided trip")

  /** Ratecode dim rows (reference
    * silver_full_refresh_transformation.sql:14-21). */
  val Ratecodes: Seq[(Int, String)] = Seq(
    1 -> "Standard rate",
    2 -> "JFK",
    3 -> "Newark",
    4 -> "Nassau or Westchester",
    5 -> "Negotiated fare",
    6 -> "Group ride",
    99 -> "Null/unknown")

  /** Bronze → silver fact transformation, as a pure function for unit
    * testing (reference silver_full_refresh_transformation.sql:34-72). */
  def transformFact(bronzeDf: DataFrame): DataFrame =
    Ops.dedupExact(bronzeDf.select(Schemas.bronzeCols.map(col): _*))
      .withColumn("ratecodeid", Ops.castTextToInt(col("ratecodeid")))
      .withColumn("payment_type", col("payment_type").cast("int"))
      .withColumn("minute_duration", Ops.minuteDuration(
        col("tpep_dropoff_datetime"), col("tpep_pickup_datetime")))
      .withColumn("pickup_month",
        date_format(col("tpep_pickup_datetime"), "yyyy-MM"))
}
