package graft.gold

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.TinyParquetShim

import graft.ops.Ops
import graft.silver.SilverRefresh

/** Gold aggregate layer — the three BI views of the reference
  * (src/sql/gold_aggregate_layer.sql:1-38), materialized to parquet
  * (BI-consumable, README.md:203 — SURVEY §2.1 S7) and registered as
  * the `gold_*` temp views.
  *
  * One pass: silver is read with its declared schemas, the fact is
  * joined to the two tiny broadcast dims (both left joins, no
  * sort-merge join anywhere — SURVEY §2.3: every reference join is
  * fact × tiny dim) and aggregated ONCE over the grouping sets
  * (vendor), (month), (payment_type): one fact scan, one shuffle. The
  * result is collected, split by `grouping_id` into the three tables
  * and ordered on the driver.
  *
  * Why holding it on the driver is safe at any silver size: the groups
  * are vendor names (≤ 4 + NULL), month names (≤ 12) and payment-type
  * names (≤ 7 + NULL), so gold is at most 25 rows. Each table is
  * written driver-side (TinyParquetShim, no Spark job) and each view
  * is a `LocalRelation` over the same rows, so a read runs no job.
  *
  * Freshness: the views and the gold tables are one snapshot, that of
  * the last `build()` — a later silver refresh shows up after the next
  * build, which `Pipeline.run` always runs after silver. The reference
  * leaves its views lazy; these are not, so a read never re-scans
  * silver.
  *
  * `vendorMetrics`, `monthlyMetrics` and `paymentMetrics` are the
  * per-view definitions: they fix each table's schema and are the
  * oracle the one-pass build is tested against.
  */
final class GoldViews(spark: SparkSession, warehouse: String) {
  import GoldViews._

  def build(): Unit = {
    val silver = new SilverRefresh(spark, warehouse)
    val (fact, vendor, paymentType) =
      (silver.fact, silver.vendorDim, silver.paymentTypeDim)
    val all = allMetrics(fact, vendor, paymentType)
    val rows = all.collect().toSeq
    val gid = all.columns.indexOf("gid")
    Tables.foreach { t =>
      val schema = t.metrics(fact, vendor, paymentType).schema
      val idx = t.cols.map(all.columns.indexOf(_))
      val table = ordered(
        rows.filter(_.getInt(gid) == t.groupingId)
          .map(r => Row.fromSeq(idx.map(r.get))),
        t.cols.indexOf(t.orderBy))
      TinyParquetShim.overwriteDir(spark, schema, table,
        s"$warehouse/gold/${t.name}")
      spark.createDataFrame(table.asJava, schema)
        .createOrReplaceTempView(s"gold_${t.name}")
    }
  }
}

object GoldViews {

  /** gold.vendor_metrics (reference gold_aggregate_layer.sql:3-12):
    * LEFT JOIN vendor dim, group by vendor name (NULL key kept — A7),
    * count/sum/rounded-avg, revenue-descending. */
  def vendorMetrics(fact: DataFrame, vendor: DataFrame): DataFrame =
    fact.join(broadcast(vendor), Seq("vendorid"), "left")
      .groupBy("vendor")
      .agg(count(lit(1)).as("total_trips"),
           Ops.sumMoney(col("total_amount")).as("total_revenue"),
           Ops.avgMoney(col("minute_duration")).as("avg_trip_duration"))
      .orderBy(desc("total_revenue"))

  /** gold.monthly_metrics (reference gold_aggregate_layer.sql:15-23):
    * group by month name of pickup (computed key — A5/F4). */
  def monthlyMetrics(fact: DataFrame): DataFrame =
    fact.groupBy(Ops.monthName(col("tpep_pickup_datetime")).as("month"))
      .agg(count(lit(1)).as("total_rides"),
           Ops.avgMoney(col("minute_duration")).as("avg_duration"),
           Ops.avgMoney(col("trip_distance")).as("avg_distance"))
      .orderBy(desc("total_rides"))

  /** gold.payment_metrics (reference gold_aggregate_layer.sql:29-38). */
  def paymentMetrics(fact: DataFrame, paymentType: DataFrame): DataFrame =
    fact.join(broadcast(paymentType),
        fact("payment_type") === paymentType("payment_type_id"), "left")
      .groupBy(paymentType("payment_type"))
      .agg(count(lit(1)).as("total_trip_by_payment"),
           Ops.avgMoney(col("trip_distance")).as("avg_trip_distance"),
           Ops.avgMoney(col("minute_duration")).as("avg_trip_duration"))
      .orderBy(desc("total_trip_by_payment"))

  /** One gold table: its `grouping_id` in [[allMetrics]], the columns
    * of [[allMetrics]] it keeps (group key first) and its ORDER BY
    * column. */
  private final case class Table(
      name: String, groupingId: Int, cols: Seq[String], orderBy: String,
      metrics: (DataFrame, DataFrame, DataFrame) => DataFrame)

  // grouping_id sets the bit of every key a set leaves out, the first
  // key (vendor) being the high bit
  private val Tables = Seq(
    Table("vendor_metrics", 3, Seq("vendor", "trips", "revenue", "duration"),
      "revenue", (f, v, _) => vendorMetrics(f, v)),
    Table("monthly_metrics", 5, Seq("month", "trips", "duration", "distance"),
      "trips", (f, _, _) => monthlyMetrics(f)),
    Table("payment_metrics", 6,
      Seq("payment_name", "trips", "distance", "duration"),
      "trips", (f, _, p) => paymentMetrics(f, p)))

  /** The three gold aggregates in one pass: fact × broadcast vendor ×
    * broadcast payment-type dim (left joins; both dims are unique on
    * their join key — a DISTINCT and a VALUES list — so neither join
    * repeats a fact row), then one aggregate over the grouping sets
    * (vendor), (month), (payment_name), tagged by column `gid`. */
  private[graft] def allMetrics(fact: DataFrame, vendor: DataFrame,
                                paymentType: DataFrame): DataFrame = {
    val payment = paymentType.select(col("payment_type_id"),
      col("payment_type").as("payment_name"))
    val keys = Seq(col("vendor"), col("month"), col("payment_name"))
    fact.join(broadcast(vendor), Seq("vendorid"), "left")
      .join(broadcast(payment),
        col("payment_type") === col("payment_type_id"), "left")
      .withColumn("month", Ops.monthName(col("tpep_pickup_datetime")))
      .groupingSets(keys.map(Seq(_)), keys: _*)
      .agg(grouping_id().cast("int").as("gid"),
           count(lit(1)).as("trips"),
           Ops.sumMoney(col("total_amount")).as("revenue"),
           Ops.avgMoney(col("minute_duration")).as("duration"),
           Ops.avgMoney(col("trip_distance")).as("distance"))
  }

  /** `orderBy` descending with NULL last (as `desc()` orders), ties
    * broken on the group key ascending, NULL first: one valid order of
    * the reference's ORDER BY, and a deterministic one. */
  private def ordered(rows: Seq[Row], orderBy: Int): Seq[Row] = {
    def desc(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => 1
      case (_, null) => -1
      case (x: Long, y: Long) => java.lang.Long.compare(y, x)
      case (x: Double, y: Double) =>
        if (x == y) 0 else java.lang.Double.compare(y, x)
    }
    val key = Ordering.Option(Ordering.String)
    rows.sortWith { (a, b) =>
      val c = desc(a.get(orderBy), b.get(orderBy))
      if (c != 0) c < 0
      else key.lt(Option(a.getString(0)), Option(b.getString(0)))
    }
  }
}
