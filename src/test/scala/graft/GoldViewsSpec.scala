package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}

import graft.gold.GoldViews
import graft.schema.Schemas
import graft.silver.SilverRefresh
import graft.taxi.TaxiFixtures

/** The one-pass gold build against the per-view definitions
  * (`vendorMetrics`, `monthlyMetrics`, `paymentMetrics`): same rows,
  * ORDER BY order, the schema a Spark write produces, and the job
  * budget of a build and of a view read.
  *
  * The tests named "shared warehouse: …" share one pipeline run over
  * TaxiFixtures months 1–3 (vendor 42 → NULL vendor group, payment
  * type 9 → NULL payment group, equal-count ties in both count-ordered
  * tables); the stale-view test re-refreshes silver and so runs last.
  */
class GoldViewsSpec extends SparkTestBase {

  private lazy val wh: String = {
    val wh = Files.createTempDirectory("graft_gold_").toString
    new Pipeline(spark, wh)
      .run((1 to 3).map(m => () => TaxiFixtures.monthBatch(spark, 2024, m)))
    wh
  }

  /** (table, its per-view definition, ORDER BY column) */
  private def definitions(silver: SilverRefresh): Seq[(String, DataFrame, String)] = Seq(
    ("vendor_metrics", GoldViews.vendorMetrics(silver.fact, silver.vendorDim),
      "total_revenue"),
    ("monthly_metrics", GoldViews.monthlyMetrics(silver.fact), "total_rides"),
    ("payment_metrics",
      GoldViews.paymentMetrics(silver.fact, silver.paymentTypeDim),
      "total_trip_by_payment"))

  private def view(t: String): Seq[Row] = spark.table(s"gold_$t").collect().toSeq
  private def table(w: String, t: String): Seq[Row] =
    spark.read.parquet(s"$w/gold/$t").collect().toSeq
  private def multiset(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** Descending on `by`, NULL last; ties ascending on the group key
    * (column 0), NULL first. */
  private def assertOrdered(rows: Seq[Row], by: Int, what: String): Unit = {
    import scala.math.Ordering.Double.TotalOrdering
    val rank = (r: Row) => (r.isNullAt(by),
      if (r.isNullAt(by)) 0.0 else -r.getAs[Number](by).doubleValue,
      !r.isNullAt(0), Option(r.getString(0)).getOrElse(""))
    assert(rows == rows.sortBy(rank), s"$what out of ORDER BY order")
  }

  private def footer(dir: String) = {
    val file = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).sorted.head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(s"$dir/$file"), new Configuration()))
    try {
      val meta = reader.getFooter.getFileMetaData
      (meta.getSchema, meta.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
    } finally reader.close()
  }

  test("shared warehouse: each gold view and table equals its definition, in ORDER BY order") {
    val silver = new SilverRefresh(spark, wh)
    definitions(silver).foreach { case (t, df, by) =>
      val want = df.collect().toSeq
      val (v, p) = (view(t), table(wh, t))
      assert(multiset(v) == multiset(want), s"gold_$t view")
      assert(p == v, s"gold/$t table differs from the view")
      assert(spark.table(s"gold_$t").schema == df.schema, t)
      assertOrdered(v, df.columns.indexOf(by), t)
    }
    // the data carry the cases the order and the grouping must handle
    assert(view("vendor_metrics").exists(_.isNullAt(0)), "no NULL vendor group")
    assert(view("payment_metrics").exists(_.isNullAt(0)), "no NULL payment group")
    Seq("monthly_metrics", "payment_metrics").foreach { t =>
      val counts = view(t).map(_.getLong(1))
      assert(counts.distinct.size < counts.size, s"$t has no tie")
    }
  }

  test("shared warehouse: build() runs at most 5 jobs and a view read none") {
    val build = traced(new GoldViews(spark, wh).build())
    info(s"build: ${build.jobs} jobs (${build.bySite})")
    assert(build.jobs <= 5, build.bySite)
    definitions(new SilverRefresh(spark, wh)).foreach { case (t, _, _) =>
      val read = traced(view(t))
      assert(read.result.nonEmpty, t)
      assert(read.jobs == 0, s"gold_$t read ran ${read.bySite}")
    }
  }

  test("shared warehouse: declared-schema silver accessors read what schema inference reads") {
    val silver = new SilverRefresh(spark, wh)
    Seq(silver.fact -> "yellow_taxi", silver.vendorDim -> "vendor",
        silver.paymentTypeDim -> "payment_type", silver.ratecodeDim -> "ratecode")
      .foreach { case (declared, t) =>
        val inferred = spark.read.parquet(s"$wh/silver/$t")
        assert(declared.dtypes.toSeq == inferred.dtypes.toSeq, t)
        assert(multiset(declared.collect().toSeq) == multiset(inferred.collect().toSeq), t)
      }
  }

  test("an empty silver fact gives empty views and tables with a Spark write's schema") {
    val empty = Files.createTempDirectory("graft_gold_empty_").toString
    Setup.setup(spark, empty)
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
        Schemas.bronze.add("pickup_month", "string"))
      .write.partitionBy("pickup_month").parquet(s"$empty/bronze/yellow_taxi_raw")
    val silver = new SilverRefresh(spark, empty)
    silver.refresh()
    new GoldViews(spark, empty).build()
    definitions(silver).foreach { case (t, df, _) =>
      assert(view(t).isEmpty && table(empty, t).isEmpty, t)
      val sparkWrite = s"$empty/spark_write/$t"
      df.write.parquet(sparkWrite)
      assert(footer(s"$empty/gold/$t") == footer(sparkWrite), t)
      assert(spark.table(s"gold_$t").schema == df.schema, t)
    }
  }

  test("shared warehouse: a silver refresh without a gold rebuild leaves every view readable") {
    new GoldViews(spark, wh).build()
    new SilverRefresh(spark, wh).refresh()
    Seq("vendor_metrics", "monthly_metrics", "payment_metrics").foreach { t =>
      assert(view(t) == table(wh, t), s"gold_$t")
    }
  }
}
