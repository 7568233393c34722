package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bronze.BronzeIngest
import graft.gold.GoldViews
import graft.meta.MetaStore
import graft.silver.SilverRefresh
import graft.taxi.TaxiFixtures

/** End-to-end medallion pipeline — the Spark mirror of
  * `python src/etl_pipeline_run.py` (reference etl_pipeline_run.py:1-35;
  * SURVEY §3.1): month loop → bronze incremental ingest → silver full
  * refresh → gold aggregates, all in one SparkSession, with the run
  * ledger and quarantine maintained by [[graft.meta.MetaStore]].
  */
final class Pipeline(spark: SparkSession, warehouse: String,
                     log: graft.meta.StageLog = new graft.meta.StageLog()) {
  val meta = new MetaStore(spark, warehouse)
  val bronzeLayer = new BronzeIngest(spark, warehouse, meta)
  val silverLayer = new SilverRefresh(spark, warehouse)
  val goldLayer = new GoldViews(spark, warehouse)

  /** The reference's month loop (etl_pipeline_run.py:19-20) — C1. Each
    * batch supplier stands in for the monthly HTTP parquet download.
    * Per-stage durations are logged (C5, reference
    * src/utils/logging.py + incremental_ingestion.py:26-62). */
  def run(batches: Seq[() => DataFrame]): Unit = {
    batches.zipWithIndex.foreach { case (b, i) =>
      log.timed(s"bronze ingest [batch ${i + 1}/${batches.size}]") {
        bronzeLayer.ingest(b())
      }
    }
    log.timed("silver refresh")(silverLayer.refresh())
    log.timed("gold build")(goldLayer.build())
  }

  /** The reference's true entry point 2 (incremental_ingestion.py:
    * 14-62): fetch each month's parquet from the templated URL into a
    * staging directory, then run the same ingest → silver → gold as
    * [[run]]. `fetcher` is swappable so tests (and air-gapped runs)
    * use `file://` URLs; production uses the default HTTPS stream. */
  def runFromUrls(months: Seq[(Int, Int)], stagingDir: String,
                  baseUrl: String = graft.bronze.Sources.BaseUrl,
                  fetcher: graft.bronze.Sources.Fetcher =
                    graft.bronze.Sources.urlFetcher): Unit =
    run(months.map { case (year, month) =>
      () => {
        val url = graft.bronze.Sources.downloadUrl(baseUrl, year, month)
        val staged = log.timed(s"fetch $url")(
          graft.bronze.Sources.fetch(url, stagingDir, fetcher))
        spark.read.parquet(staged)
      }
    })
}

/** Demo main: generates deterministic taxi fixtures for 2024-01..03 and
  * runs the full pipeline into a local warehouse directory. */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption.getOrElse("/tmp/graft_warehouse")
    val spark = LocalSpark.session("graft-pipeline")

    val p = new Pipeline(spark, warehouse)
    p.run((1 to 3).map(m => () => TaxiFixtures.monthBatch(spark, 2024, m)))

    println(s"=== ledger ===")
    p.meta.ledger.show(20, truncate = false)
    Seq("vendor_metrics", "monthly_metrics", "payment_metrics").foreach { g =>
      println(s"=== gold.$g ===")
      spark.table(s"gold_$g").show(20, truncate = false)
    }
    spark.stop()
  }
}
