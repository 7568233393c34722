package graft.bronze

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{MetaStore, RunStatus}
import graft.ops.Ops
import graft.schema.Schemas

/** Result of one incremental load, mirroring what the reference logs
  * (src/incremental_ingestion.py:55-70). */
final case class IngestResult(loaded: Long, quarantined: Long,
                              watermark: Timestamp, seconds: Double)

/** Incremental bronze load — the Spark re-expression of the PL/pgSQL
  * stored procedure `bronze.incremental_load()`
  * (reference src/sql/bronze_incremental_load.sql:1-81; SURVEY §3.2).
  *
  * Semantics implemented (the documented contract, README.md:148-153):
  * rows strictly newer than the high-water-mark that fall inside the
  * batch's calendar month are appended to bronze; newer rows outside
  * that month are quarantined with key-dedup; the watermark is then
  * recomputed from bronze itself so re-runs are no-ops (idempotency,
  * README.md:166-173). Divergence, documented per SURVEY §7.5-4: the
  * reference derives the month window from the *previous watermark's*
  * month (bronze_incremental_load.sql:22-24 — an acknowledged accident;
  * the sql:7 comment and README.md:145-147 describe the original
  * design), which lags ingestion one month behind the file being
  * loaded. We derive it from the incoming batch's earliest new pickup,
  * which is the behavior the README documents.
  *
  * Scale posture: a month with out-of-window rows costs about nine
  * Spark jobs, a re-ingest three, whatever the quarantine's history.
  * In order:
  *  1. the watermark, read driver-side from the ledger (no job);
  *  2. the quarantine keys of the watermark's month and later, one
  *     partition-pruned scan whose months come from a driver-side
  *     listing, held on the driver ([[MetaStore.quarantinedKeysFrom]]);
  *     skipped when no such partition exists;
  *  3. one count of the new rows (newer than the watermark, anti-
  *     joined against those keys) by pickup month, each partition
  *     counting its own and the driver summing them: the earliest
  *     month is the window, its count is `loaded`, and any later month
  *     holds rows to quarantine;
  *  4. the bronze append of the window month, then the watermark
  *     recompute, a top-1 job over the window month's bronze
  *     partition;
  *  5. beside step 4, on a second thread that is joined before step 6
  *     (`Ops.alongside`), and only when step 3 saw a later month: the
  *     quarantine append, which counts its rows through an
  *     `Observation` on the write;
  *  6. the ledger row, written driver-side (no job).
  * A re-ingest stops after step 3 and writes the ledger row. Only
  * steps 3-5 read the batch; each of them also runs one small job that
  * broadcasts the driver-held keys of step 2. Steps 4 and 5 write
  * different tables and neither reads what the other writes, so
  * overlapping them changes no result; a failure in either fails the
  * call once both are done. The one partial state this adds, the
  * quarantine written and bronze not, re-runs cleanly: the anti-join
  * skips the quarantined rows, and they never lie in the window month.
  * Listing-derived months are equivalent to the batch's own: the
  * quarantine key contains `tpep_pickup_datetime`, so a new row can
  * only collide with a quarantined row of its own pickup month, and no
  * new row is older than the watermark's month. The window is "the
  * earliest pickup month of the new rows" in the session timezone —
  * the `yyyy-MM` key the partition values use, and the month
  * `date_trunc("month", …)` starts for the earliest new row.
  */
final class BronzeIngest(spark: SparkSession, warehouse: String,
                         meta: MetaStore) {
  private val bronzePath = s"$warehouse/bronze/yellow_taxi_raw"

  def bronze: DataFrame =
    if (MetaStore.pathExists(spark, bronzePath))
      spark.read.schema(Schemas.bronze.add("pickup_month", "string"))
        .parquet(bronzePath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.bronze.add("pickup_month", "string"))

  /** Load one monthly batch (the reference's staged `raw_stage` temp
    * table, src/incremental_ingestion.py:35-52, arrives here as a
    * DataFrame). Returns counts + the new watermark; appends a ledger
    * row in all cases and rethrows on failure (C2/C3,
    * bronze_incremental_load.sql:67-79). */
  def ingest(batch: DataFrame): IngestResult = {
    val t0 = System.nanoTime()
    try {
      val lld = meta.watermark()

      // "New" = newer than the watermark AND not already quarantined.
      // Without the anti-join, a re-run would see last run's
      // quarantined stragglers as the start of a fresh month and load
      // them — breaking idempotency (C4). The PG reference gets this
      // for free from the invalid_records composite PK; our analog is
      // the same left-anti join used for ON CONFLICT (J3), against the
      // driver-held keys of the quarantine months a new row can hit.
      val newRows = batch.filter(col("tpep_pickup_datetime") > lit(lld))
        .join(broadcast(meta.quarantinedKeysFrom(meta.monthOf(lld))),
          Schemas.invalidRecordsKey, "left_anti")
        .withColumn("pickup_month",
          date_format(col("tpep_pickup_datetime"), "yyyy-MM"))

      // (month, rows) of the new rows, earliest month first: the
      // first is the window, the rest are out of window.
      val months = BronzeIngest.rowsPerMonth(newRows)
      val result = months.headOption match {
        case None => // nothing newer than the watermark: idempotent no-op
          IngestResult(0L, 0L, lld, 0.0)
        case Some((window, loaded)) =>
          val inWindow = col("pickup_month") === window
          // The quarantine append touches neither bronze nor the
          // ledger, so it runs beside the bronze append and the
          // watermark recompute instead of after them.
          val (wm, quarantined) = Ops.alongside(
            if (months.length > 1) meta.quarantine(newRows.filter(!inWindow))
            else 0L) {
            newRows.filter(inWindow)
              .write.mode("append").partitionBy("pickup_month")
              .parquet(bronzePath)
            // Recompute the watermark from bronze *contents* within the
            // window — not from the batch — so partial failures re-run
            // cleanly (C4, bronze_incremental_load.sql:64-65). The
            // pickup_month filter makes this a partition-pruned scan.
            Ops.maxOf(bronze.filter(col("pickup_month") === window),
                "tpep_pickup_datetime") match {
              case t: Timestamp => t
              case _ => lld
            }
          }
          IngestResult(loaded, quarantined, wm, 0.0)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      meta.appendRun(result.watermark, RunStatus.Success, secs, None)
      result.copy(seconds = secs)
    } catch {
      case e: Throwable =>
        val secs = (System.nanoTime() - t0) / 1e9
        meta.appendRun(meta.defaultWatermark, RunStatus.Failed, secs,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
        throw e
    }
  }
}

object BronzeIngest {

  /** (pickup_month, rows) of `rows`, earliest month first. Each
    * partition counts its own months and the driver sums the few
    * (month, count) pairs: one Spark job, where a grouped aggregate
    * costs adaptive execution a second one for its shuffle. */
  private def rowsPerMonth(rows: DataFrame): Seq[(String, Long)] = {
    import rows.sparkSession.implicits._
    rows.select("pickup_month").as[String].mapPartitions { it =>
      val n = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(m => n(m) = n.getOrElse(m, 0L) + 1)
      n.iterator
    }.collect().toSeq.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
  }
}
