package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.ext.{KeywordIndex, StoredIndex}

/** Continuous keyword-index ingestion: a file-source stream watches a
  * staging directory for document parquet drops and maintains a
  * stored [[KeywordIndex]] through `foreachBatch` — first batch
  * builds, every later batch flows through [[KeywordIndex.append]]
  * (one batch tokenize, O(batch) meta update). The third member of
  * the streaming-maintenance matrix beside [[StreamingAnnIngest]]
  * (dense) and [[StreamingDedupIngest]] (identity): with it, every
  * stored-index family the engine serves can be kept current by a
  * stream, and a compliance takedown reaches all three through the
  * same [[Takedown]] protocol.
  *
  * Postures, idempotency layering, crash windows and their remedies
  * are [[StreamingAnnIngest]]'s verbatim (see its scaladoc for the
  * narrative): `storeDir = Some(dir)` is the serving posture (durable
  * per-batch text store written BEFORE each index mutation → crash
  * self-heal by rebuild-from-store, full takedown protocol);
  * `None` is index-only (no duplicate text storage; takedowns
  * unsupported through the stream; a crash mid-append fails loudly
  * instead of silently rebuilding from one replayed micro-batch).
  * The already-indexed gate is bloom-gated and reads `doclens` (one
  * row per doc) on suspicion — never the postings.
  */
final class StreamingKeywordIngest(spark: SparkSession, indexDir: String,
                                   compactAfterFiles: Int = 64,
                                   storeDir: Option[String] = None) {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Index everything currently staged, then return. */
  def ingestAvailable(stagingDir: String, checkpointDir: String): Unit = {
    val q = spark.readStream
      .schema(docSchema)
      .parquet(stagingDir)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          if (!batch.isEmpty) { ingestBatch(batch.toDF(), batchId); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The accumulated accepted documents (store posture only) — the
    * rebuild source for crash recovery and the row source for
    * [[retract]]'s un-mix. */
  def store(): DataFrame = {
    val dir = requireStore("store")
    StoreMaintenance.heal(spark, dir)
    spark.read.parquet(dir).select("doc_id", "text")
  }

  /** The text store as of micro-batch `maxBatch` (inclusive) —
    * partition-pruned reproducibility read; see
    * [[StreamingAnnIngest.storeAsOf]]. Store posture only. */
  def storeAsOf(maxBatch: Long): DataFrame =
    StoreMaintenance.asOf(spark, requireStore("storeAsOf"), maxBatch)
      .select("doc_id", "text")

  /** Documents accepted in batches (fromBatch, toBatch] — the
    * incremental read. Store posture only. */
  def storeDelta(fromBatch: Long, toBatch: Long): DataFrame =
    StoreMaintenance.delta(spark, requireStore("storeDelta"),
      fromBatch, toBatch).select("doc_id", "text")

  /** (batch, n_rows) ledger of landed micro-batches. Store posture
    * only. */
  def batchLedger(): DataFrame =
    StoreMaintenance.batches(spark, requireStore("batchLedger"))

  /** Bootstrap a VIRGIN store-posture ingest from an existing text
    * corpus (seed partition `batch=-1`, index built over it) —
    * [[StreamingAnnIngest.seed]]'s contract, refuses a non-virgin
    * target. */
  def seed(df: DataFrame): Unit = {
    val dir = requireStore("seed")
    val storePath = new org.apache.hadoop.fs.Path(dir)
    require(!storePath.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(storePath),
      s"seed: text store already exists at $dir — seeding is " +
        "bootstrap-only; ingest new documents through the stream")
    require(!StoredIndex.isCommitted(spark, indexDir),
      s"seed: index already exists at $indexDir")
    val fresh = dropRetracted(df.dropDuplicates("doc_id"))
      .localCheckpoint()
    writePartition(fresh, dir, -1L)
    foldAcceptedKmv(fresh)
    KeywordIndex.build(store(), indexDir)
  }

  /** Rewrite over-threshold batch dirs of the text store down to one
    * file each. Returns rewritten-dir count. Store posture only. */
  def compactStores(maxFilesPerBatch: Int = 4): Int =
    StoreMaintenance.compactStore(spark, requireStore("compactStores"),
      maxFilesPerBatch)

  /** Sticky takedown-intent ledger beside the text store — see
    * [[StreamingAnnIngest]]: ledgered ids drop BEFORE the
    * already-indexed gate on every micro-batch, so a re-delivered
    * retracted id is never re-admitted, including after a compaction
    * materialized its tombstone. */
  private def retractedDir = storeDir.map(_ + "_retracted")

  private def dropRetracted(df: DataFrame): DataFrame =
    retractedDir match {
      case None => df
      case Some(ld) => Takedown.dropLedgered(spark, ld, df, "doc_id")
    }

  private def requireStore(what: String): String =
    storeDir.getOrElse(throw new IllegalStateException(
      s"StreamingKeywordIngest.$what requires the durable text store " +
        "posture: construct the ingest with storeDir = Some(dir). " +
        "Without a store the retracted documents cannot be un-mixed " +
        "from the index or kept out of at-least-once replays — " +
        "execute takedowns against the owning corpus and rebuild " +
        "instead."))

  /** End-to-end takedown (store posture only) — [[Takedown.retract]]
    * with this family's bindings: sticky ledger beside the text
    * store, partition-pruned store purge, then
    * [[KeywordIndex.remove]] (O(batch) tombstone + XOR-unmixed meta)
    * — or a rebuild from the purged store when crash residue makes
    * the un-mix impossible. Idempotent under replay; a takedown
    * before any ingest completes as a ledger-only retraction. */
  def retract(ids: DataFrame): Unit = {
    val dir = requireStore("retract")
    Takedown.retract(spark, StoredIndex.holdIds(ids, "doc_id"), "doc_id",
      Seq("text"),
      ledgerDir = dir + "_retracted",
      primaryStore = dir, extraStores = Nil,
      liveIds = KeywordIndex.liveIndexedIds(spark, indexDir)
        .withColumnRenamed("id", "doc_id"),
      removeRows = (rows, ids) =>
        KeywordIndex.removeHeld(rows, ids, indexDir),
      rebuild = () => KeywordIndex.build(store(), indexDir))
  }

  /** Predicate takedown (store posture only): resolve `cond` against
    * the durable text store and [[retract]] the matched ids.
    * Evaluated once, at call time — not a standing ban. */
  def retractWhere(cond: org.apache.spark.sql.Column): Unit = {
    val dir = requireStore("retractWhere")
    Takedown.idsMatching(spark, Seq(dir), cond, "doc_id", Seq("text"))
      .map(_.localCheckpoint()).filter(!_.isEmpty)
      .foreach(ids => retract(ids))
  }

  /** [[Takedown.purgeStore]] bound to this family's columns — also
    * the crash-simulation hook StreamingSpec drives by reflection. */
  private def purgeStore(root: String, ids: DataFrame): Unit =
    Takedown.purgeStore(spark, root, ids, "doc_id", Seq("text"))

  private def fs =
    new org.apache.hadoop.fs.Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Durable KMV distinct-count gauge beside the text store (store
    * posture only — the index-only posture has no durable home for
    * it): [[graft.ext.Sketches]]' stored state folded per accepted
    * batch inside the commit window, so [[health]] carries
    * `accepted_ids_kmv_est` from ≤ k stored rows. Monotone (ever-
    * accepted; a takedown doesn't subtract — sketches are
    * insert-only; live mass is `store_rows`). Fold ordering and
    * replay/crash convergence are [[StreamingDedupIngest]]'s: after
    * the store partition write, before the index mutation; re-folds
    * are no-ops by the distinct-hash set identity, a torn gauge swap
    * heals exactly. */
  private def kmvDir = storeDir.map(_ + "_kmv")

  private def foldAcceptedKmv(rows: DataFrame): Unit =
    kmvDir.foreach { kd =>
      if (graft.ext.Sketches.kmvHeal(spark, kd))
        graft.ext.Sketches.kmvFold(spark, kd, rows, col("doc_id"))
      else graft.ext.Sketches.kmvWrite(
        graft.ext.Sketches.kmvState(store(), col("doc_id")), kd)
    }

  // id-sorted part files → tight parquet row-group id stats → a
  // takedown's pushed IN predicate prunes on footers alone
  private def writePartition(df: DataFrame, root: String,
                             batchId: Long): Unit =
    df.select("doc_id", "text").sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$root/batch=$batchId")

  /** Operational health of the whole ingest: the index family's
    * frame ([[KeywordIndex.health]] — df histogram, accretion debt,
    * LSM split, bloom armed) extended with the store-side gauges.
    * Store posture only. */
  def health(): DataFrame = {
    import graft.ext.StoredIndex
    requireStore("health")
    val retracted = retractedDir
      .map(d => Takedown.ledgerCountRow(spark, d, "doc_id",
        "retracted_ids"))
      .getOrElse(StoredIndex.litMetricRow(spark, "retracted_ids", 0d))
    // distinct ids ever accepted, from the stored KMV gauge (see
    // kmvDir); pre-gauge stores bootstrap from the live store
    kmvDir.foreach(kd =>
      if (!graft.ext.Sketches.kmvHeal(spark, kd))
        graft.ext.Sketches.kmvWrite(
          graft.ext.Sketches.kmvState(store(), col("doc_id")), kd))
    KeywordIndex.health(spark, indexDir)
      .unionByName(StoredIndex.metricRow("accepted_ids_kmv_est",
        graft.ext.Sketches.kmvReport(spark, kmvDir.get),
        sum(col("n_distinct_est"))))
      .unionByName(StoredIndex.metricRow("store_rows",
        store(), count(lit(1L))))
      .unionByName(StoredIndex.metricRow("store_batches",
        batchLedger(), count(lit(1L))))
      .unionByName(retracted)
      .orderBy("metric")
  }

  /** Rebuild the stream-maintained index from the durable text store
    * with serve-while-rebuilding semantics
    * ([[KeywordIndex.rebuildStaged]]) — the periodic remedy for long
    * append-chain accretion and tombstone debt without a serve
    * outage. Store posture only. */
  def retrain(): Unit =
    KeywordIndex.rebuildStaged(store(), indexDir)

  private def ingestBatch(batch: DataFrame, batchId: Long): Unit = {
    val fresh = dropRetracted(batch.dropDuplicates("doc_id"))
      .localCheckpoint()
    // no early return on an empty batch — the crash-recovery check
    // must run regardless (StreamingAnnIngest's NOTE applies)
    if (!StoredIndex.isCommitted(spark, indexDir)) {
      val orphaned = Seq("postings", "doclens", "stats").filter(a =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$a")))
      val storeExists = storeDir.exists { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      if (orphaned.nonEmpty && !storeExists)
        throw new IllegalStateException(
          s"keyword index at $indexDir has assets " +
            s"(${orphaned.mkString(", ")}) but no meta commit marker " +
            "— a crash mid-append invalidated it. Rebuild from the " +
            "durable corpus (KeywordIndex.build) or delete the index " +
            "dir to rebuild from the stream, then restart the ingest.")
      if (orphaned.nonEmpty) {
        KeywordIndex.build(store(), indexDir)
        if (!fresh.isEmpty) appendGated(fresh, batchId)
      } else if (!fresh.isEmpty) {
        storeDir.foreach(d => writePartition(fresh, d, batchId))
        foldAcceptedKmv(fresh)
        KeywordIndex.build(if (storeDir.isDefined) store() else fresh,
          indexDir)
      }
    } else if (!fresh.isEmpty) appendGated(fresh, batchId)
  }

  private def appendGated(fresh: DataFrame, batchId: Long): Unit = {
    // bloom-gated already-indexed filter; the suspicion read is the
    // one-row-per-doc doclens asset, never the postings
    val newOnly = graft.ext.StoredIndex.bloomGatedNewOnly(
      spark, indexDir, fresh, "doc_id",
      StoredIndex.readAsset(spark, "KeywordIndex", indexDir, "doclens")
        .select(col("id").as("doc_id")))
      .localCheckpoint()
    if (!newOnly.isEmpty) {
      // store FIRST, then the gauge fold, then the index (the
      // shared crash ordering; see foldAcceptedKmv)
      storeDir.foreach(d => writePartition(newOnly, d, batchId))
      foldAcceptedKmv(newOnly)
      KeywordIndex.append(newOnly, indexDir, checkIds = false)
      KeywordIndex.maybeCompact(spark, indexDir, compactAfterFiles)
    }
  }
}
