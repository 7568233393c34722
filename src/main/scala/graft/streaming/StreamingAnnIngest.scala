package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType,
  StructField, StructType}

import graft.ext.{AnnIndex, StoredIndex}

/** Continuous ANN-index ingestion: a file-source stream watches a
  * staging directory for embedding parquet drops and maintains a
  * stored [[AnnIndex]] through `foreachBatch` — first batch builds
  * the index, every later batch flows through [[AnnIndex.append]]
  * (encode/assign against the STORED assets, O(batch) meta update).
  * The embedding-pipeline sibling of [[StreamingDedupIngest]], and
  * the production shape for "index the new documents as they land":
  * `Trigger.AvailableNow` processes everything staged then stops; a
  * processing-time trigger turns the same code into a service.
  *
  * Idempotency layering, matching the bronze ingest's C4 discipline:
  * checkpointing makes restarts exactly-once at the MICRO-BATCH
  * level, and the bloom-gated already-indexed filter (the d7
  * incremental-dedup gate, keyed on the compact postings' nid
  * column, never the vectors) makes re-delivered ROWS a no-op —
  * append's own duplicate-id guard is disabled because this gate
  * subsumes it (the guard throws on overlap; at-least-once delivery
  * wants overlap silently skipped instead).
  *
  * Two operating postures, by `storeDir`:
  *
  *  - `Some(dir)` — the SERVING posture, symmetric with the dedup
  *    twin: accepted vectors land in a durable per-batch-partitioned
  *    store BEFORE each index append, which buys (a) automatic crash
  *    recovery — a meta-less index beside orphaned assets rebuilds
  *    from the store, never from the replayed micro-batch — and
  *    (b) [[retract]], the full compliance-takedown protocol
  *    ([[Takedown]]): sticky intent ledger, store purge, index
  *    un-mix, crash-residue rebuild. A production deployment serving
  *    search from the streamed index should run this posture.
  *
  *  - `None` — index-only: no duplicate storage when the embedding
  *    corpus is durably owned elsewhere. Takedowns are UNSUPPORTED
  *    through the stream ([[retract]] fails loudly — without a store
  *    the retracted vectors cannot be un-mixed or kept out of
  *    replays); execute them against the owning corpus and rebuild.
  *    A crash INSIDE an append (postings written, meta not yet
  *    rewritten) must NOT self-heal here: the stream holds no corpus
  *    handle, so "rebuild from the current micro-batch" would
  *    silently replace an index holding every previously ingested
  *    vector with one holding ONLY the replayed batch — meta-valid,
  *    serving wrong neighbors, no detectable invariant violation.
  *    [[ingestBatch]] therefore fails loudly with the operator
  *    remedy (AnnIndex.build from the durable corpus, or wipe the
  *    index dir to accept a from-scratch stream rebuild).
  */
final class StreamingAnnIngest(spark: SparkSession, indexDir: String,
                               compactAfterFiles: Int = 64,
                               storeDir: Option[String] = None) {

  private val embeddingSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Index everything currently staged, then return. */
  def ingestAvailable(stagingDir: String, checkpointDir: String): Unit = {
    val q = spark.readStream
      .schema(embeddingSchema)
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

  /** The accumulated accepted vectors (store posture only), read
    * from the per-batch partition dirs — the rebuild source for
    * crash recovery and the row source for [[retract]]'s un-mix. */
  def store(): DataFrame = {
    val dir = requireStore("store")
    // resolve any crashed compactStores swap FIRST: this read feeds
    // the crash-recovery index rebuild, which must never lose a
    // batch to a half-finished store compaction
    StoreMaintenance.heal(spark, dir)
    spark.read.parquet(dir).select("vec_id", "embedding")
  }

  /** The vector store as of micro-batch `maxBatch` (inclusive) —
    * the reproducibility read: re-serves exactly what the ingest had
    * accepted at that batch, bit-identical after later batches land
    * (modulo takedowns, which purge history in place by design).
    * Partition-pruned on the batch dirs ([[StoreMaintenance.asOf]]).
    * Store posture only. */
  def storeAsOf(maxBatch: Long): DataFrame =
    StoreMaintenance.asOf(spark, requireStore("storeAsOf"), maxBatch)
      .select("vec_id", "embedding")

  /** The vectors accepted in batches (fromBatch, toBatch] — the
    * incremental read, partition-pruned on both bounds.
    * storeAsOf(to) ≡ storeAsOf(from) ∪ delta(from, to). Store
    * posture only. */
  def storeDelta(fromBatch: Long, toBatch: Long): DataFrame =
    StoreMaintenance.delta(spark, requireStore("storeDelta"),
      fromBatch, toBatch).select("vec_id", "embedding")

  /** (batch, n_rows) ledger of landed micro-batches — the spine the
    * as-of contract pins against. Store posture only. */
  def batchLedger(): DataFrame =
    StoreMaintenance.batches(spark, requireStore("batchLedger"))

  /** Bootstrap a VIRGIN store-posture ingest from an existing vector
    * corpus: the seed lands as partition `batch=-1` and the index
    * builds over it, so streamed drops append only not-yet-indexed
    * ids against the seeded state ([[StreamingDedupIngest.seed]]'s
    * contract — refuses a non-virgin target). */
  def seed(df: DataFrame): Unit = {
    val dir = requireStore("seed")
    val storePath = new org.apache.hadoop.fs.Path(dir)
    require(!storePath.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(storePath),
      s"seed: vector store already exists at $dir — seeding is " +
        "bootstrap-only; ingest new vectors through the stream")
    require(!StoredIndex.isCommitted(spark, indexDir),
      s"seed: index already exists at $indexDir")
    val fresh = dropRetracted(df.dropDuplicates("vec_id"))
      .localCheckpoint()
    writePartition(fresh, dir, -1L)
    AnnIndex.build(store(), indexDir)
  }

  /** Rewrite over-threshold batch dirs of the vector store down to
    * one file each ([[StoreMaintenance.compactStore]] — crash-safe,
    * layout-preserving). Returns rewritten-dir count. Store posture
    * only. */
  def compactStores(maxFilesPerBatch: Int = 4): Int =
    StoreMaintenance.compactStore(spark, requireStore("compactStores"),
      maxFilesPerBatch)

  /** Sticky takedown-intent ledger beside the vector store — the
    * exact [[StreamingDedupIngest]] discipline: every micro-batch
    * drops ledgered ids BEFORE the already-indexed gate, so a
    * re-delivered retracted id can never be re-admitted — including
    * after a compaction has materialized its tombstone, the window
    * where the raw-postings anti-join alone would wave it through as
    * definitely-new. */
  private def retractedDir = storeDir.map(_ + "_retracted")

  private def dropRetracted(df: DataFrame): DataFrame =
    retractedDir match {
      case None => df
      case Some(ld) => Takedown.dropLedgered(spark, ld, df, "vec_id")
    }

  private def requireStore(what: String): String =
    storeDir.getOrElse(throw new IllegalStateException(
      s"StreamingAnnIngest.$what requires the durable vector store " +
        "posture: construct the ingest with storeDir = Some(dir). " +
        "Without a store the retracted vectors cannot be un-mixed " +
        "from the index or kept out of at-least-once replays — " +
        "execute takedowns against the owning corpus and rebuild " +
        "instead."))

  /** End-to-end takedown (store posture only) — [[Takedown.retract]]
    * with this family's bindings: ledger beside the vector store,
    * purge the store, then [[AnnIndex.remove]] (O(batch) tombstone +
    * XOR-unmixed meta; postings untouched until compact) — or a
    * rebuild from the purged store when crash residue makes the
    * un-mix impossible. Idempotent: replaying the same takedown
    * batch is a no-op that leaves the ledger untouched. A takedown
    * arriving before any batch was ingested completes as a
    * ledger-only retraction. */
  def retract(ids: DataFrame): Unit =
    retractHeld(StoredIndex.holdIds(ids, "vec_id"))

  /** [[retract]] of a held id set ([[StoredIndex.holdIds]], resolved
    * once by the caller). */
  private[streaming] def retractHeld(
      want: StoredIndex.Tombstones): Unit = {
    val dir = requireStore("retract")
    Takedown.retract(spark, want, "vec_id", Seq("embedding"),
      ledgerDir = dir + "_retracted",
      primaryStore = dir, extraStores = Nil,
      liveIds = AnnIndex.liveIndexedIds(spark, indexDir)
        .withColumnRenamed("id", "vec_id"),
      removeRows = (rows, ids) => AnnIndex.removeHeld(rows, ids, indexDir),
      rebuild = () => AnnIndex.build(store(), indexDir))
  }

  /** Predicate takedown (store posture only): resolve `cond`
    * against the durable vector store ([[Takedown.idsMatching]])
    * and execute [[retract]] over the matched ids. A no-op when no
    * store exists yet or nothing matches; evaluated once, at call
    * time — not a standing ban on future rows. */
  def retractWhere(cond: org.apache.spark.sql.Column): Unit = {
    val dir = requireStore("retractWhere")
    Takedown.idsMatching(spark, Seq(dir), cond,
        "vec_id", Seq("embedding"))
      .map(_.localCheckpoint()).filter(!_.isEmpty)
      .foreach(ids => retract(ids))
  }

  /** [[Takedown.purgeStore]] bound to this family's columns — also
    * the crash-simulation hook StreamingSpec drives by reflection. */
  private def purgeStore(root: String, ids: DataFrame): Unit =
    Takedown.purgeStore(spark, root, ids, "vec_id", Seq("embedding"))

  private def fs =
    new org.apache.hadoop.fs.Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  // id-sorted within each part file so parquet row-group id stats
  // are tight — what makes a takedown's pushed IN predicate skip
  // unaffected row groups on footers alone (StoredIndex.semiIdFilter)
  private def writePartition(df: DataFrame, root: String,
                             batchId: Long): Unit =
    df.select("vec_id", "embedding").sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$root/batch=$batchId")

  /** Operational health of the WHOLE ingest —
    * [[StreamingDedupIngest.health]]'s ANN twin: the index family's
    * frame ([[AnnIndex.health]]: LSM split, live posting histogram —
    * the retrain signal — bloom armed) extended with the store-side
    * gauges: `store_rows` (durable vector mass), `store_batches`
    * (landed micro-batch dirs incl. a seed), `retracted_ids` (sticky
    * compliance ledger size). Store posture only. */
  def health(): DataFrame = {
    import graft.ext.StoredIndex
    val dir = requireStore("health")
    val retracted = retractedDir
      .map(d => Takedown.ledgerCountRow(spark, d, "vec_id",
        "retracted_ids"))
      .getOrElse(StoredIndex.litMetricRow(spark, "retracted_ids", 0d))
    AnnIndex.health(spark, indexDir)
      .unionByName(StoredIndex.metricRow("store_rows",
        store(), count(lit(1L))))
      .unionByName(StoredIndex.metricRow("store_batches",
        batchLedger(), count(lit(1L))))
      .unionByName(retracted)
      .orderBy("metric")
  }

  /** Retrain the stream-maintained index from the durable vector
    * store with FRESH centroids/codebook — the actionable response
    * to [[graft.ext.AnnIndex.health]]'s hot-spot signal when a long
    * streamed append chain has drifted away from the original
    * training distribution. Serve-while-rebuilding
    * ([[AnnIndex.rebuildStaged]]): probes keep validating and
    * serving the OLD index for the entire O(N·K) staged rebuild;
    * only the rename-sized swap window is unserveable. Store
    * posture only (the store is what holds the raw vectors a
    * retrain must re-encode). */
  def retrain(): Unit =
    AnnIndex.rebuildStaged(store(), indexDir)

  private def ingestBatch(batch: DataFrame, batchId: Long): Unit = {
    // in-batch dedup first (a staged drop may repeat ids), then the
    // sticky takedown filter (store posture — see retractedDir);
    // localCheckpoint: build/append each run several passes (identity
    // agg, codebook, encode, assign) — materialize the micro-batch
    // once instead of re-reading the source files per pass
    val fresh = dropRetracted(batch.dropDuplicates("vec_id"))
      .localCheckpoint()
    // NOTE: no early return on an empty batch — the crash-recovery
    // check below must run regardless, or a batch whose rows were
    // all retracted/duplicate would commit its checkpoint while
    // leaving a meta-less (crashed-append) index unrepaired
    if (!StoredIndex.isCommitted(spark, indexDir)) {
      val orphaned = Seq("postings", "centroids", "codebook").filter(a =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$a")))
      val storeExists = storeDir.exists { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      if (orphaned.nonEmpty && !storeExists)
        // no meta: EITHER a never-built dir (safe to build from this
        // first batch) OR a crash mid-append left assets without
        // their commit marker — with no durable store, building from
        // the micro-batch would drop all previously ingested vectors
        // behind a meta-valid index, so fail loudly and leave the
        // decision to the operator
        throw new IllegalStateException(
          s"ANN index at $indexDir has assets " +
            s"(${orphaned.mkString(", ")}) but no meta commit marker " +
            "— a crash mid-append invalidated it. Rebuild from the " +
            "durable corpus (AnnIndex.build) or delete the index dir " +
            "to rebuild from the stream, then restart the ingest.")
      if (orphaned.nonEmpty) {
        // crash mid-append under the STORE posture: the store holds
        // at least everything ever indexed (written BEFORE each
        // append), so rebuilding from it — never from the replayed
        // batch — is lossless; the replay then re-gates against the
        // rebuilt index
        AnnIndex.build(store(), indexDir)
        if (!fresh.isEmpty) appendGated(fresh, batchId)
      } else if (!fresh.isEmpty) {
        // first batch seeds the index (and the store, when present —
        // built FROM the store, like the dedup twin, so the built
        // index is exactly what a store rebuild would produce)
        storeDir.foreach(d => writePartition(fresh, d, batchId))
        AnnIndex.build(if (storeDir.isDefined) store() else fresh,
          indexDir)
      }
    } else if (!fresh.isEmpty) appendGated(fresh, batchId)
  }

  private def appendGated(fresh: DataFrame, batchId: Long): Unit = {
    // bloom-gated already-indexed filter: rows the stored id bloom
    // rules out are DEFINITELY new and never read the postings (the
    // common all-new batch short-circuits — StoredIndex); might-
    // contain rows (true repeats + bloom FPP) take the exact
    // anti-join. Pre-bloom indexes fall back to the full anti-join.
    val newOnly = graft.ext.StoredIndex.bloomGatedNewOnly(
      spark, indexDir, fresh, "vec_id",
      StoredIndex.readAsset(spark, "AnnIndex", indexDir, "postings")
        .select(col("nid").as("vec_id")))
      .localCheckpoint()
    if (!newOnly.isEmpty) {
      // store FIRST, then index: a crash between the two leaves a
      // valid index missing this batch — the replay re-gates and
      // re-appends (its store partition rewrite is idempotent); a
      // crash INSIDE append leaves no meta, and the next run
      // rebuilds from the store (see ingestBatch) or fails loudly
      // in the index-only posture
      storeDir.foreach(d => writePartition(newOnly, d, batchId))
      AnnIndex.append(newOnly, indexDir, checkIds = false)
      // self-maintenance: bound the small-file accretion of a long
      // append chain. A crash mid-compaction invalidates the meta;
      // recovery is the same path as a crashed append (store
      // rebuild, or the loud failure without one).
      AnnIndex.maybeCompact(spark, indexDir, compactAfterFiles)
    }
  }
}
