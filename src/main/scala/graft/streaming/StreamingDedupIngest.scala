package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.ext.{DedupIndex, StoredIndex}

/** Continuous corpus ingestion WITH near-dup gating — the d15 stored
  * dedup index maintained by a stream, the document-pipeline sibling
  * of [[StreamingAnnIngest]] and the production shape for "dedup the
  * firehose against everything already accepted": a file-source
  * stream watches a staging directory for document parquet drops;
  * each micro-batch is probed against the STORED bucket index
  * (O(batch + candidates) — the corpus is never re-banded), near-dups
  * are quarantined, and the clean remainder is appended to BOTH the
  * durable corpus store and the index. `Trigger.AvailableNow`
  * processes everything staged then stops; a processing-time trigger
  * turns the same code into a service.
  *
  * Idempotency layering (the bronze C4 discipline, stream-adapted):
  *  - checkpointing makes restarts exactly-once at the micro-batch
  *    level;
  *  - re-delivered ROWS are skipped by the bloom-gated
  *    already-indexed filter (ids the stored id bloom rules out are
  *    definitely new; might-contain ids take the exact anti-join
  *    against the shard id lists) — so append's own duplicate-id
  *    guard is safely disabled;
  *  - corpus and quarantine writes land in per-micro-batch partition
  *    directories with overwrite, so a replayed batch REWRITES its
  *    own partition instead of duplicating rows.
  *
  * Crash recovery differs from [[StreamingAnnIngest]] ON PURPOSE: the
  * ANN ingest holds no durable corpus, so missing-meta-with-assets
  * must fail loudly. HERE the corpus store is co-maintained and
  * durable — written BEFORE the index append, so at every crash
  * point it contains at least everything the index ever indexed —
  * which makes the safe remedy automatic: rebuild the index FROM THE
  * CORPUS STORE (never from the replayed micro-batch) and continue.
  * If the corpus store is itself missing beside orphaned index
  * assets, that is real corruption and the ingest still fails
  * loudly.
  */
object StreamingDedupIngest {

  /** Drop a frame into a staging dir as ONE uniquely-named top-level
    * parquet file — the shape the file stream source discovers
    * (non-recursive listing). Shared by the specs and the registered
    * st11 replay. */
  def stage(df: DataFrame, stagingDir: String, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_")
    df.coalesce(1).write.parquet(s"$tmp/out")
    val part = new java.io.File(s"$tmp/out").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stagingDir))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(stagingDir, s"$name.parquet"))
  }
}

/** @param admit optional ADMISSION PREDICATE over the batch columns
  *   (e.g. `TextAnalysis.qualityScore(col("text")) >= 0.5` — the
  *   quality gate every training pipeline runs beside dedup): rows
  *   failing it (or evaluating to NULL) are quarantined alongside the
  *   near-dups — a rejected document never costs a probe and is
  *   never indexed. The predicate runs AFTER the re-delivery gate,
  *   so a re-delivered already-accepted id (e.g. a readmitted
  *   quality reject) is dropped as already-indexed and can never be
  *   re-quarantined by the predicate. Deterministic w.r.t. the row
  *   by construction (a Column, not a stateful callback), so replays
  *   re-derive the same verdict and every crash-recovery argument is
  *   unchanged. [[seed]] is deliberately ungated: it
  *   bootstraps from an existing corpus the caller vouches for.
  *   [[readmit]] overrides the verdict for quality rejects exactly as
  *   it does for near-dup false positives — that is its job. */
final class StreamingDedupIngest(spark: SparkSession, indexDir: String,
                                 corpusDir: String, quarantineDir: String,
                                 threshold: Double = 0.4,
                                 compactAfterFiles: Int = 64,
                                 admit: Option[org.apache.spark.sql.Column] =
                                   None,
                                 histBinWidth: Long = 16L) {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Ingest everything currently staged, then return. */
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

  /** The accumulated accepted corpus (text + ids), read from the
    * per-batch partition dirs. This is the document side of the d15
    * split: the index holds signatures, THIS store holds text — and
    * probe's exact-Jaccard verification reads it for candidate ids
    * only. */
  def corpus(): DataFrame = {
    // resolve any crashed compactStores swap FIRST: this read feeds
    // the crash-recovery index rebuild, which must never lose a
    // batch to a half-finished store compaction
    StoreMaintenance.heal(spark, corpusDir)
    spark.read.parquet(corpusDir).select("doc_id", "text")
  }

  /** The accepted corpus as of micro-batch `maxBatch` (inclusive) —
    * the reproducibility read a training run pins its inputs with:
    * re-serves exactly what the ingest had accepted at that batch,
    * bit-identical after any number of later drops (modulo
    * takedowns, which purge history in place by design — an as-of
    * read never resurrects retracted text). Partition-pruned on the
    * batch dirs ([[StoreMaintenance.asOf]]); later batches are never
    * opened. */
  def corpusAsOf(maxBatch: Long): DataFrame =
    StoreMaintenance.asOf(spark, corpusDir, maxBatch)
      .select("doc_id", "text")

  /** The documents accepted in batches (fromBatch, toBatch] — the
    * incremental-training read: train on exactly what arrived since
    * the run that stopped at `fromBatch`, partition-pruned on both
    * bounds. corpusAsOf(to) ≡ corpusAsOf(from) ∪ delta(from, to). */
  def corpusDelta(fromBatch: Long, toBatch: Long): DataFrame =
    StoreMaintenance.delta(spark, corpusDir, fromBatch, toBatch)
      .select("doc_id", "text")

  /** (batch, n_rows) ledger of landed micro-batches over the
    * accepted corpus — the spine the as-of contract pins against
    * ([[StoreMaintenance.batches]]). */
  def batchLedger(): DataFrame =
    StoreMaintenance.batches(spark, corpusDir)

  /** The highest landed batch id (−1 when nothing landed) — the
    * ledger's `max(batch)` from the partition-dir listing alone,
    * driver-side, no Spark job ([[StoreMaintenance.maxLandedBatch]]).
    * What the coordinator sync marks and the hist-gauge watermark
    * seed actually need from the ledger. */
  def maxLandedBatch(): Long =
    StoreMaintenance.maxLandedBatch(spark, corpusDir)

  /** Bootstrap a VIRGIN ingest from an existing batch corpus: the
    * seed lands as partition `batch=-1` (below any micro-batch id,
    * so as-of/delta reads order it before every streamed drop) and
    * the index builds over it — the first streamed drop then GATES
    * against the seeded corpus instead of seeding itself. The seed
    * is taken as-is (in-batch id dedup + the sticky takedown filter
    * only): dedup the bootstrap corpus upstream (e1/e2) — gating a
    * corpus against itself is a batch job, not an ingest. Refuses a
    * non-virgin target: seeding UNDER an existing corpus/index would
    * silently bypass the gate for every seeded doc. */
  def seed(df: DataFrame): Unit = {
    val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
    require(!corpusPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(corpusPath),
      s"seed: corpus store already exists at $corpusDir — seeding is " +
        "bootstrap-only; ingest new documents through the stream")
    require(!StoredIndex.isCommitted(spark, indexDir),
      s"seed: index already exists at $indexDir")
    val fresh = dropRetracted(df.dropDuplicates("doc_id"))
      .localCheckpoint()
    writePartition(fresh, corpusDir, -1L)
    foldInParallel(
      () => foldAcceptedKmv(fresh),
      () => foldAcceptedSample(fresh),
      () => foldAcceptedHist(fresh, -1L))
    DedupIndex.build(corpus(), indexDir)
  }

  /** Rewrite over-threshold batch dirs of BOTH durable stores
    * (corpus and quarantine) down to one file each
    * ([[StoreMaintenance.compactStore]] — crash-safe swap,
    * batch=… layout preserved so as-of, replay idempotency, and
    * purge pruning survive). Returns the rewritten-dir count: the
    * long-running ingest's answer to the streaming small-file
    * liability, priced O(over-threshold batches), never
    * corpus-sized. */
  def compactStores(maxFilesPerBatch: Int = 4): Int =
    StoreMaintenance.compactStore(spark, corpusDir, maxFilesPerBatch) +
      StoreMaintenance.compactStore(spark, quarantineDir,
        maxFilesPerBatch)

  /** Durable takedown-intent ledger beside the corpus store:
    * [[retract]] records the ids HERE FIRST, and every micro-batch
    * drops ledgered ids before gating. Without it, a narrow replay
    * window could resurrect a takedown: a crash between a batch's
    * corpus write and its index append leaves the batch uncommitted
    * in the checkpoint; if the takedown for one of its docs runs
    * before the stream restarts (purging the doc, with nothing live
    * in the index to tombstone), the replayed batch would re-gate
    * the doc as definitely-new and re-ingest the retracted text.
    * The ledger makes retraction STICKY: once an id is recorded, no
    * replay or future drop can re-admit it ([[Takedown]]). */
  private val retractedDir = corpusDir + "_retracted"

  private def dropRetracted(df: DataFrame): DataFrame =
    Takedown.dropLedgered(spark, retractedDir, df, "doc_id")

  private def fs =
    new org.apache.hadoop.fs.Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Run independent control-plane mutations (the three gauge folds
    * — distinct stores, no shared state) concurrently from driver
    * threads, so their small jobs overlap instead of serializing
    * (guide §2.6: actions are only sequential because the driver
    * calls them sequentially). Exceptions propagate — the first
    * failure rethrows after all threads finish, preserving the
    * all-folds-before-index-append crash ordering. Runs on
    * [[StoredIndex]]'s shared bounded pool (guide §2.6: 2-3 jobs in
    * flight is plenty; the former thread-per-fold had no cap). */
  private def foldInParallel(fns: (() => Unit)*): Unit =
    StoredIndex.inParallel(fns: _*)

  /** Durable KMV distinct-count gauge beside the corpus store — the
    * stored [[graft.ext.Sketches]] state folded per accepted batch
    * (a25's lifecycle wired into the ingest), so the health datacard
    * carries `accepted_ids_kmv_est` from ≤ k stored rows without
    * ever re-scanning the corpus. Semantics: distinct doc ids EVER
    * ACCEPTED — monotone like the takedown ledger (a sketch is
    * insert-only; the live mass is `store_corpus_rows`). */
  private val kmvDir = corpusDir + "_kmv"

  /** Fold newly accepted ids into the gauge — called AFTER the
    * corpus partition write and BEFORE the index mutation, so every
    * crash window converges under replay: rows not yet indexed pass
    * the bloom gate again and re-fold, which is a no-op by the
    * distinct-hash set identity ([[graft.ext.Sketches.kmvFold]]'s
    * replay-idempotence); a crash inside the gauge swap itself heals
    * exactly (rename-swap + [[graft.ext.Sketches.kmvHeal]]). */
  private def foldAcceptedKmv(rows: DataFrame): Unit =
    if (graft.ext.Sketches.kmvHeal(spark, kmvDir))
      graft.ext.Sketches.kmvFold(spark, kmvDir, rows, col("doc_id"))
    else bootstrapKmv()

  /** Seed the gauge from the live corpus ids — the bootstrap for
    * pre-gauge stores (one keys-only corpus pass; under-counts
    * ever-accepted only by docs retracted BEFORE the gauge existed,
    * the unknowable residue of upgrading in place). The corpus
    * already holds any rows the caller just wrote, so the seed
    * covers them. */
  private def bootstrapKmv(): Unit =
    graft.ext.Sketches.kmvWrite(
      graft.ext.Sketches.kmvState(corpus(), col("doc_id")), kmvDir)

  /** Durable deterministic document sample beside the corpus store —
    * the stored [[graft.ext.Sketches]] SAMPLE gauge (a26's
    * lifecycle wired into the ingest): the k hash-smallest accepted
    * (doc_id, text) rows, folded per accepted batch, so a datacard
    * can show k representative live documents from ≤ k stored rows
    * with the corpus never re-scanned. Unlike the hash-only KMV
    * gauge this one stores CONTENT, so it is NOT monotone:
    * [[retract]] purges sampled rows (compliance), leaving exactly
    * the live prefix ([[graft.ext.Sketches.sampleRemove]]'s
    * argument). */
  private val sampleDir = corpusDir + "_sample"

  /** Fold newly accepted rows into the document sample —
    * [[foldAcceptedKmv]]'s call sites and crash/replay posture
    * verbatim (full-row set semantics absorb a re-delivered batch;
    * the rename-swap heals exactly). `checkKeys = false`: the store
    * is doc_id-unique by construction (dropDuplicates at seed, the
    * bloom re-delivery gate on every batch), so the per-batch
    * uniqueness shuffle would re-verify an upstream invariant. */
  private def foldAcceptedSample(rows: DataFrame): Unit =
    if (graft.ext.Sketches.kmvHeal(spark, sampleDir))
      graft.ext.Sketches.sampleFold(spark, sampleDir,
        rows.select("doc_id", "text"), "doc_id", checkKeys = false)
    else bootstrapSample()

  /** Seed the sample from the live corpus — the pre-gauge-store
    * bootstrap ([[bootstrapKmv]]'s posture; one corpus pass). The
    * live corpus IS the population here (retracted rows are already
    * purged from it), so the bootstrap needs no removal replay. */
  private def bootstrapSample(): Unit =
    graft.ext.Sketches.sampleWrite(
      graft.ext.Sketches.sampleState(corpus(), "doc_id",
        checkKeys = false), sampleDir)

  /** The k hash-smallest live accepted documents — a deterministic
    * uniform sample served from ≤ k stored rows (the corpus is
    * never scanned), (hf, doc_id)-ordered. Bootstraps a pre-gauge
    * store on first read. */
  def sampledDocs(): DataFrame = {
    if (!graft.ext.Sketches.kmvHeal(spark, sampleDir))
      bootstrapSample()
    graft.ext.Sketches.sampleReport(spark, sampleDir, "doc_id")
  }

  /** Durable doc-length histogram beside the corpus store — the
    * EXACT member of the datacard gauge trio ([[graft.ext.Sketches]]'
    * additive (bin, n) state, a27's lifecycle wired into the
    * ingest beside the KMV and sample folds): accepted documents'
    * char lengths, binned at `histBinWidth`, folded per accepted
    * batch, so [[health]] serves p50/p95 length (and any drift
    * monitor the stored bins) from O(bins) rows with the corpus
    * never re-scanned. Semantics: the LIVE accepted corpus — unlike
    * the insert-only KMV, a takedown SUBTRACTS the retracted rows'
    * mass exactly ([[graft.ext.Sketches.histRemoveMarked]], the
    * additive inverse no sketch has).
    *
    * Replay posture — the one property addition does not give for
    * free: the fold is gated by a batch-id WATERMARK carried inside
    * the gauge's atomic swap ([[graft.ext.Sketches.histFoldMarked]]),
    * so the store-written-but-index-uncommitted crash window, whose
    * replayed batch re-passes the bloom gate, re-folds NOTHING
    * (mark already at the batch). [[readmit]]'s correction fold is
    * keyed on its bloom-gated not-yet-indexed split instead (no
    * batch to gate on) — its one crash window (fold landed, index
    * append didn't) can double-count readmitted rows and is healed
    * by [[reseedHist]], the documented remedy. */
  private val histDir = corpusDir + "_hist"

  private def histValue = length(col("text")).cast("long")

  private def foldAcceptedHist(rows: DataFrame, batchId: Long): Unit =
    if (graft.ext.Sketches.kmvHeal(spark, histDir))
      graft.ext.Sketches.histFoldMarked(spark, histDir, rows,
        histValue, batchId, histBinWidth)
    else bootstrapHist()

  /** Seed the gauge from the live corpus — the pre-gauge-store
    * bootstrap ([[bootstrapKmv]]'s posture) and the [[reseedHist]]
    * heal: one corpus pass, watermarked at the ledger's max landed
    * batch (the corpus already holds anything the caller just
    * wrote, so the seed covers it). */
  private def bootstrapHist(): Unit =
    graft.ext.Sketches.histWriteMarked(
      graft.ext.Sketches.histState(corpus(), histValue, histBinWidth),
      histDir, maxLandedBatch())

  /** Re-derive the histogram gauge from the live corpus — O(corpus),
    * control-plane: the documented heal for [[readmit]]'s fold
    * window (and for any suspected drift — the reseeded gauge IS
    * the one-shot truth). */
  def reseedHist(): Unit = {
    require(new org.apache.hadoop.fs.Path(corpusDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(corpusDir)),
      s"reseedHist: no corpus store at $corpusDir")
    bootstrapHist()
  }

  /** The stored doc-length histogram, bin-ordered — O(bins) rows
    * read. Bootstraps a pre-gauge store on first read. */
  def doclenHist(): DataFrame = {
    if (!graft.ext.Sketches.kmvHeal(spark, histDir)) reseedHist()
    graft.ext.Sketches.histReport(spark, histDir)
  }

  /** EXACT discrete doc-length quantiles from the stored gauge
    * ([[graft.ext.Sketches.histQuantile]]) — O(bins), the corpus
    * never re-scanned. */
  def doclenQuantiles(qs: Seq[Double]): DataFrame = {
    if (!graft.ext.Sketches.kmvHeal(spark, histDir)) reseedHist()
    graft.ext.Sketches.histQuantile(spark, histDir, qs)
  }

  // id-sorted within each part file so parquet row-group id stats
  // are tight — what makes a takedown's pushed IN predicate skip
  // unaffected row groups on footers alone (StoredIndex.semiIdFilter)
  private def writePartition(df: DataFrame, root: String,
                             batchId: Long): Unit =
    df.select("doc_id", "text").sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$root/batch=$batchId")

  /** End-to-end takedown — [[Takedown.retract]] with this family's
    * bindings: ledger beside the corpus store, purge corpus AND
    * quarantine (a retracted document must not survive as a
    * quarantined near-dup copy), then [[DedupIndex.remove]] — or a
    * rebuild from the purged corpus store when crash residue makes
    * the XOR un-mix impossible. See [[Takedown]] for why the
    * ledger-stores-index ordering is the only one that survives a
    * crash at every point; until a residue-resolving replay, the
    * stale index entries are contained — content-free signature
    * hashes that can never reach probe OUTPUT (exact-Jaccard
    * verification inner-joins the corpus text, which no longer has
    * the row), with the sticky ledger keeping any re-delivery out.
    * A takedown arriving before any batch was ingested completes as
    * a ledger-only retraction. */
  def retract(ids: DataFrame): Unit =
    retractHeld(StoredIndex.holdIds(ids, "doc_id"))

  /** [[retract]] of a held id set ([[StoredIndex.holdIds]], resolved
    * once by the caller); returns the corpus rows of the request as they
    * were before the purge ([[Takedown.retract]]). */
  private[streaming] def retractHeld(
      want: StoredIndex.Tombstones): Option[Takedown.Fetched] = {
    val fetched = Takedown.retract(spark, want, "doc_id", Seq("text"),
      ledgerDir = retractedDir,
      primaryStore = corpusDir, extraStores = Seq(quarantineDir),
      liveIds = DedupIndex.liveIndexedIds(spark, indexDir)
        .withColumnRenamed("id", "doc_id"),
      removeRows = (rows, ids) => DedupIndex.removeHeld(rows, ids, indexDir),
      rebuild = () => DedupIndex.build(corpus(), indexDir))
    // the document SAMPLE stores content, so the takedown must purge
    // it too — idempotent (a key not sampled purges vacuously), so a
    // crash between the store purge above and here converges on the
    // re-run, exactly like the ledger/stores/index windows
    if (graft.ext.Sketches.kmvHeal(spark, sampleDir))
      graft.ext.Sketches.sampleRemove(spark, sampleDir,
        want.frame().toDF("doc_id"), "doc_id")
    // the hist gauge tracks the LIVE accepted corpus, so the takedown
    // subtracts the retracted rows' length mass exactly — from the
    // rows fetched BEFORE the purge (the corpus store was their only
    // source of text). A RE-RUN fetches from an already-purged store,
    // gets nothing, and subtracts nothing — idempotent; the crash
    // window between the purge and this subtract leaves the gauge
    // over-counting, healed by reseedHist.
    fetched.filter(f => !Takedown.isEmpty(f.ids)).foreach(f =>
      if (graft.ext.Sketches.kmvHeal(spark, histDir))
        graft.ext.Sketches.histRemoveMarked(spark, histDir, f.rows,
          histValue, histBinWidth))
    fetched
  }

  /** Predicate takedown: resolve `cond` against the durable stores
    * (corpus AND quarantine — [[Takedown.idsMatching]]) and execute
    * [[retract]] over the matched ids. A no-op when no store exists
    * yet or nothing matches; the predicate is evaluated once, at
    * call time — it does not become a standing ban on future rows. */
  def retractWhere(cond: org.apache.spark.sql.Column): Unit =
    Takedown.idsMatching(spark, Seq(corpusDir, quarantineDir), cond,
        "doc_id", Seq("text"))
      .map(_.localCheckpoint()).filter(!_.isEmpty)
      .foreach(ids => retract(ids))

  /** [[Takedown.purgeStore]] bound to this family's columns — the
    * crash-simulation hook StreamingSpec drives by reflection. */
  private def purgeStore(root: String, ids: DataFrame): Unit =
    Takedown.purgeStore(spark, root, ids, "doc_id", Seq("text"))

  /** Reverse a FALSE-POSITIVE gate decision: move quarantined
    * documents into the accepted corpus and index them — the human-
    * review recovery path the quarantine store exists to serve (a
    * near-dup verdict a reviewer overrules: boilerplate-heavy but
    * distinct docs, a threshold set too low for a subdomain).
    *
    * Each document re-enters its ORIGINAL batch partition — the
    * corrected history IS "the gate accepted it in batch N", so
    * as-of/delta reads at cuts >= N serve it exactly as if the gate
    * had been right, and no synthetic batch id can ever collide with
    * a future micro-batch's idempotent partition rewrite. (Like a
    * takedown, this pierces already-taken as-of snapshots in place —
    * any correction of history must.)
    *
    * Refusals are loud, not silent: every requested id must be
    * quarantined RIGHT NOW (readmitting an accepted or never-seen id
    * is a caller bug), and none may be retraction-ledgered
    * (readmitting a taken-down document contradicts the sticky
    * compliance guarantee — route genuinely-returning content
    * through a fresh ingest id).
    *
    * Crash-ordering (converges under re-run, never loses the doc):
    * corpus partitions gain the rows FIRST (idempotent: the rewrite
    * unions existing-minus-want), the index appends the not-yet-
    * indexed ids second (bloom-gated, so a re-run skips them), the
    * quarantine purge runs LAST — a crash at any point leaves the
    * document in at least one durable store and a re-run completes
    * the move. Serial per-affected-batch rewrites, same bound as
    * [[Takedown.purgeStore]]: review-scale id lists, not corpora. */
  def readmit(ids: DataFrame): Unit =
    readmitHeld(StoredIndex.holdIds(ids, "doc_id"))

  /** [[readmit]] of a held id set ([[StoredIndex.holdIds]]). */
  private[streaming] def readmitHeld(want: StoredIndex.Tombstones): Unit = {
    Takedown.ledgerSet(spark, retractedDir, "doc_id").foreach { r =>
      require(Takedown.isEmpty(Takedown.intersect(spark, want, r)),
        "readmit: request names retraction-ledgered ids — a taken-" +
          "down document cannot be readmitted (sticky compliance " +
          "guarantee); ingest genuinely-returning content under a " +
          "fresh id")
    }
    val quarPath = new org.apache.hadoop.fs.Path(quarantineDir)
    require(quarPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(quarPath),
      s"readmit: no quarantine store at $quarantineDir")
    // the quarantined rows, with the batch each arrived in
    val rows = StoredIndex.semiIdFilter(want, spark.read.parquet(quarantineDir)
        .select(col("doc_id"), col("text"),
          col("batch").cast("long").as("batch")), "doc_id")
      .localCheckpoint()
    // their keys: the missing count, the corpus partitions to
    // re-enter and the quarantine partitions to purge
    val found = Takedown.keysOf(spark, want, rows, "doc_id")
    val nFound = Takedown.size(found.ids)
    val nMissing = Takedown.size(want) - nFound
    require(nMissing == 0L,
      s"readmit: $nMissing requested id(s) are not quarantined — " +
        "only currently-quarantined documents can be readmitted")
    // a quarantined document a later drop re-delivered is quarantined
    // again under that drop's batch: its original batch is ambiguous,
    // and readmitting every copy would write it into two corpus
    // partitions and append it to the index twice
    val nRepeated = found.rows() - nFound
    require(nRepeated == 0L,
      s"readmit: $nRepeated surplus quarantine row(s) repeat requested " +
        "ids in more than one batch (a quarantined document re-" +
        "delivered later) — such a document cannot be readmitted")
    val affected = found.batches
    // 1. corpus partitions FIRST, idempotent per batch dir
    affected.foreach { b =>
      val pdir = s"$corpusDir/batch=$b"
      val pPath = new org.apache.hadoop.fs.Path(pdir)
      val incoming = rows.filter(col("batch") === b)
        .select("doc_id", "text")
      val merged = (if (pPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(pPath))
        StoredIndex.antiIdFilter(want,
            spark.read.option("basePath", corpusDir).parquet(pdir)
              .select("doc_id", "text"), "doc_id")
          .unionByName(incoming)
      else incoming).localCheckpoint() // materialize before overwrite
      merged.write.mode("overwrite").parquet(pdir)
    }
    // the readmitted ids are now accepted — fold them before the
    // index append (a re-run re-folds, a no-op by set identity)
    foldAcceptedKmv(rows.select("doc_id"))
    foldAcceptedSample(rows)
    // 2. index the not-yet-indexed readmits (bloom-gated: a crash
    // re-run that already appended them skips here)
    val newOnly = StoredIndex.bloomGatedNewOnly(
      spark, indexDir, rows.select("doc_id", "text"), "doc_id",
      spark.read.parquet(s"$indexDir/buckets")
        .select(explode(col("ids")).as("doc_id")).distinct())
      .localCheckpoint()
    if (!newOnly.isEmpty) {
      // hist correction fold, keyed on the SAME not-yet-indexed
      // split (readmits land in batches already at-or-below the
      // watermark, so the batch gate cannot key it): a crash between
      // this fold and the append double-counts on the re-run — the
      // one documented window, healed by reseedHist
      if (graft.ext.Sketches.kmvHeal(spark, histDir))
        graft.ext.Sketches.histAddMarked(spark, histDir,
          newOnly, histValue, histBinWidth)
      DedupIndex.append(newOnly, indexDir, checkIds = false)
    }
    // 3. quarantine purge LAST: until here a crash leaves the doc
    // quarantined (and possibly also accepted) — re-run converges
    Takedown.purgeStore(spark, quarantineDir, want, "doc_id", Seq("text"),
      Some(affected))
  }

  /** Operational health of the WHOLE ingest — the index family's
    * `health` frame ([[DedupIndex.health]]: live/tombstoned split,
    * bucket histogram, accretion debt, bloom armed) extended with
    * the store-side gauges an ingest deployment watches:
    * `store_corpus_rows` / `store_quarantine_rows` (accept vs
    * quarantine mass — a quarantine share trending up is the
    * boilerplate-ingest signal), `store_batches` (landed micro-batch
    * dirs incl. a seed, the small-file pressure `compactStores`
    * clears), `retracted_ids` (the sticky compliance ledger's size —
    * monotone by design). One composed plan; counts come from
    * parquet footers, text never read. */
  def health(): DataFrame = {
    import graft.ext.{DedupIndex, StoredIndex}
    val quarPath = new org.apache.hadoop.fs.Path(quarantineDir)
    val quarRows =
      if (quarPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(quarPath))
        StoredIndex.metricRow("store_quarantine_rows",
          spark.read.parquet(quarantineDir), count(lit(1L)))
      else StoredIndex.litMetricRow(spark, "store_quarantine_rows", 0d)
    val retracted = Takedown.ledgerCountRow(spark, retractedDir,
      "doc_id", "retracted_ids")
    // distinct ids ever accepted, from the stored KMV gauge — ≤ k
    // rows read, the corpus never re-scanned (monotone: a takedown
    // doesn't subtract — sketches are insert-only; live mass is
    // store_corpus_rows). Pre-gauge stores bootstrap on first read.
    if (!graft.ext.Sketches.kmvHeal(spark, kmvDir)) bootstrapKmv()
    // live doc-length p50/p95 from the stored histogram gauge — the
    // drift numbers a datacard watches, O(bins) rows read (see
    // histDir; pre-gauge stores bootstrap on first read)
    val lenQ = doclenQuantiles(Seq(0.5, 0.95)).localCheckpoint()
    DedupIndex.health(spark, indexDir)
      .unionByName(StoredIndex.metricRow("accepted_ids_kmv_est",
        graft.ext.Sketches.kmvReport(spark, kmvDir),
        sum(col("n_distinct_est"))))
      .unionByName(StoredIndex.metricRow("doclen_p50",
        lenQ.filter(col("q") === 0.5),
        max(col("value")).cast("double")))
      .unionByName(StoredIndex.metricRow("doclen_p95",
        lenQ.filter(col("q") === 0.95),
        max(col("value")).cast("double")))
      // the LIVE document-sample size (≤ k; under-full after
      // takedowns purge sampled rows — the honest prefix, see
      // Sketches.sampleRemove) — ≤ k stored rows read
      .unionByName(StoredIndex.metricRow("sampled_docs_rows",
        sampledDocs(), count(lit(1L))))
      .unionByName(StoredIndex.metricRow("store_corpus_rows",
        corpus(), count(lit(1L))))
      .unionByName(StoredIndex.metricRow("store_batches",
        batchLedger(), count(lit(1L))))
      .unionByName(quarRows)
      .unionByName(retracted)
      .orderBy("metric")
  }

  /** Predicate readmit — [[retractWhere]]'s mirror: a review verdict
    * usually arrives as a condition ("everything quarantined from
    * source X"), not an id list. Resolves `cond` against the
    * QUARANTINE store only (readmit's domain — accepted rows can't
    * be readmitted, and [[readmit]] would refuse their ids loudly)
    * and executes [[readmit]] over the matches. A no-op when no
    * quarantine store exists or nothing matches; evaluated once, at
    * call time. */
  def readmitWhere(cond: org.apache.spark.sql.Column): Unit =
    Takedown.idsMatching(spark, Seq(quarantineDir), cond,
        "doc_id", Seq("text"))
      .map(_.localCheckpoint()).filter(!_.isEmpty)
      .foreach(ids => readmit(ids))

  /** Serve-while-rebuilding index maintenance from the durable
    * corpus store ([[DedupIndex.rebuildStaged]]): probes keep
    * serving the old buckets for the whole rebuild pass; only the
    * rename-sized swap window is unserveable. The periodic remedy
    * for a long append/retract lifecycle — folds accreted shard
    * rows, materializes tombstones, re-mints the bloom. */
  def rebuildIndex(): Unit =
    graft.ext.DedupIndex.rebuildStaged(corpus(), indexDir)

  private def ingestBatch(batch: DataFrame, batchId: Long): Unit = {
    // in-batch id dedup first (a staged drop may repeat ids), then
    // the sticky takedown filter (see retractedDir);
    // localCheckpoint: the batch feeds several passes (gate, probe,
    // writes, append) — materialize once
    val fresh = dropRetracted(batch.dropDuplicates("doc_id"))
      .localCheckpoint()
    // NOTE: no early return on an empty batch — the crash-recovery
    // check below must run regardless, or a batch whose rows were
    // all retracted/duplicate would commit its checkpoint while
    // leaving a meta-less (crashed-append) index unrepaired
    if (!StoredIndex.isCommitted(spark, indexDir)) {
      val orphaned = Seq("buckets", "idbloom").filter(a =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$a")))
      val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
      val corpusExists = corpusPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(corpusPath)
      if (orphaned.nonEmpty && !corpusExists)
        throw new IllegalStateException(
          s"dedup index at $indexDir has assets " +
            s"(${orphaned.mkString(", ")}) but no meta commit marker " +
            s"AND no corpus store at $corpusDir to rebuild from — " +
            "corruption; restore the corpus store or delete the " +
            "index dir, then restart the ingest.")
      if (orphaned.nonEmpty) {
        // crash mid-append: the durable corpus store holds at least
        // everything ever indexed (written BEFORE each append), so
        // rebuilding from it — never from the replayed batch — is
        // lossless; the replay then re-gates against the rebuilt index
        DedupIndex.build(corpus(), indexDir)
        if (!fresh.isEmpty) appendGated(fresh, batchId)
      } else if (!fresh.isEmpty) {
        // first batch seeds the corpus (nothing to collide with yet
        // — but the admission gate still applies; a virgin index has
        // no re-deliveries to skip, so splitting here is the same
        // verdict appendGated would reach)
        val (admitted, rejected) = admissionSplit(fresh)
        rejected.foreach(r => writePartition(r, quarantineDir, batchId))
        if (!admitted.isEmpty) {
          writePartition(admitted, corpusDir, batchId)
          foldInParallel(
            () => foldAcceptedKmv(admitted),
            () => foldAcceptedSample(admitted),
            () => foldAcceptedHist(admitted, batchId))
          DedupIndex.build(corpus(), indexDir)
        }
      }
    } else if (!fresh.isEmpty) appendGated(fresh, batchId)
  }

  /** Split a definitely-new slice by the admission predicate: rows
    * failing it (or evaluating to NULL — coalesce false, so no row
    * can vanish from both splits) quarantine without ever costing a
    * probe. Runs AFTER the re-delivery gate by design: an already-
    * accepted id (e.g. a readmitted quality reject) re-delivered
    * later is dropped as already-indexed BEFORE the predicate, so
    * admission can never re-quarantine an accepted document. */
  private def admissionSplit(
      rows: DataFrame): (DataFrame, Option[DataFrame]) = admit match {
    case Some(p) =>
      val verdict = coalesce(p, lit(false))
      (rows.filter(verdict).localCheckpoint(),
        Some(rows.filter(!verdict).localCheckpoint())
          .filter(!_.isEmpty))
    case None => (rows, None)
  }

  private def appendGated(fresh: DataFrame, batchId: Long): Unit = {
    // re-delivery skip, bloom-gated: definitely-new ids never read
    // the shard id lists; might-contain ids take the exact anti-join
    val newOnly = StoredIndex.bloomGatedNewOnly(
      spark, indexDir, fresh, "doc_id",
      spark.read.parquet(s"$indexDir/buckets")
        .select(explode(col("ids")).as("doc_id")).distinct())
      .localCheckpoint()
    if (!newOnly.isEmpty) {
      // admission gate on the definitely-new rows: rejects skip the
      // probe entirely and quarantine with the near-dups below
      val (admitted, rejected) = admissionSplit(newOnly)
      // the d15 gate: batch-banded probe against the stored buckets,
      // exact-Jaccard verify against the corpus store
      // materialized ONCE: both the clean anti-join and the
      // quarantine semi-join consume the probe's verdict —
      // unchecked, the quarantine write re-ran the whole banded
      // probe + exact-verify as a second action (guide §1.2 step 1)
      val dupIds =
        (if (admitted.isEmpty)
          spark.range(0).select(col("id").as("doc_id"))
        else DedupIndex.probe(admitted, indexDir, corpus(), threshold)
          .select(col("batch_id").as("doc_id")).distinct())
        .localCheckpoint()
      val clean = admitted.join(dupIds, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // ONE quarantine write per batch (the partition is overwrite-
      // keyed on batchId): near-dups ∪ admission rejects
      val dupRows = admitted.join(dupIds, Seq("doc_id"), "left_semi")
      val doQuarantine = () => writePartition(
        rejected.fold(dupRows)(r => dupRows.unionByName(r)),
        quarantineDir, batchId)
      if (!clean.isEmpty) {
        // corpus FIRST, then index: a crash between the two leaves a
        // valid index missing this batch — the replay re-gates and
        // re-appends (its corpus partition rewrite is idempotent);
        // a crash INSIDE append leaves no meta, and the next run
        // rebuilds from the corpus store (see ingestBatch). The
        // quarantine store is independent of that ordering (its
        // partition rewrite is idempotent too) — overlapped (§2.6)
        foldInParallel(
          doQuarantine,
          () => writePartition(clean, corpusDir, batchId))
        foldInParallel(
          () => foldAcceptedKmv(clean),
          () => foldAcceptedSample(clean),
          () => foldAcceptedHist(clean, batchId))
        DedupIndex.append(clean, indexDir, checkIds = false)
        // self-maintenance: a long append chain accretes shard
        // files; compact once the count crosses the dial. A crash
        // mid-compaction invalidates the meta and the NEXT batch
        // rebuilds from the durable corpus store — the same recovery
        // path as a crashed append.
        DedupIndex.maybeCompact(spark, indexDir, compactAfterFiles)
      } else doQuarantine() // all near-dups/rejects: quarantine only
    }
  }
}
