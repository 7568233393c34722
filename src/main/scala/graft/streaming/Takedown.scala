package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The compliance-takedown protocol shared by the stream-maintained
  * index families ([[StreamingDedupIngest]].retract and
  * [[StreamingAnnIngest]].retract): the families differ only in
  * their id/payload columns, their durable stores, and which index's
  * remove/rebuild they call — the ordering discipline, the sticky
  * intent ledger, and the crash-residue resolution live HERE once,
  * exactly as [[graft.ext.StoredIndex]] centralizes the commit-marker
  * mechanics the batch sides share.
  *
  * Ordering is load-bearing, and it is the REVERSE of ingest:
  * ledger first, then stores, index LAST. A crash at any point is
  * repaired by REPLAYING THE TAKEDOWN BATCH (takedown queues are
  * durable in practice, and [[retract]] is idempotent): the ledger
  * makes the replay exact, already-purged/tombstoned ids are
  * skipped, and the one unrecoverable residue — a live-indexed id
  * whose stored row is (correctly) already gone, so its fingerprint
  * XOR term cannot be recomputed — is detected and resolved by
  * rebuilding from the purged store. Index-first ordering would
  * instead open a window where recovery rebuilds RESURRECT the
  * retracted content — the one failure a takedown must never have.
  *
  * The request's ids are resolved ONCE, at the entry of the public
  * retract/readmit, and every layer below works from that
  * held set ([[graft.ext.StoredIndex.holdIds]]): driver literals at
  * compliance scale, the distinct frame above the cap. Per family, a literal
  * [[retract]] then runs:
  *  1. the ledger diff and append on the driver (no job);
  *  2. one `IN`-pushed fetch of the primary store's rows (id,
  *     payload, batch), materialized, and one collect of its
  *     (id, batch) keys — the affected partitions come from it;
  *  3. the purge: per affected partition, materialize + overwrite;
  *     a store the fetch did not read (the quarantine) pays one
  *     discovery collect first;
  *  4. one keys-only collect of the request's live-indexed ids — the
  *     rows to tombstone and the crash residue are driver set
  *     operations on it;
  *  5. the index remove: the rows' identity aggregate and one guard
  *     pass over the live ids; the tombstones append driver-side.
  * Parquet schema inference adds one small job per store read.
  */
private[streaming] object Takedown {
  import graft.ext.StoredIndex
  import graft.ext.StoredIndex.Tombstones
  /** Ledgered ids, or None when no takedown was ever recorded:
    * driver literals when the ledger is small (the compliance-scale
    * common case), the distinct frame above the caps or in any layout
    * other than flat parquet files. Read errors PROPAGATE: a ledger
    * that exists but cannot be read must fail the batch, not silently
    * disable the retraction filter (failing open here is exactly the
    * resurrection the ledger prevents). Ids are unique by
    * construction (only not-yet-ledgered ids ever append), but the
    * literal read dedupes defensively to mirror the frame's
    * `.distinct()`. */
  def ledgerSet(spark: SparkSession, ledgerDir: String,
                idCol: String): Option[Tombstones] =
    StoredIndex.readIdAsset(spark, ledgerDir, idCol)
      .map(t => t.copy(
        litIds = t.litIds.map(_.distinct),
        frame = () => t.frame().distinct()))

  /** The per-micro-batch sticky filter: drop every ledgered id from
    * an incoming batch. Once an id is recorded, no replayed
    * micro-batch or future drop can re-admit it — including after a
    * compaction has materialized its tombstone (the physical-rows
    * anti-join alone stops filtering at that point; the ledger is
    * what makes the takedown durable against at-least-once
    * re-delivery). */
  def dropLedgered(spark: SparkSession, ledgerDir: String,
                   df: DataFrame, idCol: String): DataFrame =
    ledgerSet(spark, ledgerDir, idCol) match {
      case None => df
      case Some(t) => StoredIndex.antiIdFilter(t, df, idCol)
    }

  /** `(metric, value)` health row of the ledger's size — a
    * driver-known constant when the ledger reads as literals (no
    * aggregate subtree in the health plan), 0 when never written. */
  def ledgerCountRow(spark: SparkSession, ledgerDir: String,
                     idCol: String, name: String): DataFrame = {
    import graft.ext.StoredIndex.{litMetricRow, metricRow}
    ledgerSet(spark, ledgerDir, idCol) match {
      case Some(Tombstones(Some(ids), _)) =>
        litMetricRow(spark, name, ids.size.toDouble)
      case Some(t) => metricRow(name, t.frame(), count(lit(1L)))
      case None => litMetricRow(spark, name, 0d)
    }
  }

  /** Resolve a PREDICATE takedown to its id set — how a compliance
    * request actually arrives ("everything from domain X", "all rows
    * matching Y"), not as an id list. The predicate evaluates ONCE,
    * at call time, over every durable store that exists (all of
    * them: a document whose only surviving copy is a quarantined
    * near-dup must still be found). None = no store exists yet, so
    * nothing can match — the predicate names no concrete ids to
    * ledger, which is why a predicate takedown on an empty ingest is
    * a no-op while an id takedown still records its ledger entry.
    * Rows arriving LATER that would match are not auto-retracted:
    * enforce recurring bans upstream of the stream, or re-run. */
  def idsMatching(spark: SparkSession, stores: Seq[String],
                  cond: Column, idCol: String,
                  cols: Seq[String]): Option[DataFrame] = {
    val existing = stores.filter(exists(spark, _))
    if (existing.isEmpty) None
    else Some(existing.map(d =>
        spark.read.parquet(d).select(idCol, cols: _*))
      .reduce(_ unionByName _)
      .filter(cond).select(idCol).distinct())
  }

  /** `a` minus `b`: a driver diff when both are literals, otherwise a
    * materialized anti-join. */
  private[streaming] def minus(spark: SparkSession, a: Tombstones,
                               b: Tombstones): Tombstones =
    (a.litIds, b.litIds) match {
      case (Some(x), Some(y)) =>
        StoredIndex.heldLiterals(spark, x.filterNot(y.toSet))
      case _ =>
        framed(StoredIndex.antiIdFilter(b, a.frame().toDF("id"), "id"))
    }

  /** `a` ∩ `b`: a driver intersection when both are literals,
    * otherwise a materialized semi-join. */
  private[streaming] def intersect(spark: SparkSession, a: Tombstones,
                                   b: Tombstones): Tombstones =
    (a.litIds, b.litIds) match {
      case (Some(x), Some(y)) =>
        StoredIndex.heldLiterals(spark, x.filter(y.toSet))
      case _ =>
        framed(StoredIndex.semiIdFilter(b, a.frame().toDF("id"), "id"))
    }

  /** The ids of `want` that `liveIds` (an index's live id set)
    * holds: ONE keys-only pass, at most |want| ids collected for a
    * literal request. */
  private[streaming] def liveOf(spark: SparkSession, want: Tombstones,
                                liveIds: DataFrame,
                                idCol: String): Tombstones = {
    val hit = StoredIndex.semiIdFilter(want, liveIds, idCol).select(idCol)
    if (want.litIds.isEmpty) framed(hit)
    else StoredIndex.heldLiterals(spark,
      hit.collect().map(_.getLong(0)).toSeq)
  }

  private[streaming] def isEmpty(t: Tombstones): Boolean =
    t.litIds.fold(t.frame().isEmpty)(_.isEmpty)

  private[streaming] def size(t: Tombstones): Long =
    t.litIds.fold(t.frame().count())(_.size.toLong)

  /** The keys of a held request's fetched rows: the ids found, the
    * distinct batches they sit in, and the number of rows, which
    * exceeds the ids' count when an id sits in more than one batch. */
  private[streaming] final case class Keys(ids: Tombstones,
                                           batches: Seq[Long],
                                           rows: () => Long)

  /** [[Keys]] of `rows` (`idCol` and a long `batch`, materialized)
    * fetched for `want`: one collect of the (id, batch) keys for a
    * literal request; for the frame form the distinct ids as a frame,
    * one batch collect, and the row count only when asked for. */
  private[streaming] def keysOf(spark: SparkSession, want: Tombstones,
                                rows: DataFrame, idCol: String): Keys =
    want.litIds match {
      case Some(_) =>
        val keys = rows.select(idCol, "batch").collect()
        Keys(StoredIndex.heldLiterals(spark, keys.map(_.getLong(0)).toSeq),
          keys.map(_.getLong(1)).distinct.toSeq, () => keys.length.toLong)
      case None =>
        Keys(framed(rows.select(idCol).distinct()),
          rows.select("batch").distinct().collect().map(_.getLong(0)).toSeq,
          () => rows.count())
    }

  private def framed(df: DataFrame): Tombstones = {
    val f = df.localCheckpoint()
    Tombstones(None, () => f)
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Rewrite ONLY the per-batch partition dirs that hold any of the
    * purged ids (partition-pruned: untouched batches never rewrite).
    * `batches`, when the caller already knows them from rows it
    * fetched, replaces the discovery scan; otherwise discovery is one
    * bounded driver read of batch ids, footer-bound for literal ids:
    * the `IN` predicate lands in PushedFilters, so row groups whose
    * id stats exclude the request (the ingests id-sort each batch
    * file) never decompress.
    *
    * Scale note, measured locally over growing batch counts: literal
    * and semi-join discovery run close, because Catalyst's runtime
    * bloom filter already drops most non-matching rows at the
    * semi-join's scan; the pushdown's remaining edge is the decode it
    * skips on row-group stats, which grows with payload width and IO
    * latency.
    *
    * Cost note: the affected partitions rewrite SERIALLY on the
    * driver, two small jobs each (materialize, write) — bounded by
    * the request's distinct batch partitions, the right price at
    * compliance scale (a takedown names few documents across few
    * batches). A takedown naming millions of rows across thousands
    * of batches would serialize thousands of small jobs; batch such
    * requests through a full store rewrite + index rebuild
    * instead. */
  def purgeStore(spark: SparkSession, root: String, ids: Tombstones,
                 idCol: String, cols: Seq[String],
                 batches: Option[Seq[Long]]): Unit = {
    if (!exists(spark, root) || ids.litIds.exists(_.isEmpty)) return
    val affected = batches.getOrElse(
      StoredIndex.semiIdFilter(ids, spark.read.parquet(root), idCol)
        .select(col("batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq)
    affected.foreach { b =>
      val pdir = s"$root/batch=$b"
      // materialize BEFORE overwriting the dir being read
      val remaining = StoredIndex.antiIdFilter(ids,
          spark.read.option("basePath", root).parquet(pdir), idCol)
        .select(idCol, cols: _*).localCheckpoint()
      remaining.write.mode("overwrite").parquet(pdir)
    }
  }

  /** [[purgeStore]] of a request frame, resolved here (`pushdownCap`
    * 0 forces the semi-join form) — the families' crash-simulation
    * hooks and the specs call this form. */
  def purgeStore(spark: SparkSession, root: String, ids: DataFrame,
                 idCol: String, cols: Seq[String],
                 pushdownCap: Int = StoredIndex.HeldIdCap): Unit =
    purgeStore(spark, root, StoredIndex.holdIds(ids, idCol, pushdownCap),
      idCol, cols, None)

  /** The primary store's rows of a request, fetched before the purge:
    * `rows` (idCol +: cols, materialized) and their held id set. */
  final case class Fetched(rows: DataFrame, ids: Tombstones)

  /** End-to-end takedown of a held id set: record the ids in the
    * durable intent ledger (making the retraction STICKY against any
    * replay), purge them from every durable store, and un-mix them
    * from the index — tombstone the ids whose rows were still stored
    * (`removeRows`, handed the rows and their held ids), or rebuild
    * from the purged store (`rebuild`) when crash residue makes the
    * XOR un-mix impossible. See the object scaladoc for why this
    * ordering, and only this ordering, survives a crash at every
    * point. Returns the primary store's rows of the request as they
    * were before the purge (None when no primary store exists).
    *
    * A takedown that arrives BEFORE any batch was ever ingested
    * (no primary store yet) completes as a ledger-only retraction:
    * the sticky ledger already guarantees the ids can never be
    * admitted, which IS the correct end state — not an error. */
  def retract(spark: SparkSession, want: Tombstones, idCol: String,
              cols: Seq[String], ledgerDir: String,
              primaryStore: String, extraStores: Seq[String],
              liveIds: => DataFrame,
              removeRows: (DataFrame, Tombstones) => Unit,
              rebuild: () => Unit): Option[Fetched] = {
    // durable intent FIRST: once recorded, no replayed micro-batch
    // or future drop can re-admit these ids. Only ids NOT already
    // ledgered append, so idempotent takedown replays leave the
    // ledger untouched — it grows with distinct retractions (the
    // compliance history), never with retries
    val newIntent = ledgerSet(spark, ledgerDir, idCol)
      .fold(want)(minus(spark, want, _))
    StoredIndex.appendHeldIds(spark, newIntent, idCol, ledgerDir)
    // early takedown: nothing was ever ingested — the ledger entry
    // is the complete, correct retraction (see scaladoc)
    if (!exists(spark, primaryStore)) return None
    // resolve a crashed store compaction first: a batch mid-swap
    // must be neither missed by the fetch nor left unpurged
    (primaryStore +: extraStores).foreach(StoreMaintenance.heal(spark, _))
    // fetch the rows BEFORE purging: the index un-mix needs them,
    // and their batch column names the primary store's affected
    // partitions (no second discovery scan)
    val rows = StoredIndex
      .semiIdFilter(want, spark.read.parquet(primaryStore), idCol)
      .select(col(idCol) +: cols.map(col) :+
        col("batch").cast("long").as("batch"): _*)
      .localCheckpoint()
    val found = keysOf(spark, want, rows, idCol)
    val fetched = found.ids
    purgeStore(spark, primaryStore, want, idCol, cols, Some(found.batches))
    extraStores.foreach(st =>
      purgeStore(spark, st, want, idCol, cols, None))
    // the guards below are set operations on the request's live ids
    val live = liveOf(spark, want, liveIds, idCol)
    val toTombstone = intersect(spark, fetched, live)
    // live-indexed ids in the request with NO stored row = residue
    // of a crash between a previous purge and its index remove
    if (!isEmpty(minus(spark, live, toTombstone))) rebuild()
    else if (!isEmpty(toTombstone))
      removeRows(StoredIndex.semiIdFilter(toTombstone, rows, idCol)
        .select(idCol, cols: _*), toTombstone)
    Some(Fetched(rows.select(idCol, cols: _*), fetched))
  }
}
