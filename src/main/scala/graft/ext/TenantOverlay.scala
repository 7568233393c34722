package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** The registered-tenant ACL overlay of the stored index families
  * ([[KeywordIndex]], [[AnnIndex]]) — one owner of its on-disk
  * format, lifecycle and crash ordering; each family calls it with
  * its own live-id view and, on the keyword side, a [[Gauge]].
  *
  * Assets, registered by [[register]] on top of a built index:
  *  - `tenants/` — (id, tenant) assignment rows, one per tenanted
  *    live id, clustered by (tenant, id) so a single tenant's id
  *    list is a row-group-pruned slice, not an asset scan. Every
  *    writer emits [[Schema]], so reads declare it instead of paying
  *    a parquet schema-inference job.
  *  - `tdels/` — the overlay's OWN tombstones: (id, tenant) pairs
  *    unassigned or superseded by a reassignment since the last
  *    overlay compact. The index tombstones cannot carry them (an
  *    unassigned id is still LIVE in the index — only its ACL
  *    membership ended), so the overlay gets its parent assets' LSM
  *    treatment: a mutation swaps in a tombstone list instead of
  *    rewriting `tenants/`, every overlay read ([[live]]) filters
  *    the control-plane-sized list, and [[compact]] materializes and
  *    drops it. Tombstones are PAIRS, not bare ids: a reassigned
  *    id's new-tenant row must survive the old row's tombstone, and
  *    re-assigning a previously-unassigned pair RESURRECTS its stale
  *    physical row (the tombstone is dropped) rather than appending
  *    a duplicate.
  *
  * Coverage may be partial: ids without an assignment belong to no
  * tenant. A family's in-place build [[drop]]s the overlay
  * (assignments name the previous generation's ids — re-register
  * after); a staged rebuild [[carry]]s the surviving ids' rows so the
  * tenant serve never goes dark across retrains; a retraction needs
  * no overlay write (every read applies the index tombstones, and
  * [[compact]] materializes them).
  *
  * Crash posture: [[register]] lands `tenants/` through a
  * stage-then-rename swap, and every tombstone list swaps in whole,
  * so a reader sees the old overlay, the new one, or none (a loud
  * "registerTenants first") — never a torn assignment set. A
  * mutation swaps its tombstones in FIRST and appends new rows
  * second: a crash between leaves a moved id unassigned (out of
  * serving, loud to fix by re-running), never serving under both
  * tenants.
  */
private[ext] object TenantOverlay {

  /** The (id, tenant) row shape of both overlay assets. */
  private val Schema = StructType(Seq(
    StructField("id", LongType), StructField("tenant", StringType)))

  /** A per-tenant statistics gauge kept beside the overlay and folded
    * by every mutation (the keyword family's `tstats/`). Both hooks
    * compute the new gauge and hold it on the driver BEFORE the
    * overlay changes and return its writer; the overlay then deletes
    * [[asset]], mutates, and runs the writer LAST — a crash anywhere
    * between leaves the gauge absent and the gauge-scoped serves
    * failing loudly (re-register to heal), never serving statistics
    * that disagree with the assignment. */
  trait Gauge {
    def asset: String
    /** The gauge of a whole assignment set — a registration or a
      * staged rebuild's carried rows. */
    def derive(spark: SparkSession, dir: String,
               assigned: DataFrame): () => Unit
    /** The stored gauge with a mutation's `removed` and `added`
      * (id, tenant) pairs folded in. */
    def fold(spark: SparkSession, dir: String,
             dels: Option[StoredIndex.Tombstones],
             removed: Option[DataFrame],
             added: Option[DataFrame]): () => Unit
  }

  /** The overlay's assets, gauge included, for a family's staged
    * swap. */
  def assets(gauge: Option[Gauge]): Seq[String] =
    Seq("tenants") ++ gauge.map(_.asset) :+ "tdels"

  private def delete(spark: SparkSession, dir: String,
                     asset: String): Unit =
    StoredIndex.fsOf(spark, dir).delete(new Path(s"$dir/$asset"), true)

  def has(spark: SparkSession, dir: String): Boolean =
    StoredIndex.fsOf(spark, dir).exists(new Path(s"$dir/tenants"))

  def drop(spark: SparkSession, dir: String,
           gauge: Option[Gauge]): Unit =
    assets(gauge).foreach(delete(spark, dir, _))

  /** Loud when no overlay is registered at `dir`; `hint` names the
    * caller's ad-hoc-subset alternative. */
  def requireRegistered(spark: SparkSession, dir: String, what: String,
                        hint: String = ""): Unit =
    require(has(spark, dir),
      s"$what: no tenant overlay at $dir — registerTenants first$hint")

  private def cluster(df: DataFrame): DataFrame =
    df.repartitionByRange(col("tenant"), col("id"))
      .sortWithinPartitions("tenant", "id")

  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schema).parquet(s"$dir/tenants")

  private def readDels(spark: SparkSession,
                       dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/tdels")
    if (StoredIndex.fsOf(spark, dir).exists(p))
      Some(spark.read.parquet(p.toString))
    else None
  }

  /** Drop overlay-tombstoned rows from an (id, tenant) frame — a
    * literal per-tenant NOT-IN when the list is driver-held, the
    * broadcast pair anti-join above the caps, the unchanged plan
    * when nothing is pending. */
  private def filterDels(spark: SparkSession, dir: String,
                         rows: DataFrame): DataFrame =
    StoredIndex.readPairAsset(spark, s"$dir/tdels") match {
      case None => rows
      case Some(Left(pairs)) => StoredIndex.antiPairFilter(pairs, rows)
      case Some(Right(td)) => rows.join(
        broadcast(td), Seq("id", "tenant"), "left_anti")
    }

  /** Persist the tombstone list whole: materialize + stage-swap; an
    * empty list deletes the asset so every read keeps its
    * no-tombstone plan. */
  private def writeDels(spark: SparkSession, dir: String,
                        pairs: DataFrame): Unit = {
    val p = pairs.select("id", "tenant").distinct().localCheckpoint()
    if (p.isEmpty) delete(spark, dir, "tdels")
    else StoredIndex.stageSwapAsset(spark, dir, "tdels", p)
  }

  /** The overlay rows `select` picks from `tenants/`, with the index
    * tombstones `dels` and the overlay's own applied — every overlay
    * read goes through here. */
  def live(spark: SparkSession, dir: String,
           dels: Option[StoredIndex.Tombstones],
           select: DataFrame => DataFrame = identity): DataFrame =
    filterDels(spark, dir,
      StoredIndex.filterTombstones(dels, select(read(spark, dir)), "id"))

  /** The live id set of one tenant (`tenant = …` prunes row groups). */
  def liveIds(spark: SparkSession, dir: String,
              tenant: String): DataFrame =
    live(spark, dir, StoredIndex.readDeleteIds(spark, dir),
      _.filter(col("tenant") === lit(tenant))).select("id")

  /** ONE live slice over the named tenants (`tenant IN (…)`). */
  def named(spark: SparkSession, dir: String,
            dels: Option[StoredIndex.Tombstones],
            tenants: Seq[String]): DataFrame =
    live(spark, dir, dels, _.filter(col("tenant").isin(tenants: _*)))

  /** (qid, id) grant pairs: a [[named]] slice expanded against the
    * broadcast query-count-sized (qid, tenant) map. */
  def pairs(slice: DataFrame, tenants: Seq[(Long, String)]): DataFrame = {
    import slice.sparkSession.implicits._
    slice.join(broadcast(tenants.toDF("qid", "tenant")), Seq("tenant"))
      .select("qid", "id")
  }

  /** [[pairs]] over the named tenants' live slice. */
  def livePairs(spark: SparkSession, dir: String,
                tenants: Seq[(Long, String)]): DataFrame =
    pairs(named(spark, dir, StoredIndex.readDeleteIds(spark, dir),
      tenants.map(_._2).distinct), tenants)

  /** The LIVE assignment rows of a batch-sized id frame — id-IN
    * literals under [[StoredIndex.HeldIdCap]], the broadcast
    * semi-join above: what un/reassign guard on and tombstone. */
  private def sliceFor(spark: SparkSession, dir: String,
                       dels: Option[StoredIndex.Tombstones],
                       ids: DataFrame): DataFrame =
    live(spark, dir, dels, raw =>
      StoredIndex.idLiterals(ids, StoredIndex.HeldIdCap) match {
        case Some(l) => raw.filter(col("id").isin(l: _*))
        case None => raw.join(broadcast(ids), Seq("id"), "left_semi")
      })

  /** Normalize + validate an assignment frame to (id, tenant): string
    * tenants (the general ACL key shape), one row per id, no nulls.
    * Materialized once and both guards in ONE aggregate: the guards,
    * the live check, the clustering's range sample and a gauge all
    * consume it. */
  private def assignOf(assign: DataFrame, tenantCol: String,
                       idCol: String, what: String): DataFrame = {
    val a = assign.select(col(idCol).cast("long").as("id"),
      col(tenantCol).cast("string").as("tenant"))
      .localCheckpoint()
    val g = a.agg(
      count(when(col("tenant").isNull || col("id").isNull, 1L))
        .as("n_bad"),
      count(lit(1L)).as("n"),
      countDistinct(col("id")).as("n_ids")).head
    require(g.getLong(0) == 0L,
      s"$what: assignment rows must carry non-null (id, tenant)")
    require(g.getLong(2) == g.getLong(1),
      s"$what: one tenant per id — an id in two tenants would make " +
        "the per-tenant id sets overlap (and double-count a gauge)")
    a
  }

  private def requireLive(a: DataFrame, liveIds: DataFrame, dir: String,
                          what: String): Unit =
    require(a.join(liveIds, Seq("id"), "left_anti").limit(1).count() == 0L,
      s"$what: assignment names id(s) not live in the index at $dir")

  /** Run `mutate` inside the gauge's crash window: the held gauge's
    * asset is deleted before, its writer runs after. */
  private def withGauge(spark: SparkSession, dir: String,
                        gauge: Option[(Gauge, () => Unit)])(
                        mutate: => Unit): Unit = {
    gauge.foreach { case (g, _) => delete(spark, dir, g.asset) }
    mutate
    gauge.foreach { case (_, write) => write() }
  }

  /** Register (or re-register, replacing the whole overlay) assignments
    * over the live index: every id live (`liveIds`), coverage partial.
    * A full re-registration also drops the pending tombstones — they
    * name the superseded assignment set. */
  def register(spark: SparkSession, dir: String, assign: DataFrame,
               tenantCol: String, idCol: String, what: String,
               liveIds: DataFrame, gauge: Option[Gauge]): Unit = {
    val a = assignOf(assign, tenantCol, idCol, what)
    requireLive(a, liveIds, dir, what)
    withGauge(spark, dir, gauge.map(g => g -> g.derive(spark, dir, a))) {
      StoredIndex.stageSwapAsset(spark, dir, "tenants", cluster(a))
      delete(spark, dir, "tdels")
    }
  }

  /** Extend the overlay with assignments for newly-appended (or
    * untenanted) live ids — O(batch): the rows append as an
    * unclustered shard ([[compact]] restores the clustering). */
  def assign(spark: SparkSession, dir: String, assign: DataFrame,
             tenantCol: String, idCol: String, what: String,
             liveIds: DataFrame, gauge: Option[Gauge]): Unit = {
    requireRegistered(spark, dir, what)
    val a = assignOf(assign, tenantCol, idCol, what)
    requireLive(a, liveIds, dir, what)
    val dels = StoredIndex.readDeleteIds(spark, dir)
    require(sliceFor(spark, dir, dels, a.select("id")).limit(1).count() == 0L,
      s"$what: id(s) already assigned — reassignTenants moves them; " +
        "unassignTenants ends them; re-register to replace the whole " +
        "overlay")
    mutate(spark, dir, dels, gauge, removed = None, added = Some(a))
  }

  /** End tenant membership for currently-assigned ids: their live
    * rows become tombstones; the ids stay live in the index. */
  def unassign(spark: SparkSession, dir: String, ids: DataFrame,
               idCol: String, what: String,
               gauge: Option[Gauge]): Unit = {
    requireRegistered(spark, dir, what)
    val want = ids.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint()
    require(!want.isEmpty, s"$what: no ids to unassign")
    val dels = StoredIndex.readDeleteIds(spark, dir)
    val cur = sliceFor(spark, dir, dels, want).localCheckpoint()
    require(want.join(cur, Seq("id"), "left_anti").limit(1).count() == 0L,
      s"$what: id(s) not currently assigned — nothing to unassign " +
        "(an id must hold a live assignment row)")
    mutate(spark, dir, dels, gauge, removed = Some(cur), added = None)
  }

  /** Move currently-assigned ids to a different tenant in ONE
    * O(batch) mutation. Guards: every id currently assigned; a row
    * naming the id's current tenant is refused (a no-op move hides a
    * caller bug). */
  def reassign(spark: SparkSession, dir: String, assign: DataFrame,
               tenantCol: String, idCol: String, what: String,
               gauge: Option[Gauge]): Unit = {
    requireRegistered(spark, dir, what)
    val a = assignOf(assign, tenantCol, idCol, what)
    val dels = StoredIndex.readDeleteIds(spark, dir)
    val cur = sliceFor(spark, dir, dels, a.select("id")).localCheckpoint()
    // both guards in ONE pass over a ⟕ cur (cur is id-unique, so
    // no-match ≡ unassigned and tenant-equal ≡ a no-op move)
    val chk = a.join(cur.withColumnRenamed("tenant", "__cur"),
        Seq("id"), "left")
      .agg(count(when(col("__cur").isNull, 1L)).as("n_unassigned"),
        count(when(col("tenant") === col("__cur"), 1L)).as("n_noop"))
      .head
    require(chk.getLong(0) == 0L,
      s"$what: id(s) not currently assigned — assignTenants adds NEW " +
        "assignments; reassign only moves")
    require(chk.getLong(1) == 0L,
      s"$what: row(s) name the id's CURRENT tenant — a no-op move; " +
        "drop those rows")
    mutate(spark, dir, dels, gauge, removed = Some(cur), added = Some(a))
  }

  /** The one overlay mutation: `removed` pairs join the tombstone
    * list; `added` pairs resurrect a tombstoned row (their tombstone
    * drops) or, genuinely new, append. Tombstones swap in FIRST, new
    * rows append second (the crash posture above). */
  private def mutate(spark: SparkSession, dir: String,
                     dels: Option[StoredIndex.Tombstones],
                     gauge: Option[Gauge], removed: Option[DataFrame],
                     added: Option[DataFrame]): Unit = {
    val held = gauge.map(g =>
      g -> g.fold(spark, dir, dels, removed, added))
    val td = readDels(spark, dir)
    def minus(df: DataFrame, a: DataFrame) = df.join(
      broadcast(a.select("id", "tenant")), Seq("id", "tenant"), "left_anti")
    val newRows = added.map(a => td.fold(a)(minus(a, _)).localCheckpoint())
    val newDels = (td.toSeq ++ removed).map(_.select("id", "tenant"))
      .reduceOption(_ unionByName _)
      .map(d => added.fold(d)(minus(d, _)))
    withGauge(spark, dir, held) {
      newDels.foreach(writeDels(spark, dir, _))
      newRows.filter(!_.isEmpty).foreach(_.select("id", "tenant")
        .write.mode("append").parquet(s"$dir/tenants"))
    }
  }

  // -------------------------------------------------------- lifecycle

  /** Stage the live rows whose id survives into a staged rebuild
    * (`survivors`, column `id`) beside its fresh assets, the gauge
    * re-derived there — called after the staging meta marker, so a
    * crash before the swap leaves the live overlay serving. */
  def carry(spark: SparkSession, dir: String, staging: String,
            survivors: DataFrame, gauge: Option[Gauge]): Unit =
    if (has(spark, dir)) {
      cluster(live(spark, dir, StoredIndex.readDeleteIds(spark, dir))
          .join(survivors, Seq("id"), "left_semi"))
        .write.mode("overwrite").parquet(s"$staging/tenants")
      gauge.foreach(_.derive(spark, staging, read(spark, staging))())
    }

  /** Materialize both tombstone lists into a re-clustered `tenants/`
    * and drop the spent `tdels/` (idempotent if a crash lands
    * between). Runs BEFORE the family's own compact drops `deletes/`
    * — it reads the same list. A gauge is untouched: every mutation
    * already folded it. */
  def compact(spark: SparkSession, dir: String,
              dels: Option[StoredIndex.Tombstones]): Unit =
    if (has(spark, dir)) {
      StoredIndex.compactAsset(spark, dir, "tenants", df =>
        cluster(filterDels(spark, dir,
          StoredIndex.filterTombstones(dels, df, "id"))))
      delete(spark, dir, "tdels")
    }

  /** [[compact]]'s overlay-tombstone half, only when `tenants/` has
    * accreted past `maxFiles` part files (the index tombstones stay
    * pending — the family's own views still need them). */
  def maybeCompact(spark: SparkSession, dir: String,
                   maxFiles: Int): Boolean = {
    val t = has(spark, dir) &&
      StoredIndex.compactIfAccreted(spark, dir, "tenants", maxFiles,
        df => cluster(filterDels(spark, dir, df)))
    if (t) delete(spark, dir, "tdels")
    t
  }

  /** Copy a shard's overlay files into `to` for a merge or absorb.
    * Shard ids are disjoint (the family's guard), so the rows union
    * without double assignment; a shard without an overlay simply
    * contributes untenanted ids. */
  def copy(spark: SparkSession, from: String, to: String,
           prefix: String): Unit =
    Seq("tenants", "tdels").foreach(a =>
      StoredIndex.copyAssetFiles(spark, s"$from/$a", s"$to/$a", prefix))
}
