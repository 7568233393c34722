package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored MinHash-LSH dedup index — the x9 build/probe split
  * ([[AnnIndex]]) applied to the incremental near-dup gate:
  * [[Dedup.minhashIncrementalNearDups]] recomputes the full-corpus
  * signature/banding/bucket table on EVERY batch — O(corpus) per
  * probe — which is exactly the cost a 100 TB ingest pipeline cannot
  * pay per increment. [[build]] persists the corpus bucket table as
  * a parquet asset; [[probe]] bands only the BATCH and equi-joins
  * the stored buckets, so probe cost is O(batch + candidates). The
  * exact-Jaccard verification reads corpus TEXT for candidate ids
  * only (an id semi-join riding the parquet scan): the index holds
  * signatures, the corpus store holds documents — the standard
  * split.
  *
  * Bucket rows are stored PARTIAL (grouped per build/append shard,
  * never capped at rest); [[probe]] regroups the shards matching the
  * batch's keys and applies `maxBucket` to the MERGED bucket. This
  * ordering is load-bearing: capping at build time would let an
  * append resurrect a dropped over-cap bucket with only its new ids,
  * emitting candidates the one-shot gate over the union corpus would
  * not — probe-side capping keeps stored-index results IDENTICAL to
  * [[Dedup.minhashIncrementalNearDups]] at any append history, which
  * is what the d15 consistency contract asserts (and the probe runs
  * [[Dedup.verifyMinhashCandidates]] — the same verification code
  * path, not a reimplementation). [[compact]] exploits the same
  * fact in reverse: merging shard rows per (band, bhash) at rest is
  * exactly the regroup probe performs anyway, so compaction cannot
  * change any probe result.
  *
  * Durability and maintenance discipline is [[StoredIndex]]'s — the
  * shared spine both this and [[AnnIndex]] are built on: meta is
  * deleted first / written last (the commit marker), [[ensure]]
  * validates by content fingerprint (one corpus scan) or, with an
  * explicit `version`, by a 1-row meta read — the zero-scan serve
  * posture ([[StoredIndex.fileVersion]] derives a version from
  * corpus file metadata without any data scan). [[append]] is
  * O(batch) end-to-end: new shards append, the XOR-fold fingerprint
  * updates without a corpus scan, and the duplicate-id guard is
  * bloom-gated — an all-new batch never reads the stored id lists.
  * Long append chains accrete small shard files — the z4 compaction
  * pressure; [[compact]] is the crash-safe periodic remedy.
  */
object DedupIndex {

  /** Deterministic per-corpus index location (see [[AnnIndex.dirFor]]
    * for why repo-local, not /tmp): the `d15_` prefix keeps this
    * index family disjoint from x9's under a shared
    * SPARK_GRAFT_INDEX_ROOT. */
  def dirFor(sfDir: String): String =
    StoredIndex.dirFor("target/d15-index", "d15_", sfDir)

  /** Corpus identity row over (id, text). Ids are integral
    * (long-castable) by contract — AnnIndex's contract too — so the
    * meta's max_id/fingerprint arithmetic is well-typed; [[append]]
    * rejects a batch whose identity degenerates (empty, or
    * non-integral ids nulling the cast) BEFORE touching the commit
    * marker. */
  private def identity(corpus: DataFrame, textCol: String,
                       idCol: String): DataFrame =
    StoredIndex.identityOf(corpus, col(idCol).cast("long"), col(textCol))

  /** One shard of partial bucket rows: (band, bhash, ids sorted
    * within the shard). Never capped — see the object scaladoc. */
  private def shardOf(df: DataFrame, textCol: String,
                      idCol: String): DataFrame =
    Dedup.bandedOf(df, textCol, idCol)
      .groupBy("band", "bhash")
      .agg(array_sort(collect_list(col("id"))).as("ids"))

  /** Build (or rebuild) the index at `dir`: ONE full-corpus
    * signature/banding pass — the cost every probe then skips. */
  def build(corpus: DataFrame, dir: String,
            textCol: String = "text", idCol: String = "doc_id",
            version: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    StoredIndex.invalidate(spark, dir) // commit marker
    StoredIndex.clearDeleteIds(spark, dir) // rebuild = clean live state
    // identity + id bloom in ONE corpus pass (was two full scans),
    // overlapped with the banding pass (§2.6); joined before meta
    val ib = StoredIndex.async(StoredIndex.identityAndBloomOf(corpus,
      col(idCol).cast("long"), col(textCol), col(idCol)))
    shardOf(corpus, textCol, idCol)
      .write.mode("overwrite").parquet(s"$dir/buckets")
    StoredIndex.writeBloomAndMeta(spark, dir, ib(), version)
  }

  /** Validate the stored index against the live corpus; build when
    * missing or stale. Returns true when a build ran. `version`
    * picks the validation posture exactly as [[AnnIndex.ensure]]
    * does: None = content fingerprint (one corpus scan), Some(v) =
    * 1-row meta read, zero corpus scans on the serve path. A meta
    * READ FAILURE that is not "missing" (corrupt footer, transient
    * FS error) propagates instead of silently rebuilding
    * ([[StoredIndex.readMeta]]). */
  def ensure(corpus: DataFrame, dir: String,
             textCol: String = "text", idCol: String = "doc_id",
             version: Option[String] = None): Boolean = {
    val fresh = StoredIndex.isFresh(corpus.sparkSession, dir, version,
      identity(corpus, textCol, idCol).head)
    if (!fresh) build(corpus, dir, textCol, idCol, version)
    !fresh
  }

  /** Serve-while-rebuilding rebuild — [[AnnIndex.rebuildStaged]]'s
    * dedup twin: the full fresh build (one corpus banding pass,
    * complete with its own meta commit marker) lands in a staging
    * dir while the live buckets keep validating and serving probes,
    * then [[StoredIndex.swapStaged]] replaces the index in a
    * rename-sized window. The periodic remedy for a long
    * append/retract lifecycle (folds accreted partial bucket rows,
    * materializes tombstones, re-mints the id bloom) WITHOUT
    * [[compact]]'s constraint of keeping the same generation — and
    * without [[build]]-in-place's full-build serve outage. */
  def rebuildStaged(corpus: DataFrame, dir: String,
                    textCol: String = "text", idCol: String = "doc_id",
                    version: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val staging = StoredIndex.freshStaging(spark, dir)
    build(corpus, staging, textCol, idCol, version)
    StoredIndex.swapStaged(spark, dir, Seq("buckets"))
  }

  /** Near-dup gate for a batch against the STORED corpus buckets:
    * band the batch, semi-join the stored shards down to the batch's
    * (band, bhash) keys, merge + cap those buckets, then run the
    * shared exact-Jaccard verification (corpus text read for
    * candidate ids only). Returns (batch_id, corpus_id, jaccard),
    * identical to [[Dedup.minhashIncrementalNearDups]] on the
    * indexed corpus. */
  def probe(batch: DataFrame, dir: String, corpus: DataFrame,
            threshold: Double,
            textCol: String = "text", idCol: String = "doc_id",
            broadcastVerify: Boolean = true,
            maxBucket: Int = 1024): DataFrame = {
    val spark = batch.sparkSession
    val batchBuckets = Dedup.bandBuckets(batch, textCol, idCol,
      "bids", maxBucket).localCheckpoint()
    val matched = spark.read.parquet(s"$dir/buckets")
      .join(batchBuckets.select("band", "bhash"),
        Seq("band", "bhash"), "left_semi")
    // tombstones filter BEFORE the cap: a doc's banding depends only
    // on its own text, so stored-minus-deleted buckets are exactly
    // the buckets a live-corpus build would hold — including which
    // merged buckets clear maxBucket (a bucket over the cap only
    // because of retracted ids must come back)
    val corpusSide = (StoredIndex.readDeleteIds(spark, dir) match {
      case None => matched
        .groupBy("band", "bhash")
        .agg(array_sort(flatten(collect_list(col("ids")))).as("cids"))
      case dels @ Some(_) => StoredIndex.filterTombstones(dels,
          matched.select(col("band"), col("bhash"),
            explode(col("ids")).as("id")), "id")
        .groupBy("band", "bhash")
        .agg(array_sort(collect_list(col("id"))).as("cids"))
    }).filter(size(col("cids")) <= maxBucket)
    val cands = batchBuckets
      .join(corpusSide, Seq("band", "bhash"))
      .select(explode(col("bids")).as("batch_id"), col("cids"))
      .select(col("batch_id"), explode(col("cids")).as("corpus_id"))
      .distinct()
      .localCheckpoint()
    Dedup.verifyMinhashCandidates(cands, batch, corpus, threshold,
      textCol, idCol, broadcastVerify)
  }

  /** Append a batch of NEW documents — [[StoredIndex.appendBatch]]:
    * one shard of partial bucket rows appends, the meta fingerprint
    * updates by XOR, the id bloom merges driver-side; the corpus is
    * never touched. The `checkIds` guard reads the shard id lists
    * only for ids the stored bloom cannot rule out. */
  def append(batch: DataFrame, dir: String,
             textCol: String = "text", idCol: String = "doc_id",
             checkIds: Boolean = true): Unit =
    StoredIndex.appendBatch(Family, batch, dir, col(idCol).cast("long"),
        col(textCol), idCol, checkIds) { () =>
      shardOf(batch, textCol, idCol)
        .write.mode("append").parquet(s"$dir/buckets")
    }

  /** This family's share of the stored-index commit protocol: raw ids
    * are the exploded bucket id lists, the copied asset is
    * `buckets/`. */
  private val Family = StoredIndex.Family("DedupIndex",
    (spark, dir) => spark.read.parquet(s"$dir/buckets")
      .select(explode(col("ids")).as("id")),
    Seq("buckets"))

  /** Merge independently built shard indexes into one
    * ([[StoredIndex.mergeShards]]): the signature/banding pass needs
    * nothing from any other slice, so shard [[build]]s run fully in
    * parallel, and bucket shard FILES then copy into the merged dir —
    * partial rows per (band, bhash) are exactly the shape [[probe]]
    * regroups and [[compact]] clusters anyway. The merged index is
    * probe-identical to a one-shot [[build]] over the union corpus
    * (the d18 row pins it), and its fingerprint EQUALS the one-shot
    * fingerprint. */
  def merge(spark: SparkSession, shardDirs: Seq[String],
            outDir: String, checkIds: Boolean = true,
            version: Option[String] = None): Unit =
    StoredIndex.mergeShards(spark, Family, shardDirs, outDir, checkIds,
      version)

  /** Ingest a built shard index INTO a live index in place
    * ([[StoredIndex.absorbShard]]): an hourly slice builds as its own
    * job (the banding pass runs off the serving path) and lands as an
    * O(shard-files) copy + meta fold — [[append]] of the shard's
    * corpus without re-deriving signatures, [[merge]] of the two
    * without copying the large side. */
  def absorb(spark: SparkSession, shardDir: String, dir: String,
             checkIds: Boolean = true): Unit =
    StoredIndex.absorbShard(spark, Family, shardDir, dir, checkIds)

  /** Live indexed ids: every id in the stored shards minus the
    * tombstones — keys-only, index-sized. Public because takedown
    * orchestration ([[graft.streaming.StreamingDedupIngest]]
    * .retract) gates its idempotent re-delivery on it. */
  def liveIndexedIds(spark: SparkSession, dir: String): DataFrame =
    liveIds(spark, dir)

  private def liveIds(spark: SparkSession, dir: String): DataFrame =
    StoredIndex.filterTombstones(spark, dir,
      Family.rawIds(spark, dir).distinct(), "id")

  /** Retract documents from the index WITHOUT rewriting the shards —
    * [[AnnIndex.remove]]'s contract verbatim (see there for the LSM
    * split, the XOR un-mix that keeps content [[ensure]] exact over
    * the live corpus, and the re-append-after-compact rule): the ids
    * land in a `deletes/` tombstone asset, [[probe]] filters them
    * out of the merged buckets BEFORE the cap (so results equal a
    * live-corpus build bit-exactly), and the next [[compact]]
    * materializes the removal. `removed` must carry (id, text) —
    * one row per id, every id live. */
  def remove(removed: DataFrame, dir: String,
             textCol: String = "text", idCol: String = "doc_id"): Unit =
    removeHeld(removed, StoredIndex.holdIds(removed, idCol), dir,
      textCol, idCol)

  /** [[remove]] with the batch's id set already held — a takedown
    * resolved it once ([[StoredIndex.holdIds]]) and passes it down. */
  private[graft] def removeHeld(removed: DataFrame,
                                ids: StoredIndex.Tombstones, dir: String,
                                textCol: String = "text",
                                idCol: String = "doc_id"): Unit = {
    val spark = removed.sparkSession
    StoredIndex.removeIds(spark, dir, ids,
      identity(removed, textCol, idCol).head,
      liveIds(spark, dir), "DedupIndex.remove")
  }

  /** Rewrite the accreted append shards into ONE bucket row per
    * (band, bhash), band-clustered — the periodic remedy for the
    * small-file pressure a long [[append]] chain builds up (each
    * append adds its own shard files; probes then open many footers
    * and regroup more rows). Probe results are bit-identical before
    * and after BY CONSTRUCTION: merging shard rows per key at rest
    * is the same flatten-and-sort regroup [[probe]] applies to the
    * matched shards on every call, and the maxBucket cap applies
    * after that merge in both cases. Runs under [[StoredIndex
    * .compactAsset]]'s commit-marker swap: a crash mid-compaction
    * leaves a validation-failing index, never a valid meta over a
    * half-swapped buckets dir. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val dels = StoredIndex.readDeleteIds(spark, dir)
    StoredIndex.compactAsset(spark, dir, "buckets",
      df =>
        if (dels.isEmpty) compactRewrite(df)
        else StoredIndex.filterTombstones(dels,
            df.select(col("band"), col("bhash"),
              explode(col("ids")).as("id")), "id")
          .groupBy("band", "bhash")
          .agg(array_sort(collect_list(col("id"))).as("ids"))
          .repartition(col("band"))
          .sortWithinPartitions("band", "bhash"),
      dropAssets = if (dels.isDefined) Seq("deletes") else Nil,
      // deletions materialized ⇒ refresh the id bloom from the
      // surviving shard ids (see AnnIndex.compact — same FPP-drift
      // remedy, shard-id explode instead of the postings key)
      liveIdsOf =
        if (dels.isDefined)
          Some(df => df.select(explode(col("ids")).as("id")).distinct())
        else None)
  }

  /** [[compact]] only when the shard dir has accreted past
    * `maxFiles` part files — what a streaming ingest calls after
    * each append so the index maintains itself (amortized
    * O(index / maxFiles) rewrites, probe-side file count bounded).
    * Returns true when a compaction ran. */
  def maybeCompact(spark: SparkSession, dir: String,
                   maxFiles: Int = 64): Boolean =
    StoredIndex.compactIfAccreted(spark, dir, "buckets", maxFiles,
      compactRewrite)

  private def compactRewrite(df: DataFrame): DataFrame =
    df.groupBy("band", "bhash")
      .agg(array_sort(flatten(collect_list(col("ids")))).as("ids"))
      .repartition(col("band")).sortWithinPartitions("band", "bhash")

  /** Operational health report of a stored dedup index —
    * [[AnnIndex.health]]'s sibling, as one (metric, value) frame:
    *
    *  - `n_bucket_rows`: physical shard rows as durably written
    *    (append accretes partial rows per batch; compact folds them
    *    — the gap between this and `n_buckets` is the accretion debt
    *    a compact would clear);
    *  - `n_buckets` / `max_bucket` / `p50_bucket` / `avg_bucket`:
    *    the MERGED live bucket histogram — probe cost is driven by
    *    matched bucket sizes, and a max_bucket near the probe-side
    *    maxBucket cap is the signal that boilerplate-heavy ingest is
    *    pushing candidate mass toward the cap's recall trade;
    *  - `n_entries_live` / `n_docs_live`: live posting mass (≈ docs
    *    × bands) vs distinct live documents;
    *  - `n_tombstoned` / `bloom_present`: retraction debt pending
    *    compact, and whether the O(batch) append guard is armed.
    *
    * Index-asset-sized throughout (the corpus text is never read);
    * one composed plan. [[healthFromCorpus]] re-derives the same
    * frame from the corpus through the in-query banding path — the
    * d21 registry row pins stored ≡ derived on a fresh index, and
    * ExtSpec gates the tombstone-bearing states. */
  def health(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ops.roundDet
    import StoredIndex.{litMetricRow, metricRow, tombstoneMetricRow}
    val raw = spark.read.parquet(s"$dir/buckets")
    val deletes = StoredIndex.readDeleteIds(spark, dir)
    val entries = StoredIndex.filterTombstones(deletes,
      raw.select(col("band"), col("bhash"),
        explode(col("ids")).as("id")), "id")
    val perBucket = entries.groupBy("band", "bhash")
      .agg(count(lit(1L)).as("n"))
    val bloomPresent =
      if (StoredIndex.readIdBloom(spark, dir).isDefined) 1d else 0d
    Seq(
      metricRow("avg_bucket", perBucket, roundDet(avg(col("n")), 4)),
      litMetricRow(spark, "bloom_present", bloomPresent),
      metricRow("max_bucket", perBucket, max(col("n"))),
      metricRow("n_bucket_rows", raw, count(lit(1L))),
      metricRow("n_buckets", perBucket, count(lit(1L))),
      metricRow("n_docs_live",
        entries.select("id").distinct(), count(lit(1L))),
      metricRow("n_entries_live", entries, count(lit(1L))),
      tombstoneMetricRow(spark, dir),
      metricRow("p50_bucket", perBucket,
        roundDet(percentile(col("n"), lit(0.5)), 4))
    ).reduce(_ unionByName _).orderBy("metric")
  }

  /** The health frame a FRESH build of `corpus` must report,
    * derived through the in-query banding path without touching any
    * stored asset — [[health]]'s independent oracle. A fresh build
    * writes one bucket row per (band, bhash) (`n_bucket_rows` =
    * `n_buckets`), holds no tombstones, and mints the id bloom. */
  def healthFromCorpus(corpus: DataFrame,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    import graft.ops.Ops.roundDet
    import StoredIndex.{litMetricRow, metricRow}
    val spark = corpus.sparkSession
    val entries = Dedup.bandedOf(corpus, textCol, idCol)
    val perBucket = entries.groupBy("band", "bhash")
      .agg(count(lit(1L)).as("n"))
    Seq(
      metricRow("avg_bucket", perBucket, roundDet(avg(col("n")), 4)),
      litMetricRow(spark, "bloom_present", 1d),
      metricRow("max_bucket", perBucket, max(col("n"))),
      metricRow("n_bucket_rows", perBucket, count(lit(1L))),
      metricRow("n_buckets", perBucket, count(lit(1L))),
      metricRow("n_docs_live",
        entries.select("id").distinct(), count(lit(1L))),
      metricRow("n_entries_live", entries, count(lit(1L))),
      litMetricRow(spark, "n_tombstoned", 0d),
      metricRow("p50_bucket", perBucket,
        roundDet(percentile(col("n"), lit(0.5)), 4))
    ).reduce(_ unionByName _).orderBy("metric")
  }
}
