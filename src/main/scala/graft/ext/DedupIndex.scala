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

  private def idsOf(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"))

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

  /** Append a batch of NEW documents — O(batch) end-to-end: one
    * shard of partial bucket rows appends, the meta fingerprint
    * updates by XOR, and the id bloom merges driver-side; the corpus
    * is never touched. Batch ids must be new ([[AnnIndex.append]]'s
    * contract, same reasoning: a re-appended id doubles its bucket
    * entries AND cancels its fingerprint term); the default
    * `checkIds` guard is bloom-gated ([[StoredIndex.requireNewIds]])
    * — ids the stored bloom rules out never read the shard id lists
    * at all, so an all-new batch pays only a batch-sized filter, and
    * only might-contain ids (true overlaps + bloom FPP) take the
    * exact broadcast check. Callers whose batches already passed the
    * d7 incremental-dedup anti-join can disable it. */
  def append(batch: DataFrame, dir: String,
             textCol: String = "text", idCol: String = "doc_id",
             checkIds: Boolean = true): Unit = {
    val spark = batch.sparkSession
    // identity + batch bloom in ONE batch pass (was two), started
    // async so it overlaps the id guard's probe (§2.6); joined
    // before the empty-batch refusal, which must precede the marker
    val bidF = StoredIndex.async(StoredIndex.identityAndBloomOf(batch,
      col(idCol).cast("long"), col(textCol), col(idCol)))
    if (checkIds)
      StoredIndex.requireNewIds(spark, dir, idsOf(batch, idCol),
        spark.read.parquet(s"$dir/buckets")
          .select(explode(col("ids")).as("id")),
        "DedupIndex.append")
    val oldMeta = StoredIndex.readMeta(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"DedupIndex.append: no committed meta at $dir"))
    val bid = bidF()
    // guard BEFORE the commit marker: an empty batch (or ids that
    // null the long cast) must not invalidate a good index
    require(bid.getLong(0) > 0L && !bid.isNullAt(1) && !bid.isNullAt(2),
      "DedupIndex.append: batch is empty or has non-integral ids")
    StoredIndex.invalidate(spark, dir) // commit marker
    shardOf(batch, textCol, idCol)
      .write.mode("append").parquet(s"$dir/buckets")
    StoredIndex.mergeIdBloomBytes(spark, dir,
      bid.getAs[Array[Byte]]("bf"))
    StoredIndex.writeMergedMeta(spark, dir, oldMeta, bid)
  }

  /** Merge independently built shard indexes into one — how the
    * index gets BUILT at 100 TB: slice the corpus (by id range,
    * ingest day, source), run [[build]] on every slice as its own
    * job — the signature/banding pass needs nothing from any other
    * slice, so the shard builds run fully in parallel with zero
    * cross-shard shuffle — then merge in O(assets): bucket shard
    * FILES copy into the merged dir (partial rows per (band, bhash)
    * are exactly the shape [[probe]] regroups and [[compact]]
    * clusters anyway — no decode, no shuffle, no parquet rewrite),
    * metas fold by the append algebra (sum/max/XOR), id blooms
    * union driver-side, pending tombstones union by file copy. The
    * merged index is probe-identical to a one-shot [[build]] over
    * the union corpus (the d18 row pins it), and its meta
    * fingerprint EQUALS the one-shot fingerprint, so a content
    * [[ensure]] over the union validates without rebuilding.
    *
    * Shards must not share RAW bucket ids — raw, not live: a
    * tombstoned id in one shard would otherwise filter the same id
    * LIVE in another through the unioned deletes asset. The default
    * guard pays one keys-only distinct-count pass over the shard id
    * lists (merge is a rare build-time op; slices disjoint by
    * construction — id-range or hash-sliced — can disable it). If
    * ANY shard predates the id-bloom asset, the merged index omits
    * the bloom (prior ids unknown — the no-false-negatives
    * contract; guards fall back to exact checks). */
  def merge(spark: SparkSession, shardDirs: Seq[String],
            outDir: String, checkIds: Boolean = true,
            version: Option[String] = None): Unit = {
    require(shardDirs.nonEmpty, "DedupIndex.merge: no shards")
    StoredIndex.requireDisjointDirs(spark, outDir, shardDirs,
      "DedupIndex.merge")
    val metas = shardDirs.map(d =>
      StoredIndex.readMeta(spark, d).getOrElse(
        throw new IllegalStateException(
          s"DedupIndex.merge: shard $d has no committed meta — " +
            "finish (or rerun) its build before merging")))
    if (checkIds && shardDirs.size > 1) {
      val dup = shardDirs.map(d =>
          spark.read.parquet(s"$d/buckets")
            .select(explode(col("ids")).as("id")).distinct())
        .reduce(_ unionByName _)
        .groupBy("id").count().filter(col("count") > 1)
        .limit(1).count()
      require(dup == 0L,
        "DedupIndex.merge: shards share raw id(s) — slices must be " +
          "disjoint (tombstoned ids included: a tombstone in one " +
          "shard would filter the same id live in another)")
    }
    // meta first (commit marker), then the wipe: a crash mid-delete
    // must leave a validation-failing dir, never stale meta over a
    // half-removed asset tree
    StoredIndex.invalidate(spark, outDir)
    StoredIndex.fsOf(spark, outDir)
      .delete(new org.apache.hadoop.fs.Path(outDir), true)
    shardDirs.zipWithIndex.foreach { case (d, i) =>
      StoredIndex.copyAssetFiles(spark, s"$d/buckets",
        s"$outDir/buckets", s"s${i}_")
      StoredIndex.copyAssetFiles(spark, s"$d/deletes",
        s"$outDir/deletes", s"s${i}_")
    }
    val blooms = shardDirs.map(d =>
      StoredIndex.readIdBloomAsset(spark, d))
    if (blooms.forall(_.isDefined)) // else: a pre-bloom shard — omit
      StoredIndex.writeBloomBytes(spark, outDir,
        blooms.flatMap(_.get) match {
          case Nil => null // every shard provably empty
          case live => StoredIndex.mergedBloomBytes(live)
        })
    StoredIndex.writeFoldedMeta(spark, outDir, metas, version)
  }

  /** Ingest a built shard index INTO a live index in place — the
    * O(batch) tail of continuous bulk loading, where [[merge]] is
    * the O(total) one-shot: an hourly slice builds as its own job
    * (signature/banding pass, the expensive part, runs off the
    * serving path), then lands in the serving index as an
    * O(shard-files) copy + meta fold — the big index's bucket files
    * are never read, never rewritten. Equivalent to [[append]] of
    * the shard's corpus but without re-deriving signatures, and
    * equivalent to [[merge]] of the two but without copying the
    * large side. The shard's pending tombstones ride along.
    *
    * Guard, crash posture, and bloom algebra mirror [[append]]:
    * the raw-id disjointness check is bloom-gated to O(shard) for
    * the common all-new slice; the commit marker drops before the
    * first copy, so a crash mid-absorb leaves a validation-failing
    * index (the next ensure() rebuilds), never a half-union; the
    * target's bloom unions with the shard's driver-side — unless
    * the SHARD predates the bloom asset (its ids unknown), in which
    * case the target's bloom is dropped rather than left claiming
    * coverage it no longer has (the no-false-negatives contract).
    * The target's version is cleared: absorbed content invalidates
    * any caller-pinned corpus version, exactly as [[append]] keeps
    * only what still holds. The shard dir is left untouched and
    * servable; delete it after a successful absorb. */
  def absorb(spark: SparkSession, shardDir: String, dir: String,
             checkIds: Boolean = true): Unit = {
    require(shardDir != dir, "DedupIndex.absorb: shard IS the target")
    val dirMeta = StoredIndex.readMeta(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"DedupIndex.absorb: target $dir has no committed meta — " +
          "build it first (or use merge into a fresh dir)"))
    val shardMeta = StoredIndex.readMeta(spark, shardDir).getOrElse(
      throw new IllegalStateException(
        s"DedupIndex.absorb: shard $shardDir has no committed meta — " +
          "finish (or rerun) its build before absorbing"))
    if (checkIds)
      StoredIndex.requireNewIds(spark, dir,
        spark.read.parquet(s"$shardDir/buckets")
          .select(explode(col("ids")).as("id")),
        spark.read.parquet(s"$dir/buckets")
          .select(explode(col("ids")).as("id")),
        "DedupIndex.absorb")
    val shardBloom = StoredIndex.readIdBloomAsset(spark, shardDir)
    StoredIndex.invalidate(spark, dir) // commit marker
    StoredIndex.copyAssetFiles(spark, s"$shardDir/buckets",
      s"$dir/buckets", "ab_")
    StoredIndex.copyAssetFiles(spark, s"$shardDir/deletes",
      s"$dir/deletes", "ab_")
    (StoredIndex.readIdBloomAsset(spark, dir), shardBloom) match {
      case (None, _) => () // pre-bloom target stays pre-bloom
      case (Some(_), None) => // pre-bloom shard: target bloom would
        // now miss the shard's ids — drop the asset entirely
        StoredIndex.fsOf(spark, dir)
          .delete(new org.apache.hadoop.fs.Path(s"$dir/idbloom"), true)
      case (Some(a), Some(b)) =>
        StoredIndex.writeBloomBytes(spark, dir,
          (a.toList ++ b.toList) match {
            case Nil => null // both provably empty
            case one :: Nil => one
            case both => StoredIndex.mergedBloomBytes(both)
          })
    }
    StoredIndex.writeFoldedMeta(spark, dir, Seq(dirMeta, shardMeta),
      version = None)
  }

  /** Live indexed ids: every id in the stored shards minus the
    * tombstones — keys-only, index-sized. Public because takedown
    * orchestration ([[graft.streaming.StreamingDedupIngest]]
    * .retract) gates its idempotent re-delivery on it. */
  def liveIndexedIds(spark: SparkSession, dir: String): DataFrame =
    liveIds(spark, dir)

  private def liveIds(spark: SparkSession, dir: String): DataFrame =
    StoredIndex.filterTombstones(spark, dir,
      spark.read.parquet(s"$dir/buckets")
        .select(explode(col("ids")).as("id")).distinct(), "id")

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
