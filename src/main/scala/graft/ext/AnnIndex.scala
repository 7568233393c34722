package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored IVFADC index — the build-once / serve-many split
  * [[Similarity.ivfPqTopK]]'s scaladoc promises, made concrete
  * (extension beyond the reference — SURVEY §7.4). x8 rebuilds
  * centroids + codebook + encodings inside every query; at 100 TB
  * that is the wrong cost split: the index is built ONCE per corpus
  * version (the expensive O(N·K) assign + encode passes) and every
  * query afterwards touches only its nprobe probed buckets' postings
  * plus two tiny broadcast assets.
  *
  * Layout on disk (all parquet, under one index directory):
  *  - `centroids/`  (cid, cvec)           — broadcast-sized by the
  *    [[Similarity.centroids]] maxCentroids cap
  *  - `codebook/`   one row (cb)          — ~25 KB by pqCodebook's
  *    maxK cap; the broadcast-everywhere ADC asset
  *  - `postings/`   (nid, codes, cid)     — the searchable corpus at
  *    m ints + one cid per row (64× smaller than the embeddings),
  *    repartitioned and sorted by cid so files carry tight cid
  *    row-group ranges (a probe's `cid IN (…)` prunes at the scan; a
  *    metastore deployment would `bucketBy(cid)` for shuffle-free
  *    probe joins — same physical idea, catalog-managed)
  *  - `idbloom/`    one row (bf)          — superset-of-indexed-ids
  *    bloom; [[append]]'s duplicate-id guard reads it so all-new
  *    batches never scan the postings ([[StoredIndex]])
  *  - `deletes/`    (id)                  — tombstones from
  *    [[remove]], if any retraction is pending; probes anti-join
  *    them and [[compact]] materializes + clears them
  *  - `meta/`       one row (n_rows, max_id, fingerprint, version) —
  *    written LAST as the build's commit marker; [[ensure]]
  *    revalidates it against the live corpus so a stale index
  *    (regenerated fixture, different corpus at the same path)
  *    rebuilds instead of serving wrong neighbors
  *
  * Path/meta/fingerprint/commit-marker mechanics are
  * [[StoredIndex]]'s — one construction style shared with
  * [[DedupIndex]]; this file keeps only the IVFADC asset builders.
  * Everything in the chain is the same deterministic arithmetic as
  * x8 (stride centroids under the cap, rank-dense codebook cids,
  * roundDet'd LUT + score), so the stored path is DuckDB-oracle-able
  * with x8's own SQL — and [[probeTopK]] runs [[Similarity
  * .ivfPqProbe]], literally the same query-side code.
  *
  * A serve reads every asset with its declared footer schema
  * ([[StoredIndex.readAsset]]: no schema-inference job) and keeps the
  * query side ONE row per query: the ADC lookup table is a projection
  * over that row and the broadcast codebook, not an aggregate, and
  * rides the probed (qid, cid) rows into the candidate join.
  */
object AnnIndex {

  /** Deterministic per-corpus index location for a testdata sf dir.
    * Repo-local (target/ is gitignored and owned by this checkout)
    * rather than a predictable world-shared /tmp path: on a
    * multi-user machine /tmp's sticky bit still lets any user
    * pre-create a known name, and two checkouts racing a bench +
    * verify run would overwrite each other mid-build. Overridable
    * for deployments that manage index storage explicitly. */
  def dirFor(sfDir: String): String =
    StoredIndex.dirFor("target/x9-index", "", sfDir)

  /** Corpus identity row: row count, max id, and an order-insensitive
    * content fingerprint (XOR fold of per-row xxhash64 over
    * id + vector — commutative like a sum but cannot overflow under
    * ANSI arithmetic) — what [[ensure]] compares against the stored
    * meta. One corpus scan, no shuffle beyond the 1-row aggregate. */
  private def identity(corpus: DataFrame, vecCol: String,
                       idCol: String): DataFrame =
    StoredIndex.identityOf(corpus, col(idCol), col(vecCol))

  /** Build (or rebuild) the full index at `dir`. The expensive side
    * of the split: one assign pass (O(N·K), K capped), one encode
    * pass (O(N·K·d/m), K capped), one cid-keyed shuffle of the
    * 32-byte posting rows — never the raw embeddings. */
  def build(corpus: DataFrame, dir: String, stride: Int = 20,
            m: Int = 4, dim: Int = 64, maxCentroids: Int = 4096,
            vecCol: String = "embedding",
            idCol: String = "vec_id",
            version: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    // invalidate FIRST: meta-written-last is the commit marker, so a
    // rebuild must delete the PREVIOUS meta before touching any other
    // asset — otherwise a crash mid-rebuild leaves stale-but-valid
    // meta beside partially overwritten centroids/codebook/postings,
    // and ensure() would serve the broken index
    StoredIndex.invalidate(spark, dir)
    StoredIndex.clearDeleteIds(spark, dir) // rebuild = clean live state
    TenantOverlay.drop(spark, dir, None) // assignments name the PREVIOUS
    // generation's ids — re-register after an in-place rebuild
    // ([[rebuildStaged]] instead CARRIES survivors; see its scaladoc)
    // the commit-metadata aggregate is independent of the training/
    // encode chain — overlap it with the whole build (§2.6); joined
    // before the meta write, so crash semantics are unchanged
    val ib = StoredIndex.async(StoredIndex.identityAndBloomOf(corpus,
      col(idCol), col(vecCol), col(idCol)))
    val cents = Similarity.centroids(corpus, stride, vecCol, idCol,
      maxCentroids).localCheckpoint()
    val cb = Similarity.pqCodebook(corpus, stride, m, dim,
      vecCol = vecCol, idCol = idCol).localCheckpoint()
    // three independent asset derivations off the checkpointed
    // training frames — unordered between the markers, so overlapped
    StoredIndex.inParallel(
      () => cents.write.mode("overwrite").parquet(s"$dir/centroids"),
      () => cb.write.mode("overwrite").parquet(s"$dir/codebook"),
      // codes + assignment in ONE scan (was two scans + an nid join
      // shuffle — Similarity.pqEncodeAssign)
      () => Similarity.pqEncodeAssign(corpus, cents, cb, m, dim,
          vecCol, idCol)
        .repartition(col("cid")).sortWithinPartitions("cid")
        .write.mode("overwrite").parquet(s"$dir/postings"))
    // identity + id bloom in ONE corpus pass (was two full scans);
    // meta last: its presence marks a complete build
    StoredIndex.writeBloomAndMeta(spark, dir, ib(), version)
  }

  /** Validate the stored index against the live corpus; build when
    * missing or stale. Returns true when a build ran.
    *
    * Two validation postures, by `version`:
    *  - `None` (most registry queries' choice): content validation —
    *    one corpus scan recomputes the fingerprint and compares it to
    *    the stored meta. Right when the corpus at a path can silently
    *    change under you (regenerated fixtures, a shared test dir).
    *  - `Some(v)` (the production posture): explicit versioning — the
    *    caller names the corpus version it indexed ("2026-08-14", a
    *    snapshot id, or [[StoredIndex.fileVersion]]'s zero-scan file
    *    identity), and validation is ONE 1-row meta read, zero corpus
    *    scans on the serve path. The caller owns the contract that a
    *    version string never maps to two different corpora — exactly
    *    the contract a catalog/snapshot store provides.
    *
    * A meta READ FAILURE that is not "missing" (corrupt footer,
    * transient FS error) propagates instead of silently rebuilding
    * mid-serve ([[StoredIndex.readMeta]]). */
  def ensure(corpus: DataFrame, dir: String, stride: Int = 20,
             m: Int = 4, dim: Int = 64, maxCentroids: Int = 4096,
             vecCol: String = "embedding",
             idCol: String = "vec_id",
             version: Option[String] = None): Boolean = {
    val fresh = StoredIndex.isFresh(corpus.sparkSession, dir, version,
      identity(corpus, vecCol, idCol).head)
    if (!fresh) build(corpus, dir, stride, m, dim, maxCentroids,
      vecCol, idCol, version)
    !fresh
  }

  /** Serve-while-rebuilding retrain — the actionable response to
    * [[health]]'s hot-spot signal (max_bucket pulling away from p50:
    * the stored centroids no longer fit the drifted live
    * distribution). [[build]] in place invalidates the live commit
    * marker before its first expensive pass, so a retrain through it
    * takes the index out of service for the entire O(N·K)
    * assign/encode — hours at 100 TB. This splits it: the full
    * rebuild (fresh centroids + codebook from `corpus`, complete
    * with its own meta) lands in a staging dir beside the live
    * assets, which keep validating and serving throughout; then
    * [[StoredIndex.swapStaged]] replaces the index in a rename-sized
    * window. A crash during the staged build leaves the live index
    * untouched (residue is cleared by the next retrain); a crash
    * inside the swap leaves a validation-failing index that
    * ensure() rebuilds — never a half-swapped mix of generations.
    *
    * A registered tenant overlay is CARRIED through the retrain
    * ([[TenantOverlay.carry]]): ids present only in the NEW corpus
    * are untenanted ([[assignTenants]] after). */
  def rebuildStaged(corpus: DataFrame, dir: String, stride: Int = 20,
                    m: Int = 4, dim: Int = 64, maxCentroids: Int = 4096,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id",
                    version: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val staging = StoredIndex.freshStaging(spark, dir)
    build(corpus, staging, stride, m, dim, maxCentroids, vecCol,
      idCol, version)
    TenantOverlay.carry(spark, dir, staging,
      readAsset(spark, staging, "postings").select(col("nid").as("id")),
      None)
    StoredIndex.swapStaged(spark, dir,
      Seq("centroids", "codebook", "postings") ++ TenantOverlay.assets(None))
  }

  /** Incremental index maintenance: append a batch of NEW vectors to
    * a stored index WITHOUT rebuilding ([[StoredIndex.appendBatch]]:
    * bloom-gated new-id guard, XOR meta algebra, commit marker). The
    * batch is encoded and assigned against the STORED
    * centroids/codebook (append cost O(batch·K), batch-sized shuffle
    * only) and its posting rows are appended.
    *
    * Trade-offs, stated plainly:
    *  - Appended vectors are quantized with the ORIGINAL codebook
    *    and bucketed by the ORIGINAL centroids — standard IVF
    *    serving practice. Drift from a shifting data distribution
    *    degrades recall gradually; the remedy is a periodic
    *    [[build]] re-train, which this split makes cheap to
    *    schedule (serve from the old index until the new one's
    *    meta lands).
    *  - Each append writes new posting files (cid-sorted within the
    *    batch); a long append chain accumulates small files — the
    *    same pressure [[graft.ext.Layout]]'s compaction planner
    *    (z4) measures, and [[compact]] is the periodic remedy. */
  def append(batch: DataFrame, dir: String, m: Int = 4, dim: Int = 64,
             vecCol: String = "embedding", idCol: String = "vec_id",
             checkIds: Boolean = true): Unit =
    StoredIndex.appendBatch(Family, batch, dir, col(idCol), col(vecCol),
        idCol, checkIds) {
      val spark = batch.sparkSession
      val cents = readAsset(spark, dir, "centroids")
      val cb = readAsset(spark, dir, "codebook")
      // codes + assignment in ONE scan (Similarity.pqEncodeAssign)
      () => Similarity.pqEncodeAssign(batch, cents, cb, m, dim, vecCol,
          idCol)
        .repartition(col("cid")).sortWithinPartitions("cid")
        .write.mode("append").parquet(s"$dir/postings")
    }

  /** Encode a corpus slice into a NEW shard index that shares a
    * trainer index's quantization assets — the distributed-build
    * split for the ANN family, the standard large-scale IVF recipe:
    * TRAIN ONCE ([[build]] on a representative slice — the trainer),
    * then encode every other slice against the trainer's
    * centroids/codebook as independent parallel jobs (each is
    * O(slice·K) with zero cross-slice traffic), then [[merge]] the
    * shards in O(assets). Unlike [[DedupIndex]]'s shards — whose
    * MinHash signatures are content-pure — ANN postings are only
    * meaningful RELATIVE to the assets that encoded them, so the
    * sharding contract is SHARED assets by construction: this
    * copies the trainer's asset FILES bit-identically (never
    * re-derives them), and [[merge]] verifies the shards agree
    * before unioning postings. The recall trade is [[append]]'s
    * (assets trained on the trainer slice only — x10_recall prices
    * it); the build-cost win is that the O(N·K) encode pass
    * parallelizes across shard jobs instead of serializing through
    * one append chain. */
  def shardFrom(trainerDir: String, slice: DataFrame,
                shardDir: String, m: Int = 4, dim: Int = 64,
                vecCol: String = "embedding",
                idCol: String = "vec_id",
                version: Option[String] = None): Unit = {
    val spark = slice.sparkSession
    // a shard is built FRESH every time: invalidate first (commit
    // marker — a crash mid-wipe must leave a validation-failing
    // dir), then wipe the whole dir. Copying into a leftover shard
    // dir would ACCRETE asset files beside the previous run's
    // (UUID-distinct names), and a doubled asset XOR-cancels its
    // content fingerprint — merge would then reject (or worse,
    // postings would join against duplicated centroid rows).
    StoredIndex.invalidate(spark, shardDir)
    StoredIndex.fsOf(spark, shardDir)
      .delete(new org.apache.hadoop.fs.Path(shardDir), true)
    require(
      StoredIndex.copyAssetFiles(spark, s"$trainerDir/centroids",
        s"$shardDir/centroids", "t_") &&
      StoredIndex.copyAssetFiles(spark, s"$trainerDir/codebook",
        s"$shardDir/codebook", "t_"),
      s"AnnIndex.shardFrom: trainer at $trainerDir has no " +
        "centroids/codebook assets — build it first")
    val cents = readAsset(spark, shardDir, "centroids")
    val cb = readAsset(spark, shardDir, "codebook")
    // identity + id bloom in ONE slice pass (was two), overlapped
    // with the encode+write (§2.6); joined before the meta marker
    val ib = StoredIndex.async(StoredIndex.identityAndBloomOf(slice,
      col(idCol), col(vecCol), col(idCol)))
    // codes + assignment in ONE scan (was two scans + an nid join
    // shuffle — Similarity.pqEncodeAssign)
    Similarity.pqEncodeAssign(slice, cents, cb, m, dim, vecCol, idCol)
      .repartition(col("cid")).sortWithinPartitions("cid")
      .write.mode("overwrite").parquet(s"$shardDir/postings")
    StoredIndex.writeBloomAndMeta(spark, shardDir, ib(), version)
  }

  /** Order-insensitive content fingerprint of a shard's quantization
    * assets — what [[merge]] compares to enforce the shared-assets
    * contract (postings encoded by different codebooks must never
    * union: the codes would score against the wrong reconstruction
    * table, silently). Broadcast-sized reads: centroids are capped,
    * the codebook is one row. */
  private def assetFingerprint(spark: SparkSession,
                               dir: String): (Long, Long) = {
    def fp(df: DataFrame): Long =
      Option(df.head.getAs[Any]("fingerprint"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    (fp(StoredIndex.identityOf(
        readAsset(spark, dir, "centroids"),
        col("cid"), col("cvec"))),
     fp(StoredIndex.identityOf(
        readAsset(spark, dir, "codebook"),
        lit(0L), col("cb"))))
  }

  /** This family's share of the stored-index commit protocol: raw
    * ids are the posting nids, the copied asset is `postings/`. Every
    * input's centroid/codebook fingerprints must MATCH (the
    * shared-assets contract [[shardFrom]] establishes — postings
    * encoded by a different codebook would score against the wrong
    * reconstruction table, silently), and a merge's fresh dir takes
    * those shared assets once, from the first shard. */
  private val Family = StoredIndex.Family("AnnIndex",
    (spark, dir) =>
      readAsset(spark, dir, "postings").select(col("nid").as("id")),
    Seq("postings"),
    preCheck = (spark, dirs, what) => {
      val fps = dirs.map(assetFingerprint(spark, _))
      require(fps.distinct.size == 1,
        s"$what: inputs were encoded against DIFFERENT quantization " +
          "assets — only shards built by shardFrom off one trainer (or " +
          "one build+append chain) merge or absorb; fingerprints: " +
          dirs.zip(fps).mkString(", "))
    },
    fold = (spark, out, inputs) => () =>
      // an absorb target (the first input) holds them already
      if (inputs.head != out) Seq("centroids", "codebook").foreach(a =>
        StoredIndex.copyAssetFiles(spark, s"${inputs.head}/$a",
          s"$out/$a", "t_")))

  /** Merge shard indexes that share quantization assets into one
    * ([[StoredIndex.mergeShards]]) — the O(assets) tail of the
    * [[shardFrom]] distributed build: posting FILES copy (cid
    * row-group locality within each copied file is preserved; run
    * [[compact]] after merging many small shards to restore
    * cross-file cid clustering). The merged index is probe-identical
    * to [[build]]-then-[[append]] over the same slices (the x15 row
    * pins it against the x10 oracle), and its fingerprint equals
    * that chain's. */
  def merge(spark: SparkSession, shardDirs: Seq[String],
            outDir: String, checkIds: Boolean = true,
            version: Option[String] = None): Unit =
    StoredIndex.mergeShards(spark, Family, shardDirs, outDir, checkIds,
      version)

  /** Ingest a built shard index INTO a live index in place
    * ([[StoredIndex.absorbShard]]): [[shardFrom]] encodes the slice
    * off the serving path, then the shard lands as an O(shard-files)
    * posting copy + meta fold — [[append]] of the slice without
    * paying the encode inside the serving index's commit window. */
  def absorb(spark: SparkSession, shardDir: String, dir: String,
             checkIds: Boolean = true): Unit =
    StoredIndex.absorbShard(spark, Family, shardDir, dir, checkIds)

  /** An asset of the index at `dir`, read with its declared footer
    * schema ([[StoredIndex.readAsset]]) — no schema-inference job. */
  private def readAsset(spark: SparkSession, dir: String,
                        name: String): DataFrame =
    StoredIndex.readAsset(spark, "AnnIndex", dir, name)

  /** Postings with tombstoned rows filtered out — what every probe
    * searches. The tombstone side is retraction-sized (broadcast). */
  private def livePostings(spark: SparkSession,
                           dir: String): DataFrame =
    StoredIndex.filterTombstones(spark, dir,
      readAsset(spark, dir, "postings"), "nid")

  /** Live indexed ids: every posting id minus the tombstones —
    * keys-only, index-sized, the embeddings are never read. Public
    * because takedown orchestration ([[graft.streaming
    * .StreamingAnnIngest]].retract) gates its idempotent re-delivery
    * on it, mirroring [[DedupIndex.liveIndexedIds]]. */
  def liveIndexedIds(spark: SparkSession, dir: String): DataFrame =
    livePostings(spark, dir).select(col("nid").as("id")).distinct()

  /** Retract vectors from the index WITHOUT rewriting the postings —
    * the takedown path a training corpus needs, priced like
    * [[append]]: O(retraction batch) plus one keys-only pass over
    * the postings ids. The ids land in a `deletes/` tombstone asset;
    * every probe anti-joins it (broadcast, retraction-sized), and
    * the next [[compact]] materializes the removal physically (the
    * LSM split). The meta stays EXACT: the XOR fold un-mixes removed
    * rows (fingerprint(old \ removed) = fingerprint(old) XOR
    * fingerprint(removed)), so a content [[ensure]] over the LIVE
    * corpus still validates fresh with zero rebuilds; max_id is
    * recomputed over live posting ids (keys-only, index-sized,
    * never the corpus).
    *
    * Contracts:
    *  - `removed` must carry the retracted rows WITH their vectors
    *    (the retraction request from the corpus store) — the XOR
    *    un-mix needs the same (id, vector) terms the build folded;
    *    one row per id.
    *  - Every retracted id must be LIVE in the index (present, not
    *    already tombstoned): XORing a foreign term would corrupt
    *    the fingerprint silently, so the guard throws.
    *  - Re-appending a tombstoned id is REJECTED (the physical rows
    *    are still there) until a [[compact]] materializes the
    *    deletion — then it appends cleanly.
    *  - Meta is deleted first / written last, the same commit-marker
    *    invariant as build/append/compact. */
  def remove(removed: DataFrame, dir: String,
             vecCol: String = "embedding",
             idCol: String = "vec_id"): Unit =
    removeHeld(removed, StoredIndex.holdIds(removed, idCol), dir,
      vecCol, idCol)

  /** [[remove]] with the batch's id set already held — a takedown
    * resolved it once ([[StoredIndex.holdIds]]) and passes it down. */
  private[graft] def removeHeld(removed: DataFrame,
                                ids: StoredIndex.Tombstones, dir: String,
                                vecCol: String = "embedding",
                                idCol: String = "vec_id"): Unit = {
    val spark = removed.sparkSession
    StoredIndex.removeIds(spark, dir, ids,
      identity(removed, vecCol, idCol).head,
      livePostings(spark, dir).select(col("nid").as("id")),
      "AnnIndex.remove")
  }

  /** Rewrite the postings clustered by cid into fresh, full-size
    * files — the remedy for the small-file accumulation a long
    * [[append]] chain causes (each append adds its own cid-sorted
    * files; probes then open many footers and lose row-group cid
    * locality ACROSS files). Content is untouched, so the meta row
    * is preserved verbatim — under [[StoredIndex.compactAsset]]'s
    * commit-marker swap: meta is deleted BEFORE the postings swap
    * and restored after, so a crash mid-compaction leaves a
    * validation-failing index (next ensure() rebuilds), never a
    * valid meta over a half-swapped postings dir. The swap itself is
    * stage-then-rename: the clustered rewrite lands in
    * `postings_compact`, and only after it is fully written do the
    * two renames run — the unreadable window is two metadata ops,
    * not the rewrite. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val dels = StoredIndex.readDeleteIds(spark, dir)
    TenantOverlay.compact(spark, dir, dels) // before `deletes/` drops
    StoredIndex.compactAsset(spark, dir, "postings",
      df => compactRewrite(
        StoredIndex.filterTombstones(dels, df, "nid")),
      dropAssets = if (dels.isDefined) Seq("deletes") else Nil,
      // materializing deletions also refreshes the id bloom from the
      // surviving postings — retracted ids leave the superset bloom
      // here instead of accreting FPP until a full rebuild
      liveIdsOf =
        if (dels.isDefined) Some(df => df.select(col("nid").as("id")))
        else None)
  }

  /** [[compact]] only when the postings dir has accreted past
    * `maxFiles` part files — the self-maintenance hook a streaming
    * ingest calls after each append (amortized O(index / maxFiles)
    * rewrites). Returns true when a compaction ran. */
  def maybeCompact(spark: SparkSession, dir: String,
                   maxFiles: Int = 64): Boolean = {
    val p = StoredIndex.compactIfAccreted(spark, dir, "postings",
      maxFiles, compactRewrite)
    val t = TenantOverlay.maybeCompact(spark, dir, maxFiles)
    p || t
  }

  private def compactRewrite(df: DataFrame): DataFrame =
    df.repartition(col("cid")).sortWithinPartitions("cid")

  /** Serve top-k from the stored form: reads the three assets and
    * runs [[Similarity.ivfPqProbe]] — the cheap side of the split
    * (per-query cost |corpus|·nprobe/K ADC lookups; the embeddings
    * are never read). */
  def probeTopK(spark: SparkSession, dir: String, queries: DataFrame,
                k: Int, nprobe: Int = 12, m: Int = 4, dim: Int = 64,
                vecCol: String = "embedding",
                idCol: String = "vec_id",
                excludeSelf: Boolean = true): DataFrame =
    Similarity.ivfPqProbe(
      readAsset(spark, dir, "centroids"),
      readAsset(spark, dir, "codebook"),
      livePostings(spark, dir),
      queries, k, nprobe, m, dim, vecCol, idCol,
      excludeSelf = excludeSelf)

  /** RANGE (threshold) serve from the stored index: every live
    * candidate in the probed buckets whose ADC score clears
    * `threshold` — [[Similarity.ivfPqRange]] over the tombstone-
    * filtered postings. The query side of a SEMANTIC DEDUP GATE
    * (all matches above a similarity bar, unranked); [[probeTopK]]
    * is retrieval (best k regardless of bar). No per-qid rank
    * window, so the serve plan is join→score→filter, fully
    * pipelined. */
  def probeRange(spark: SparkSession, dir: String, queries: DataFrame,
                 threshold: Double, nprobe: Int = 12, m: Int = 4,
                 dim: Int = 64, vecCol: String = "embedding",
                 idCol: String = "vec_id"): DataFrame =
    Similarity.ivfPqRange(
      readAsset(spark, dir, "centroids"),
      readAsset(spark, dir, "codebook"),
      livePostings(spark, dir),
      queries, threshold, nprobe, m, dim, vecCol, idCol)

  /** Semantic near-dup gate served from the stored index: for each
    * batch vector, its single best live match (IVFADC argmax) IF
    * that match clears `threshold` — the accept/quarantine decision
    * a semantic dedup pass makes per incoming document, priced as
    * one stored-index probe (the corpus is never re-encoded; the
    * MinHash twin is [[DedupIndex.probe]], this is the embedding-
    * space gate d5/d9 run index-free). Batch vectors with no match
    * above the bar are absent from the result — they are the
    * ACCEPTED set; returned rows are the rejections with their
    * duplicate-of evidence. */
  def semanticGate(spark: SparkSession, dir: String, batch: DataFrame,
                   threshold: Double, nprobe: Int = 12, m: Int = 4,
                   dim: Int = 64, vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame =
    probeTopK(spark, dir, batch, k = 1, nprobe, m, dim, vecCol, idCol)
      .filter(col("score") >= threshold)
      .select("qid", "nid", "score")
      .orderBy("qid")

  /** Filtered serve: top-k among an ALLOWED id subset only — the
    * metadata-filtered vector search every production ANN deployment
    * needs ("nearest neighbors among docs with license=permissive").
    * PRE-filter semantics: the allowed set restricts the postings
    * BEFORE scoring, so the result is the exact IVFADC top-k of the
    * allowed sub-corpus within the probed buckets (post-filtering
    * k results and discarding would under-fill instead). A query
    * whose probed buckets hold fewer than k allowed candidates
    * returns fewer than k rows — the honest answer; selective
    * filters raise `nprobe` to widen the searched buckets, the
    * standard dial. An allowed set of at most
    * [[StoredIndex.HeldIdCap]] ids rides the postings scan as sorted
    * `nid IN (…)` literals (a held, local frame collects without a
    * job); above the cap it semi-joins, and `broadcastAllowed` fits
    * the contract-small allowlist case (license tags, a tenant's
    * ids) — disable it for data-sized predicates and the join stays
    * keyed on nid. */
  def probeTopKFiltered(spark: SparkSession, dir: String,
                        queries: DataFrame, allowed: DataFrame,
                        k: Int, nprobe: Int = 12, m: Int = 4,
                        dim: Int = 64, vecCol: String = "embedding",
                        idCol: String = "vec_id",
                        broadcastAllowed: Boolean = true): DataFrame = {
    val ids = allowed.select(col(idCol).cast("long").as("nid"))
      .filter(col("nid").isNotNull)
    Similarity.ivfPqProbe(
      readAsset(spark, dir, "centroids"),
      readAsset(spark, dir, "codebook"),
      grantedPostings(spark, dir, ids, StoredIndex.HeldIdCap,
        f => if (broadcastAllowed) broadcast(f.distinct()) else f.distinct()),
      queries, k, nprobe, m, dim, vecCol, idCol)
  }

  /** Live postings restricted to a grant (`nid` column) — the
    * literal-or-frame split of [[StoredIndex.idLiterals]]: sorted
    * distinct `nid IN (…)` literals riding the postings scan when the
    * grant has at most `cap` rows (no job for a held, local grant),
    * otherwise a keyed semi-join against `frameSide(grant)`. */
  private def grantedPostings(spark: SparkSession, dir: String,
                              grant: DataFrame, cap: Int,
                              frameSide: DataFrame => DataFrame)
      : DataFrame = {
    val live = livePostings(spark, dir)
    StoredIndex.idLiterals(grant, cap) match {
      case Some(l) => live.filter(col("nid").isin(l.distinct: _*))
      case None => live.join(frameSide(grant), Seq("nid"), "left_semi")
    }
  }

  /** Batched filtered serve — [[probeTopKFiltered]] with PER-QUERY
    * allowed id subsets ([[KeywordIndex.probeManyFiltered]]'s shape
    * on the dense family, closing the batch × filtered cell on this
    * side of the retrieval matrix): each qid's page is the exact
    * IVFADC top-k of allowed(qid) within ITS probed buckets — the
    * (qid, nid) restriction semi-joins the candidate slice BEFORE
    * the ADC fold, so disallowed candidates never
    * cost a score, and every rank window stays qid-partitioned (the
    * probe chain's own shape — no global window exists to begin
    * with). `allowed` carries (qid, id) pairs; a qid with no allowed
    * rows serves an empty page; per-query under-filled pages are the
    * honest pre-filter answer ([[probeTopKFiltered]]'s contract —
    * raise `nprobe` for selective grants). `broadcastAllowed` is the
    * family's dial: hint the pairs frame only when the batch is a
    * page of contract-small grants; disable it for data-sized pair
    * frames and the semi-join stays keyed with the strategy left to
    * Catalyst/AQE. */
  def probeManyFiltered(spark: SparkSession, dir: String,
                        queries: DataFrame, allowed: DataFrame,
                        k: Int, nprobe: Int = 12, m: Int = 4,
                        dim: Int = 64, vecCol: String = "embedding",
                        idCol: String = "vec_id",
                        qidCol: String = "qid",
                        broadcastAllowed: Boolean = true,
                        excludeSelf: Boolean = true): DataFrame = {
    val pairs0 = allowed.select(col(qidCol).cast("long").as("qid"),
      col(idCol).cast("long").as("nid")).distinct()
    val pairs = if (broadcastAllowed) broadcast(pairs0) else pairs0
    Similarity.ivfPqProbe(
      readAsset(spark, dir, "centroids"),
      readAsset(spark, dir, "codebook"),
      livePostings(spark, dir), queries, k, nprobe, m, dim, vecCol,
      idCol, restrict = _.join(pairs, Seq("qid", "nid"), "left_semi"),
      excludeSelf = excludeSelf)
  }

  // ------------------------------------------------ tenant overlay

  /** The dense family's registered-tenant overlay is [[TenantOverlay]]
    * with NO gauge: ADC scoring uses no corpus statistics (each
    * candidate's score is a pure function of its codes and the
    * query's LUT), so the overlay's whole job is making the
    * per-tenant grant a STORED, pruned read instead of a
    * caller-carried allowed frame — [[probeTopKTenant]] is
    * [[probeTopKFiltered]] with the allowed set drawn from the
    * clustered slice. Every assigned id must be live. */
  def registerTenants(spark: SparkSession, dir: String,
                      assign: DataFrame, tenantCol: String = "tenant",
                      idCol: String = "vec_id"): Unit =
    TenantOverlay.register(spark, dir, assign, tenantCol, idCol,
      "AnnIndex.registerTenants", liveIndexedIds(spark, dir), None)

  /** Extend the overlay with assignments for newly-appended (or
    * previously untenanted) live vectors — O(batch) like [[append]]. */
  def assignTenants(spark: SparkSession, dir: String,
                    assign: DataFrame, tenantCol: String = "tenant",
                    idCol: String = "vec_id"): Unit =
    TenantOverlay.assign(spark, dir, assign, tenantCol, idCol,
      "AnnIndex.assignTenants", liveIndexedIds(spark, dir), None)

  /** End tenant membership for currently-assigned vectors — O(batch),
    * overlay-only; the vectors stay live in the index. */
  def unassignTenants(spark: SparkSession, dir: String,
                      ids: DataFrame, idCol: String = "vec_id"): Unit =
    TenantOverlay.unassign(spark, dir, ids, idCol,
      "AnnIndex.unassignTenants", None)

  /** Move currently-assigned vectors to a different tenant — ONE
    * O(batch) overlay mutation instead of a re-registration. */
  def reassignTenants(spark: SparkSession, dir: String,
                      assign: DataFrame, tenantCol: String = "tenant",
                      idCol: String = "vec_id"): Unit =
    TenantOverlay.reassign(spark, dir, assign, tenantCol, idCol,
      "AnnIndex.reassignTenants", None)

  /** The live id set of one registered tenant — what
    * [[probeTopKTenant]] restricts on, and the allowed frame a caller
    * composing with other serves (e.g. a dense-only hybrid) hands
    * [[probeTopKFiltered]]. */
  def tenantLiveIds(spark: SparkSession, dir: String,
                    tenant: String): DataFrame =
    TenantOverlay.liveIds(spark, dir, tenant)

  /** Registered-tenant dense serve — [[probeTopKFiltered]] with the
    * allowed set drawn from the STORED overlay ([[KeywordIndex
    * .probeTopKTenant]]'s shape on this family, closing the dense ×
    * tenant cell of the serve matrix): top-k among the tenant's live
    * vectors only, pre-filter semantics (the grant restricts the
    * candidate slice BEFORE the ADC fold, so out-of-tenant
    * candidates never cost a score). Below the cap
    * the grant rides the postings scan as sorted `nid IN (…)`
    * literals; above it the restriction stays a keyed semi-join
    * with the strategy left to Catalyst/AQE (a tenant's corpus
    * share is unbounded — the d5-pin argument against a forced
    * broadcast). An unknown tenant serves an empty page (its
    * overlay slice is empty); selective tenants raise `nprobe`,
    * [[probeTopKFiltered]]'s standard dial. */
  def probeTopKTenant(spark: SparkSession, dir: String,
                      queries: DataFrame, k: Int, tenant: String,
                      nprobe: Int = 12, m: Int = 4, dim: Int = 64,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id",
                      pushdownCap: Int = StoredIndex.HeldIdCap): DataFrame = {
    TenantOverlay.requireRegistered(spark, dir, "AnnIndex.probeTopKTenant",
      " (ad-hoc subsets: probeTopKFiltered)")
    Similarity.ivfPqProbe(
      readAsset(spark, dir, "centroids"),
      readAsset(spark, dir, "codebook"),
      tenantPostings(spark, dir, tenant, pushdownCap),
      queries, k, nprobe, m, dim, vecCol, idCol)
  }

  /** The registered-tenant serves' shared candidate slice: live
    * postings restricted to the tenant's grant — sorted `nid IN (…)`
    * literals riding the scan under the cap, an honest keyed
    * semi-join above it (strategy left to Catalyst/AQE — the
    * d5-pin argument). [[probeTopKTenant]] ranks over it;
    * [[probeRangeTenant]] threshold-filters it. */
  private def tenantPostings(spark: SparkSession, dir: String,
                             tenant: String,
                             pushdownCap: Int): DataFrame =
    grantedPostings(spark, dir,
      tenantLiveIds(spark, dir, tenant).select(col("id").as("nid")),
      pushdownCap, f => f)

  /** Threshold serve within a REGISTERED tenant — [[probeRange]]'s
    * semantics composed with the [[probeTopKTenant]] grant path,
    * closing the dense threshold × tenant cell ([[KeywordIndex
    * .probeRangeTenant]]'s shape on this family): every vector of
    * THIS tenant's live slice, within the probed buckets, whose ADC
    * score clears `threshold` — unranked, (qid, nid)-ordered,
    * join→score→filter with NO rank window (the quality-gate shape:
    * "all of this tenant's vectors within distance ε of the
    * query"). The grant restricts the candidate slice BEFORE the
    * ADC fold (pre-filter semantics — out-of-
    * tenant candidates never cost a score): `nid IN (…)` literals
    * under the cap, keyed semi-join above. ADC uses no corpus
    * statistics, so no gauge is involved; same approximation
    * contract as every IVF serve (candidates outside the nprobe
    * probed buckets are not seen — selective tenants raise
    * `nprobe`). An unknown tenant serves an empty page. */
  def probeRangeTenant(spark: SparkSession, dir: String,
                       queries: DataFrame, threshold: Double,
                       tenant: String, nprobe: Int = 12, m: Int = 4,
                       dim: Int = 64, vecCol: String = "embedding",
                       idCol: String = "vec_id",
                       pushdownCap: Int = StoredIndex.HeldIdCap): DataFrame = {
    TenantOverlay.requireRegistered(spark, dir, "AnnIndex.probeRangeTenant",
      " (ad-hoc subsets: probeRange over a caller-filtered postings view)")
    Similarity.ivfPqRange(
      readAsset(spark, dir, "centroids"),
      readAsset(spark, dir, "codebook"),
      tenantPostings(spark, dir, tenant, pushdownCap),
      queries, threshold, nprobe, m, dim, vecCol, idCol)
  }

  /** Batched registered-tenant dense serve — [[probeTopKTenant]] on
    * the batch dimension ([[KeywordIndex.probeManyTenant]]'s shape,
    * closing batch × tenant on the dense side): each (qid, tenant)
    * query's page is the exact IVFADC top-k within ITS tenant's
    * live vectors — ONE overlay slice over the named tenants
    * (`tenant IN (…)` riding the clustered files) expands to (qid,
    * nid) pairs that semi-join the candidate slice BEFORE the ADC
    * fold, keyed with the strategy left to Catalyst/AQE (the
    * combined tenant slice is unbounded — [[KeywordIndex
    * .probeManyTenant]]'s argument). `queries` carries qid + the
    * query vector; `tenants` names each qid's tenant (qids must be
    * distinct; tenants may repeat). A qid naming an unknown tenant
    * serves an empty page. */
  def probeManyTenant(spark: SparkSession, dir: String,
                      queries: DataFrame, tenants: Seq[(Long, String)],
                      k: Int, nprobe: Int = 12, m: Int = 4,
                      dim: Int = 64, vecCol: String = "embedding",
                      idCol: String = "vec_id",
                      excludeSelf: Boolean = true): DataFrame = {
    require(tenants.nonEmpty, "AnnIndex.probeManyTenant needs queries")
    require(tenants.map(_._1).distinct.size == tenants.size,
      "AnnIndex.probeManyTenant: qids must be distinct")
    TenantOverlay.requireRegistered(spark, dir, "AnnIndex.probeManyTenant",
      " (ad-hoc subsets: probeManyFiltered)")
    val pairs = TenantOverlay.livePairs(spark, dir, tenants)
      .select(col("qid"), col("id").as("nid"))
    Similarity.ivfPqProbe(
      readAsset(spark, dir, "centroids"),
      readAsset(spark, dir, "codebook"),
      livePostings(spark, dir), queries, k, nprobe, m, dim, vecCol,
      idCol, restrict = _.join(pairs, Seq("qid", "nid"), "left_semi"),
      excludeSelf = excludeSelf)
  }

  /** Read-back inventory of a stored index: (part, n_rows) per asset,
    * part-ordered — proves what the build durably wrote, and is
    * exactly reproducible from the source corpus in SQL (centroid
    * count = the capped stride sample; codebook = one row; postings
    * = one per corpus vector). */
  def summary(spark: SparkSession, dir: String): DataFrame = {
    val parts = Seq("centroids", "codebook", "postings")
    parts.map { p =>
      spark.range(1).select(lit(p).as("part"),
        lit(readAsset(spark, dir, p).count()).as("n_rows"))
    }.reduce(_ unionByName _).orderBy("part")
  }

  /** Operational health report of a stored ANN index — the numbers
    * an index-serving deployment watches, as one (metric, value)
    * frame:
    *
    *  - `n_centroids` / `n_codebook` / `n_postings`: asset sizes as
    *    durably written (postings INCLUDING tombstoned rows — the
    *    physical footprint a compact would rewrite);
    *  - `n_tombstoned` / `n_live`: the LSM split's two sides — how
    *    much retraction debt is pending vs what probes actually
    *    search;
    *  - `n_cids_live` / `max_bucket` / `p50_bucket` / `avg_bucket`:
    *    the live per-centroid posting histogram — probe latency is
    *    driven by the probed buckets' sizes, so a max_bucket pulling
    *    away from p50 is the serving hot-spot signal (one giant
    *    cluster absorbing the corpus) that says retrain centroids;
    *  - `bloom_present`: whether the O(batch) append fast path is
    *    armed (pre-bloom indexes fall back to the exact id check).
    *
    * Everything here is index-asset-sized or smaller — the corpus is
    * never read, and the whole report is one composed plan (no
    * driver-side counting beyond the bloom-asset existence probe).
    * Fresh-built indexes are DuckDB-oracle-able from the source
    * corpus (the x18 row re-derives the assignment histogram in
    * SQL); tombstone-bearing states are spec-gated (ExtSpec). */
  def health(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ops.roundDet
    val postings = readAsset(spark, dir, "postings")
    val deletes = StoredIndex.readDeleteIds(spark, dir)
    val live = StoredIndex.filterTombstones(deletes, postings, "nid")
    val perCid = live.groupBy("cid").agg(count(lit(1L)).as("n"))
    val bloomPresent =
      if (StoredIndex.readIdBloom(spark, dir).isDefined) 1d else 0d
    import StoredIndex.{litMetricRow, metricRow, tombstoneMetricRow}
    Seq(
      metricRow("avg_bucket", perCid, roundDet(avg(col("n")), 4)),
      litMetricRow(spark, "bloom_present", bloomPresent),
      metricRow("max_bucket", perCid, max(col("n"))),
      metricRow("n_cids_live", perCid, count(lit(1L))),
      metricRow("n_centroids",
        readAsset(spark, dir, "centroids"), count(lit(1L))),
      metricRow("n_codebook",
        readAsset(spark, dir, "codebook"), count(lit(1L))),
      metricRow("n_live", live, count(lit(1L))),
      metricRow("n_postings", postings, count(lit(1L))),
      tombstoneMetricRow(spark, dir),
      metricRow("p50_bucket", perCid,
        roundDet(percentile(col("n"), lit(0.5)), 4))
    ).reduce(_ unionByName _).orderBy("metric")
  }
}
