package graft.ext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  FileNotFoundException}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** The shared construction style of the stored-index families
  * ([[AnnIndex]] x9, [[DedupIndex]] d15, [[KeywordIndex]]):
  * path/meta/fingerprint/commit-marker mechanics and the append,
  * retract, compact, staged-swap and shard-union protocols live HERE
  * once; the families keep only their asset builders (IVFADC
  * postings, LSH bucket shards, BM25 postings) and hand the protocols
  * a [[Family]] descriptor.
  *
  * The contract the families share:
  *  - `meta/` (n_rows, max_id, fingerprint, version) is written LAST
  *    and deleted FIRST around any mutation — the commit marker. A
  *    crash mid-build/append/compact leaves a validation-failing
  *    index, never a half-built one.
  *  - the fingerprint is an order-insensitive XOR fold of per-row
  *    xxhash64(id, content), so append updates it in O(batch):
  *    fingerprint(old ∪ batch) = fingerprint(old) XOR
  *    fingerprint(batch).
  *  - [[readMeta]] distinguishes "missing" (rebuildable: the path or
  *    a readable-parquet meta is absent → None) from genuine read
  *    failures (corrupt footers, transient FS errors), which
  *    PROPAGATE — a serve path must not silently fall into a full
  *    rebuild because the filesystem hiccuped (VERDICT r7 #6).
  *  - `idbloom/` (one binary row) is a superset-of-indexed-ids bloom
  *    maintained at build/append, letting append's duplicate-id
  *    guard run in O(batch) for the common all-new batch: only
  *    might-contain ids ever touch the stored id lists (the d10
  *    bloom-gate pattern, VERDICT r7 #3).
  */
object StoredIndex {

  /** Index dir under `envRoot` (or the repo-local default — see
    * [[AnnIndex.dirFor]] for why target/, not /tmp): family prefix
    * keeps index families disjoint under a shared root. */
  def dirFor(defaultRoot: String, prefix: String, sfDir: String): String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_ROOT",
      new java.io.File(defaultRoot).getAbsolutePath) +
      "/" + prefix + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Identity row of a corpus: (n_rows, max_id, fingerprint) — one
    * scan, one 1-row aggregate, no shuffle of bodies. */
  def identityOf(df: DataFrame, id: Column, content: Column): DataFrame =
    df.select(id.as("__id"), content.as("__t"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("__id")).as("max_id"),
        expr("bit_xor(xxhash64(__id, __t))").as("fingerprint"))

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delete the commit marker — the FIRST step of every mutation. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    fsOf(spark, dir).delete(new Path(s"$dir/meta"), true)

  /** Start `f` on a driver thread and return its join handle — the
    * §2.6 overlap for a lifecycle's INDEPENDENT actions (e.g. a
    * build's commit-metadata aggregate riding beside its asset
    * writes): Spark schedules concurrent jobs FIFO, so the second
    * job's tasks back-fill executors the first job's tail frees.
    * The handle rethrows the original failure (unwrapped), and every
    * caller joins BEFORE its commit marker lands — a crash or error
    * anywhere leaves the same invalidated-index state as the former
    * sequential order. The task runs under the SUBMITTER's session
    * and local properties (job group, call site), captured here —
    * a reused pool thread would otherwise carry its creator's. */
  def async[T](f: => T): () => T = {
    val run = org.apache.spark.sql.graftshim.ThreadContextShim.captured(f)
    val task = new java.util.concurrent.FutureTask[T](() => run())
    overlapPool.execute(task)
    () => try task.get() catch {
      case e: java.util.concurrent.ExecutionException =>
        throw e.getCause
    }
  }

  /** The shared, bounded driver-overlap pool behind [[async]] /
    * [[inParallel]] (and the streaming folds that route here): the
    * guide (§2.6) wants 2-3 concurrent jobs in flight — the former
    * thread-per-call helpers could stack ~6-8 concurrent actions
    * from one coordinator mutation (each half spawning its own
    * overlapped folds) with no cap and a fresh thread per action.
    * Capped at 6 live threads; overflow runs on the SUBMITTING
    * thread (CallerRuns), so nested use degrades to the former
    * sequential order instead of deadlocking on an exhausted pool.
    * Threads are reused for up to 30 s, so [[async]] hands each task
    * its submitter's Spark context rather than the creator's. */
  private val overlapPool: java.util.concurrent.ThreadPoolExecutor = {
    val p = new java.util.concurrent.ThreadPoolExecutor(
      0, 6, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t
      },
      new java.util.concurrent.ThreadPoolExecutor.CallerRunsPolicy())
    p
  }

  /** Run independent mutation steps concurrently and join them all —
    * [[async]]'s void form for unordered asset writes between a
    * mutation's invalidate-first and meta-last markers. The first
    * failure rethrows after every step finishes, so no step is ever
    * abandoned mid-write by a sibling's error. */
  def inParallel(fns: (() => Unit)*): Unit = {
    val joins = fns.map(f => async(f()))
    val errs = joins.flatMap(j =>
      try { j(); None } catch { case e: Throwable => Some(e) })
    errs.headOption.foreach(throw _)
  }

  /** Meta head if the index is present: None iff the meta is MISSING
    * (no path, or no readable-parquet rows) — the rebuildable case.
    * Anything else a read can throw (corrupt footer mid-serve, a
    * transient FS error) propagates: silently treating it as
    * "missing" would trigger a full rebuild over an index that may
    * be perfectly healthy. Driver-side read (TinyParquetShim): the
    * meta is one row by construction, so the former per-call Spark
    * action (plan + schedule + collect) was pure overhead — absence
    * still maps to None, corrupt footers still propagate. */
  def readMeta(spark: SparkSession, dir: String): Option[Row] =
    org.apache.spark.sql.graftshim.TinyParquetShim
      .readRows(spark, s"$dir/meta").flatMap(_.headOption)

  /** [[readMeta]] of an index a mutation needs committed: loud
    * (IllegalStateException naming `what`) when the marker is
    * missing — a never-built dir, or a crash inside a mutation. */
  private[graft] def committedMeta(spark: SparkSession, dir: String,
                                   what: String): Row =
    readMeta(spark, dir).getOrElse(throw new IllegalStateException(
      s"$what: no committed meta at $dir — build it (or finish its " +
        "build) first"))

  /** Whether `dir` carries a commit marker — a path probe, no read:
    * the check the streaming ingests branch on (seed refusal, crash
    * recovery, keyword serving) without naming the marker's path. */
  def isCommitted(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new Path(s"$dir/meta"))

  /** Freshness check behind every `ensure`: version posture = one
    * 1-row meta read, zero corpus scans; content posture = the
    * fingerprint scan (`identityRow` is by-name so the version
    * posture never evaluates it). */
  def isFresh(spark: SparkSession, dir: String, version: Option[String],
              identityRow: => Row): Boolean =
    readMeta(spark, dir) match {
      case None => false
      case Some(m) => version match {
        case Some(v) =>
          // a legacy meta without the version column is stale by
          // definition under the versioned posture — rebuild, don't
          // throw (writeMergedMeta defends the same metas)
          m.schema.fieldNames.contains("version") &&
            m.getAs[String]("version") == v
        case None =>
          val i = identityRow
          (0 to 2).forall(k => m.get(k) == i.get(k))
      }
    }

  /** Driver-side write of an all-literal meta row — the append/
    * retract/fold markers are computed on the driver already, so no
    * Spark action is needed at all. Nullability mirrors the former
    * `lit(...)` construction: a field is optional iff its value is
    * null (Literal.nullable), keeping the written parquet schema
    * identical to the previous job-based write. */
  private def writeMetaRow(spark: SparkSession, dir: String,
                           nRows: Long, maxId: java.lang.Long,
                           fp: java.lang.Long, version: String): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("max_id", LongType, nullable = maxId == null),
      StructField("fingerprint", LongType, nullable = fp == null),
      StructField("version", StringType, nullable = version == null)))
    org.apache.spark.sql.graftshim.TinyParquetShim.overwriteDir(
      spark, schema, Seq(Row(nRows, maxId, fp, version)), s"$dir/meta")
  }

  /** Write the merged commit marker — the LAST step of append. The
    * XOR/max/sum algebra is what makes append O(batch): no corpus
    * scan recomputes the fingerprint. */
  private def writeMergedMeta(spark: SparkSession, dir: String, old: Row,
                              batch: Row): Unit = {
    // a fully-retracted index carries (n_rows=0, max_id=null,
    // fingerprint=0): appending into it must not NPE on the null
    // max — the batch's own max is the union max (and 0 XOR f = f)
    val maxId =
      if (old.isNullAt(1)) batch.getLong(1)
      else math.max(old.getLong(1), batch.getLong(1))
    val fp =
      if (old.isNullAt(2)) batch.getLong(2)
      else old.getLong(2) ^ batch.getLong(2)
    writeMetaRow(spark, dir, old.getLong(0) + batch.getLong(0),
      maxId, fp,
      if (old.size < 4 || old.isNullAt(3)) null else old.getString(3))
  }

  /** Zero-scan corpus version string from file METADATA only (names,
    * lengths, modification times — no data read): the version to
    * hand `ensure(version = Some(...))` when the corpus lives in
    * files you don't mutate in place. Detects a regenerated fixture
    * (new mtime/length) without paying the fingerprint scan — the
    * honest middle between content validation (one full scan) and a
    * caller-invented constant (blind to silent replacement).
    *
    * Stated caveat: the version sees METADATA only, so a same-length
    * regeneration landing within the filesystem's mtime granularity
    * (coarse on some FS: 1-2 s) produces an identical version and
    * the versioned ensure() would serve the stale index. Acceptable
    * for immutable corpus files written once and fingerprint-checked
    * on rebuild; corpora that are atomically REPLACED in place at
    * sub-granularity intervals should hand ensure() a catalog
    * snapshot id (or pay the content posture) instead. */
  def fileVersion(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory) {
        // recursive: partitioned corpora keep their data in nested
        // key=value dirs — a top-level listing would miss every file
        val it = fs.listFiles(p, true)
        val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) buf += it.next()
        buf.result()
      } else Seq(fs.getFileStatus(p))
    // keys are ROOT-RELATIVE paths (so nested partition files with
    // the same basename stay distinct, and relocating the whole
    // corpus dir does not spuriously change its version)
    val root = fs.makeQualified(p).toString
    val desc = files
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(f => (fs.makeQualified(f.getPath).toString
        .stripPrefix(root), f.getLen, f.getModificationTime))
      .sortBy(_._1)
      .map { case (n, len, mt) => s"$n:$len:$mt" }
      .mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    "files-" + md.digest(desc.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  // ----------------------------------------------------- id bloom

  /** Fixed bloom geometry so any two blooms of the same family merge
    * (mergeInPlace requires identical bit/hash counts). 2^25 bits =
    * 4 MiB — ~0.1% FPP at 4 M ids, and the guard stays correct (not
    * merely fast) at any load factor: positives fall through to the
    * exact check. */
  private val BloomItems = 4000000L
  private val BloomBits = 1L << 25

  private def bloomAggCol(id: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(new BloomFilterAggregate(
      new XxHash64(Seq(ColumnShim.expression(id))),
      Literal(BloomItems), Literal(BloomBits)).toAggregateExpression())
  }

  /** `might_contain(bloom, xxhash64(id))` as a Column — the same
    * hash the aggregate applied, so membership is consistent. Public
    * because streaming ingest gates its already-indexed anti-join on
    * it (negatives skip the stored-id read entirely). The filter
    * rides a BROADCAST ([[graft.functions.BroadcastBloomMightContain]]),
    * not a plan literal: the former bloom-sized `Literal(bytes)` was
    * re-serialized into every gated job's task binary and hex-
    * rendered into every plan description — a per-action constant
    * this path pays on every micro-batch. */
  def mightContain(bytes: Array[Byte], id: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.BroadcastBloomMightContain(
      bloomBroadcastOf(bytes),
      new XxHash64(Seq(ColumnShim.expression(id)))))
  }

  /** One broadcast per bloom-bytes identity, LRU-bounded — the
    * former broadcast-per-call leaked a ~4 MiB driver/blockmanager
    * entry per gated micro-batch on a long-running ingest (nothing
    * ever unpersisted them). The asset is immutable between merges,
    * so repeated gates over the same bytes share ONE broadcast;
    * a merge changes the bytes → new digest → new entry, and the
    * stale entry ages out of the LRU with an async unpersist.
    * Keyed per SparkContext (test suites restart sessions), digest
    * is MD5 — content-strong, because a collision here would serve
    * the WRONG filter and its false negatives would corrupt appends. */
  private val bloomBcCache = new java.util.LinkedHashMap[
      String, org.apache.spark.broadcast.Broadcast[BloomFilter]](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String,
          org.apache.spark.broadcast.Broadcast[BloomFilter]]): Boolean = {
      val evict = size() > 8
      if (evict) try e.getValue.unpersist(false) catch {
        case _: Throwable => () // owning context may be gone
      }
      evict
    }
  }

  private def bloomBroadcastOf(bytes: Array[Byte])
      : org.apache.spark.broadcast.Broadcast[BloomFilter] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val md = java.security.MessageDigest.getInstance("MD5")
    val key = sc.applicationId + ":" + sc.startTime + ":" +
      md.digest(bytes).map("%02x".format(_)).mkString
    bloomBcCache.synchronized {
      val hit = bloomBcCache.get(key)
      if (hit != null) hit
      else {
        val bc = sc.broadcast(
          BloomFilter.readFrom(new ByteArrayInputStream(bytes)))
        bloomBcCache.put(key, bc)
        bc
      }
    }
  }

  /** Serialized bloom of an `id`-column frame (null when empty). */
  private def bloomBytesOf(ids: DataFrame): Array[Byte] =
    ids.agg(bloomAggCol(col("id")).as("bf")).head.getAs[Array[Byte]](0)

  /** Identity row AND id bloom in ONE corpus pass: (n_rows, max_id,
    * fingerprint, bf). Build used to pay two full scans for its
    * commit metadata — one for [[identityOf]], one for the bloom
    * aggregate — plus the tokenize/encode pass the index itself
    * needs; the two metadata aggregates share a single scan here
    * (guide §1.2 step 1: fewer passes). */
  def identityAndBloomOf(df: DataFrame, id: Column, content: Column,
                         bloomId: Column): Row =
    df.select(id.as("__id"), content.as("__t"),
        bloomId.cast("long").as("__bid"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("__id")).as("max_id"),
        expr("bit_xor(xxhash64(__id, __t))").as("fingerprint"),
        bloomAggCol(col("__bid")).as("bf"))
      .head

  /** Write `idbloom` + `meta` from one [[identityAndBloomOf]] row —
    * the build-tail pair, same asset order (bloom BEFORE meta, the
    * commit marker last). */
  def writeBloomAndMeta(spark: SparkSession, dir: String, ib: Row,
                        version: Option[String]): Unit = {
    writeBloomBytes(spark, dir, ib.getAs[Array[Byte]]("bf"))
    writeMetaRow(spark, dir, ib.getLong(0),
      if (ib.isNullAt(1)) null else Long.box(ib.getLong(1)),
      if (ib.isNullAt(2)) null else Long.box(ib.getLong(2)),
      version.orNull)
  }

  /** Write the bloom asset (1 binary row; `bytes` may be null — the
    * provably-empty-corpus filter). The bytes are on the driver
    * already, so the write is driver-side (TinyParquetShim) — the
    * former 1-row write job also embedded the filter as a plan
    * literal, paying a bloom-sized task binary and a bloom-sized hex
    * render of the plan description per call. */
  private def writeBloomBytes(spark: SparkSession, dir: String,
                              bytes: Array[Byte]): Unit = {
    import org.apache.spark.sql.types._
    org.apache.spark.sql.graftshim.TinyParquetShim.overwriteDir(
      spark,
      StructType(Seq(
        StructField("bf", BinaryType, nullable = bytes == null))),
      Seq(Row(bytes)), s"$dir/idbloom")
  }

  /** The bloom asset with its three states kept distinct — the
    * no-false-negatives contract's load-bearing edge (see
    * [[writeIdBloomUnion]]): outer None = asset MISSING (a pre-bloom
    * index whose prior ids are unknown), Some(None) = present with a
    * null filter (a provably EMPTY prior corpus), Some(Some(b)) = a
    * live filter. */
  private def readIdBloomAsset(spark: SparkSession, dir: String)
      : Option[Option[Array[Byte]]] =
    org.apache.spark.sql.graftshim.TinyParquetShim
      .readRows(spark, s"$dir/idbloom")
      .flatMap(_.headOption)
      .map(r => Option(r.getAs[Array[Byte]]("bf")))

  /** Stored bloom bytes, if the asset exists (pre-bloom indexes and
    * empty-corpus builds return None → callers fall back to the
    * exact check). */
  def readIdBloom(spark: SparkSession, dir: String): Option[Array[Byte]] =
    readIdBloomAsset(spark, dir).flatten

  /** Write `dir`'s id bloom as the union of `blooms` (each a
    * [[readIdBloomAsset]] result: an index's asset, or a batch's
    * filter as `Some(Option(bytes))`) — the one bloom rule of append,
    * merge and absorb. The contract is NO FALSE NEGATIVES over
    * indexed ids, so a missing asset (a pre-bloom input whose ids are
    * UNKNOWN) differs from a null filter (a provably empty input):
    * when every input carries the asset the union covers every id
    * (null when all are empty); when any lacks it, the result must
    * not claim coverage it cannot vouch for — a bloom ruling those
    * ids "definitely new" would let a later duplicate append corrupt
    * the index silently — so the asset is omitted (or dropped) and
    * the guards fall back to the exact check. Driver-side
    * mergeInPlace of fixed-geometry filters: O(bloom bytes), no data
    * read. */
  private def writeIdBloomUnion(spark: SparkSession, dir: String,
                                blooms: Seq[Option[Option[Array[Byte]]]])
      : Unit =
    if (!blooms.forall(_.isDefined))
      fsOf(spark, dir).delete(new Path(s"$dir/idbloom"), true)
    else writeBloomBytes(spark, dir, blooms.flatMap(_.get) match {
      case Seq() => null
      case Seq(one) => one
      case live =>
        val bf = BloomFilter.readFrom(new ByteArrayInputStream(live.head))
        live.tail.foreach(b =>
          bf.mergeInPlace(BloomFilter.readFrom(new ByteArrayInputStream(b))))
        val out = new ByteArrayOutputStream()
        bf.writeTo(out)
        out.toByteArray
    })

  /** Append's duplicate-id guard, bloom-gated to O(batch) for the
    * common all-new batch: ids the stored bloom rules out never
    * touch `storedIds` (by-name — an all-negative batch SKIPS the
    * stored-id read entirely); might-contain ids (true overlaps +
    * the bloom's FPP) take the exact broadcast semi-join with an
    * existence-only `limit(1)`. Indexes without a bloom asset fall
    * back to the exact check over the full batch id set. */
  private def requireNewIds(spark: SparkSession, dir: String,
                            batchIds: DataFrame,
                            storedIds: => DataFrame, what: String): Unit = {
    val distinctIds = batchIds.select(col("id")).distinct()
    val suspects = readIdBloom(spark, dir) match {
      case Some(bytes) =>
        val s = distinctIds.filter(mightContain(bytes, col("id")))
          .localCheckpoint()
        if (s.isEmpty) None else Some(s)
      case None => Some(distinctIds) // pre-bloom index: exact check
    }
    suspects.foreach { ids =>
      val overlap = storedIds.select(col("id"))
        .join(broadcast(ids), "id").limit(1).count()
      require(overlap == 0L,
        s"$what: batch re-uses id(s) already indexed at $dir — route " +
          "the batch through an incremental dedup anti-join first, " +
          "or rebuild")
    }
  }

  // ------------------------------------------ declared asset schemas

  /** The footer schemas the families' builds write, by (family,
    * asset) — read back with [[readAsset]] so a serve plans its scans
    * without a schema-inference job per asset (one Spark job each:
    * three per dense probe before). Declared all-nullable: a file
    * source reads every column nullable, inferred or not, so the
    * plans are the ones inference gave. */
  private val AssetSchemas: Map[(String, String), StructType] = Map(
    ("AnnIndex", "centroids") -> "cid BIGINT, cvec ARRAY<DOUBLE>",
    ("AnnIndex", "codebook") ->
      "cb ARRAY<ARRAY<STRUCT<cid: BIGINT, cvec: ARRAY<DOUBLE>>>>",
    ("AnnIndex", "postings") -> "nid BIGINT, codes ARRAY<BIGINT>, cid BIGINT",
    ("KeywordIndex", "postings") ->
      "term STRING, id BIGINT, tf BIGINT, dl BIGINT",
    ("KeywordIndex", "doclens") -> "id BIGINT, dl BIGINT"
  ).map { case (k, ddl) => k -> StructType.fromDDL(ddl) }

  /** `dir/asset` of a `family` index, read with its declared schema. */
  private[graft] def readAsset(spark: SparkSession, family: String,
                               dir: String, asset: String): DataFrame =
    spark.read.schema(AssetSchemas((family, asset)))
      .parquet(s"$dir/$asset")

  // ----------------------------------------------------- tombstones

  /** A tombstone id set read ONCE per operation, in whichever form
    * is cheaper to apply: `litIds` carries the ids as driver values
    * when the asset is small (the overwhelmingly common case — a
    * retraction names few ids), so every downstream filter becomes a
    * literal NOT-IN predicate instead of a broadcast anti-join; above
    * the caps `litIds` is None and `frame` supplies the DataFrame
    * for the former join shape. The profile motivation (guide §1.2
    * step 1): every broadcast join costs a separate broadcast-build
    * sub-job (~150-440 ms of scheduling/plan overhead at control-
    * plane sizes), and the lifecycle/serve rows were paying dozens
    * of them per call for tombstone sets of 2-200 ids. */
  final case class Tombstones(litIds: Option[Seq[Long]],
                              frame: () => DataFrame)

  /** Bytes cap for reading an id asset driver-side (snappy parquet
    * of longs ≈ a few bytes/row, so this is ~10k ids of slack) and
    * the literal-count cap above which the predicate would stop
    * being worth inlining into plans. Above either, the DataFrame
    * join path applies — the 100 TB posture is unchanged. */
  private val TombstoneLitBytes = 256L * 1024
  private val TombstoneLitIds = 4096

  /** Tombstoned ids (`deletes/` asset), if any — [[AnnIndex.remove]]
    * / [[DedupIndex.remove]] append retraction ids here instead of
    * rewriting the searchable asset; probes filter them out and the
    * next compaction materializes the removal (the LSM split:
    * retraction is O(batch), the physical rewrite is amortized). */
  def readDeleteIds(spark: SparkSession, dir: String)
      : Option[Tombstones] = {
    // existence probe first: the common no-tombstones case used to
    // pay a DataSource resolution + thrown-and-caught analysis
    // exception (with a logged stack trace) on EVERY probe/health/
    // live-ids call — one FS metadata op instead
    readIdAsset(spark, s"$dir/deletes", "id")
  }

  /** Shared driver-literal-or-frame read of a long-id asset
    * (tombstones, takedown ledgers): None iff missing or holding only
    * `_`/`.` marker files. Flat `*.parquet` files under the caps read
    * driver-side as literals; any other layout (nested or partitioned
    * dirs, files without the suffix) falls back to the DataFrame read
    * — never to None, which would silently drop every tombstone or
    * ledgered id it holds. */
  def readIdAsset(spark: SparkSession, path: String,
                  idCol: String): Option[Tombstones] =
    assetFiles(spark, path).map { files =>
      val frame = () => spark.read.parquet(path).select(idCol)
      val lits =
        if (files.isEmpty || files.map(_.getLen).sum > TombstoneLitBytes) None
        else org.apache.spark.sql.graftshim.TinyParquetShim
          .readRows(spark, path)
          .filter(_.forall(r => !r.isNullAt(r.fieldIndex(idCol))))
          .map(_.map(_.getAs[Long](idCol)).sorted)
          .filter(_.size <= TombstoneLitIds)
      Tombstones(lits, frame)
    }

  /** The flat `*.parquet` data files of an id asset: None when the
    * asset is missing or holds only `_`/`.` markers; Some(Nil) when
    * it holds data in any other layout (the caller reads the frame). */
  private def assetFiles(spark: SparkSession, path: String)
      : Option[Seq[FileStatus]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val entries = fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    if (entries.isEmpty) None
    else if (entries.forall(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))) Some(entries)
    else Some(Nil)
  }

  /** A request's id set resolved ONCE into [[Tombstones]] form — the
    * held set a retraction hands down its layers, so no layer
    * re-derives it: sorted distinct driver literals when it holds at
    * most `cap` distinct ids (one bounded collect, none for a local
    * relation; a second, distinct one when more than `cap` rows name
    * them), otherwise the distinct frame, materialized once.
    * Null ids name no row and are dropped. `cap <= 0` forces the
    * frame form. */
  private[graft] def holdIds(ids: DataFrame, idCol: String,
                             cap: Int = HeldIdCap): Tombstones = {
    val keys = ids.select(col(idCol).cast("long").as("id"))
      .filter(col("id").isNotNull)
    // a request naming its ids more than `cap` times retries on
    // distinct ids
    idLiterals(keys, cap).orElse(idLiterals(keys.distinct(), cap)) match {
      case Some(r) => heldLiterals(ids.sparkSession, r)
      case None =>
        val frame = keys.distinct().localCheckpoint()
        Tombstones(None, () => frame)
    }
  }

  /** A one-column id frame as sorted driver literals when it has at
    * most `cap` rows — one bounded `limit(cap + 1)` collect (no job
    * for a local relation); None above the cap or for `cap <= 0`.
    * Sorted so the emitted plan (and its digest) is deterministic
    * under any upstream partitioning. The literal-or-frame split of
    * every id pushdown: held requests, tenant grants, allowed
    * subsets. */
  private[graft] def idLiterals(ids: DataFrame,
                                cap: Int): Option[Seq[Long]] =
    if (cap <= 0) None
    else Some(ids.limit(cap + 1).collect()).filter(_.length <= cap)
      .map(_.map(_.getLong(0)).sorted.toIndexedSeq)

  /** Driver ids as a held set: sorted, distinct, with a local
    * relation (column `id`) for the places that need a frame. */
  private[graft] def heldLiterals(spark: SparkSession,
                                  ids: Seq[Long]): Tombstones = {
    val lits = ids.distinct.sorted.toIndexedSeq
    Tombstones(Some(lits), () => spark.createDataFrame(
      java.util.Arrays.asList(lits.map(Row(_)): _*),
      StructType(Seq(StructField("id", LongType, nullable = false)))))
  }

  /** The one literal-id cap ([[idLiterals]]) — of a held request
    * ([[holdIds]]), a tenant grant and an allowed subset: below it
    * the ids become an `IN` predicate the parquet reader prunes row
    * groups with instead of a semi-join that still scans the asset. */
  private[graft] val HeldIdCap = 10000

  /** Append a held id set to an id asset (ledger or tombstones) as
    * column `idCol`: driver-side for literals (no write job), a Spark
    * append for the frame form. An empty set writes nothing. */
  private[graft] def appendHeldIds(spark: SparkSession, ids: Tombstones,
                                   idCol: String,
                                   dir: String): Unit = ids.litIds match {
    case Some(l) if l.isEmpty => ()
    case Some(l) =>
      org.apache.spark.sql.graftshim.TinyParquetShim.appendDir(spark,
        StructType(Seq(StructField(idCol, LongType))), l.map(Row(_)), dir)
    case None =>
      val f = ids.frame().toDF(idCol)
      if (!f.isEmpty) f.write.mode("append").parquet(dir)
  }

  /** The semi filter of a [[Tombstones]] set over `df` — the rows
    * whose `idCol` is in the set: a literal IN the parquet reader
    * prunes row groups with (it lands in PushedFilters), the
    * broadcast semi-join above the caps. */
  def semiIdFilter(ts: Tombstones, df: DataFrame,
                   idCol: String): DataFrame = ts.litIds match {
    case Some(ids) if ids.isEmpty => df.filter(lit(false))
    case Some(ids) => df.filter(col(idCol).isin(ids: _*))
    case None => df.join(
      broadcast(ts.frame().toDF(idCol)), Seq(idCol), "left_semi")
  }

  /** The anti filter of a [[Tombstones]] set over `df` — a literal
    * NOT-IN when the ids are driver-held (no broadcast-build job, no
    * join stage; the coalesce keeps a null `idCol` row exactly as
    * the anti-join did), the broadcast anti-join above the caps. An
    * empty literal set keeps every row, like an empty join side. */
  def antiIdFilter(ts: Tombstones, df: DataFrame,
                   idCol: String): DataFrame = ts.litIds match {
    case Some(ids) if ids.isEmpty => df
    case Some(ids) =>
      df.filter(!coalesce(col(idCol).isin(ids: _*), lit(false)))
    case None => df.join(
      broadcast(ts.frame().toDF(idCol)), Seq(idCol), "left_anti")
  }

  /** Driver-literal-or-frame read of an (id, tenant) PAIR asset (the
    * families' overlay tombstones): Left(pairs) for flat files under
    * the caps, Right(frame) above them or for any other layout, None
    * when absent or markers-only — [[readIdAsset]]'s two-column
    * sibling. */
  def readPairAsset(spark: SparkSession, path: String)
      : Option[Either[Seq[(Long, String)], DataFrame]] =
    assetFiles(spark, path).map { files =>
      val lits =
        if (files.isEmpty || files.map(_.getLen).sum > TombstoneLitBytes) None
        else org.apache.spark.sql.graftshim.TinyParquetShim
          .readRows(spark, path)
          .filter(_.forall(r => !r.isNullAt(r.fieldIndex("id")) &&
            !r.isNullAt(r.fieldIndex("tenant"))))
          .map(_.map(r =>
            (r.getAs[Long]("id"), r.getAs[String]("tenant"))).sorted)
          .filter(ps => ps.size <= TombstoneLitIds &&
            ps.map(_._2).distinct.size <= 64)
      lits match {
        case Some(ps) => Left(ps)
        case None => Right(spark.read.parquet(path).select("id", "tenant"))
      }
    }

  /** Anti filter of a literal (id, tenant) pair set — per-tenant
    * id-IN terms OR'd and negated, with the same null-row-keeping
    * coalesce as [[antiIdFilter]]: a row drops iff its exact pair is
    * tombstoned, matching the former pair anti-join bit for bit. */
  def antiPairFilter(pairs: Seq[(Long, String)],
                     df: DataFrame): DataFrame =
    if (pairs.isEmpty) df
    else {
      val hit = pairs.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (t, ps) =>
          col("tenant") === lit(t) &&
            coalesce(col("id").isin(ps.map(_._1).sorted: _*), lit(false))
        }.reduce(_ || _)
      df.filter(!coalesce(hit, lit(false)))
    }

  /** Apply the tombstone filter to a frame keyed by `idCol`: the
    * no-deletes case returns the frame UNTOUCHED (same plan, same
    * digest), the pending-deletes case anti-joins the broadcast
    * (retraction-sized) tombstone set. The one live-filter idiom
    * both families' probes/compacts/live-id views share. */
  def filterTombstones(spark: SparkSession, dir: String, df: DataFrame,
                       idCol: String): DataFrame =
    filterTombstones(readDeleteIds(spark, dir), df, idCol)

  /** [[filterTombstones]] over an already-read tombstone set —
    * call sites that needed [[readDeleteIds]] anyway (to branch on
    * pending deletions) pass it through instead of paying a second
    * listing + schema inference of the deletes asset. */
  def filterTombstones(deletes: Option[Tombstones], df: DataFrame,
                       idCol: String): DataFrame =
    deletes match {
      case None => df
      case Some(t) => antiIdFilter(t, df, idCol)
    }

  /** The shared retraction protocol — [[AnnIndex.remove]] and
    * [[DedupIndex.remove]] differ only in their live-id view and
    * identity columns, so the guards, the commit-marker ordering,
    * and the meta algebra live here once. `ids` is the retraction's
    * held id set ([[holdIds]]), so its size and distinctness are
    * known without a Spark action. `liveIds` is the family's live
    * indexed id set ("id" column), read in ONE keys-only pass for the
    * not-live guard AND the live-max recompute. `beforeMeta` runs
    * INSIDE the commit window (after the tombstone append, before
    * the meta write) — the hook a family with extra additive gauge
    * assets ([[KeywordIndex]]'s `stats/`) uses to fold the removal
    * into them without breaking the meta-written-last invariant. */
  private[graft] def removeIds(spark: SparkSession, dir: String,
                               ids: Tombstones, removedMeta: Row,
                               liveIds: DataFrame, what: String,
                               beforeMeta: () => Unit = () => ()): Unit = {
    val storedMeta = committedMeta(spark, dir, what)
    require(removedMeta.getLong(0) > 0L,
      s"$what: retraction batch is empty — nothing to remove at $dir")
    // the held set is distinct by construction: its size is the
    // batch's distinct id count (driver-known for literals)
    val nIds = ids.litIds.map(_.size.toLong).getOrElse(ids.frame().count())
    require(removedMeta.getLong(0) == nIds,
      s"$what: retraction batch must carry exactly one row per id " +
        "(duplicate ids would over-subtract the meta)")
    // ONE pass over the live id set answers both the all-live guard
    // (matched count vs the batch size — live ids are unique by
    // construction in every family, so matches never multiply) and
    // the post-retraction max_id (max over the unmatched rows): a
    // literal IN for driver-held ids, the broadcast-left join above
    // the cap
    val g = (ids.litIds match {
      case Some(l) =>
        val hit = col("id").isin(l: _*)
        liveIds.agg(count(when(hit, lit(1L))).as("n_matched"),
          max(when(!hit, col("id"))).as("live_max"))
      case None =>
        liveIds
          .join(broadcast(ids.frame().toDF("id")
            .select(col("id"), lit(1L).as("__d"))), Seq("id"), "left")
          .agg(count(col("__d")).as("n_matched"),
            max(when(col("__d").isNull, col("id"))).as("live_max"))
    }).head
    require(g.getLong(0) == nIds,
      s"$what: retraction batch names id(s) not live in the index " +
        s"at $dir — already retracted, or never indexed; XORing " +
        "them out would corrupt the fingerprint")
    invalidate(spark, dir) // commit marker
    appendHeldIds(spark, ids, "id", s"$dir/deletes")
    beforeMeta()
    writeRemovedMeta(spark, dir, storedMeta, removedMeta,
      if (g.isNullAt(1)) null else java.lang.Long.valueOf(g.getLong(1)))
  }

  /** The bloom-gated already-indexed row filter both streaming
    * ingests share: rows the stored id bloom rules out are
    * DEFINITELY new and skip `storedIds` entirely; might-contain
    * rows take the exact anti-join; pre-bloom indexes fall back to
    * the full anti-join. The might-contain slice is MATERIALIZED
    * (localCheckpoint) and the exact side unions in only when it is
    * non-empty — matching [[requireNewIds]]'s short-circuit — so the
    * common all-new batch genuinely never reads the stored id lists
    * (a lazily-referenced `storedIds` inside a union plan would
    * still scan them every micro-batch even when the bloom ruled
    * every row out). */
  def bloomGatedNewOnly(spark: SparkSession, dir: String,
                        df: DataFrame, idCol: String,
                        storedIds: => DataFrame): DataFrame =
    readIdBloom(spark, dir) match {
      case Some(bytes) =>
        val might = mightContain(bytes, col(idCol))
        val suspects = df.filter(might).localCheckpoint()
        if (suspects.isEmpty) df.filter(!might)
        else df.filter(!might).unionByName(
          suspects.join(storedIds, Seq(idCol), "left_anti"))
      case None => df.join(storedIds, Seq(idCol), "left_anti")
    }

  /** Drop the tombstone asset — part of every [[build]]'s
    * invalidate-first step: a rebuild derives a CLEAN live state
    * from its corpus, and a stale tombstone list from a previous
    * index generation would silently filter ids that are
    * legitimately live in the new one. */
  def clearDeleteIds(spark: SparkSession, dir: String): Unit =
    fsOf(spark, dir).delete(new Path(s"$dir/deletes"), true)

  /** Write the post-retraction commit marker. The XOR algebra works
    * in reverse — fingerprint(old \ removed) = fingerprint(old) XOR
    * fingerprint(removed) — so the fingerprint and row count update
    * in O(batch); max_id cannot be un-maxed algebraically, so the
    * caller recomputes it over the LIVE id set (keys-only, index-
    * sized, never the corpus) and passes it in. */
  private def writeRemovedMeta(spark: SparkSession, dir: String, old: Row,
                               removed: Row,
                               liveMaxId: java.lang.Long): Unit = {
    val n = old.getLong(0) - removed.getLong(0)
    // retracting EVERYTHING leaves the empty-corpus identity, whose
    // bit_xor aggregate is NULL — write null (not the XOR-cancelled
    // 0) so a content ensure over the empty live corpus still
    // validates fresh
    val fp: java.lang.Long =
      if (n == 0L) null else Long.box(old.getLong(2) ^ removed.getLong(2))
    writeMetaRow(spark, dir, n, liveMaxId, fp,
      if (old.size < 4 || old.isNullAt(3)) null else old.getString(3))
  }

  /** Parquet part-file count of a stored asset (flat dirs by
    * construction — build/append write unpartitioned) — the
    * accretion signal [[compactIfAccreted]] thresholds on. 0 when
    * the asset doesn't exist yet. */
  def partFileCount(spark: SparkSession, dir: String,
                    asset: String): Int = {
    val p = new Path(s"$dir/$asset")
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** One (metric, value) health row from an aggregate over `df` —
    * the building block both families' `health()` reports union.
    * Values are DOUBLE uniformly so counts and averaged/interpolated
    * gauges share one schema (counts at index scale are far inside
    * double's 2^53 exact-integer range). */
  def metricRow(name: String, df: DataFrame, v: Column): DataFrame =
    df.agg(v.cast("double").as("value"))
      .select(lit(name).as("metric"), col("value"))

  /** A driver-known constant as a (metric, value) row — asset
    * presence flags and the no-tombstones zero. */
  def litMetricRow(spark: SparkSession, name: String,
                   value: Double): DataFrame =
    spark.range(1).select(lit(name).as("metric"),
      lit(value).cast("double").as("value"))

  /** Tombstone-count health row shared by both families: the
    * retraction-sized deletes asset, 0 when none is pending — a
    * driver-known constant when the set was read as literals (one
    * fewer aggregate subtree in the health plan). */
  def tombstoneMetricRow(spark: SparkSession, dir: String): DataFrame =
    readDeleteIds(spark, dir) match {
      case Some(Tombstones(Some(ids), _)) =>
        litMetricRow(spark, "n_tombstoned", ids.size.toDouble)
      case Some(t) =>
        metricRow("n_tombstoned", t.frame(), count(lit(1L)))
      case None => litMetricRow(spark, "n_tombstoned", 0d)
    }

  /** Compact when the asset has accreted past `maxFiles` part files
    * — the self-maintenance form of [[compactAsset]] a long append
    * chain (streaming ingest) calls after each append: amortized
    * O(index / maxFiles) rewrites keep probe-side file counts
    * bounded without an external scheduler. Returns true when a
    * compaction ran. */
  def compactIfAccreted(spark: SparkSession, dir: String, asset: String,
                        maxFiles: Int,
                        rewrite: DataFrame => DataFrame): Boolean = {
    val accreted = partFileCount(spark, dir, asset) > maxFiles
    if (accreted) compactAsset(spark, dir, asset, rewrite)
    accreted
  }

  /** Replace asset dir `$dir/$asset` with `df`'s rows through a
    * stage-then-rename window ([[compactAsset]]'s swap shape on a
    * caller-provided frame): the rewrite lands WHOLE in
    * `${asset}_stage`, the live asset is deleted, the stage renames
    * in. A crash mid-stage leaves the live asset untouched and
    * serving; a crash between the delete and the rename leaves the
    * asset ABSENT — a fail-closed, loud next read — never the torn
    * plain-`overwrite` state (completed part files, no `_SUCCESS`)
    * that READS as a silently partial asset. The writer for any
    * control-plane asset whose partial content would change
    * SEMANTICS rather than fail validation (tenant overlays, overlay
    * tombstones — a half-written assignment set silently shrinks a
    * tenant's serve slice). */
  def stageSwapAsset(spark: SparkSession, dir: String, asset: String,
                     df: DataFrame): Unit = {
    val fs = fsOf(spark, dir)
    val stage = new Path(s"$dir/${asset}_stage")
    fs.delete(stage, true)
    df.write.mode("overwrite").parquet(stage.toString)
    val live = new Path(s"$dir/$asset")
    fs.delete(live, true)
    require(fs.rename(stage, live),
      s"stageSwapAsset: rename $stage -> $live failed")
  }

  /** Crash-safe in-place asset rewrite — the shared spine of the
    * families' `compact`: the remedy for small-file accretion under
    * long append chains. `rewrite` produces the clustered form
    * (content-identical by the caller's contract), staged into
    * `<asset>_compact`; only after it is fully written do the
    * renames run, so the unreadable window is two metadata ops, not
    * the rewrite. Meta is deleted BEFORE the swap and restored
    * verbatim after (content is unchanged, so the fingerprint still
    * holds): a crash mid-compaction leaves a validation-failing
    * index — the next ensure() rebuilds — never a valid meta over a
    * half-swapped asset dir.
    *
    * `liveIdsOf`, when set, maps the STAGED compacted asset to its
    * live id column ("id") and the id bloom is re-derived from it
    * inside the same commit window — the free refresh a compaction
    * that materializes deletions should take: without it, retracted
    * ids accrete in the superset bloom forever (correct — positives
    * fall through to the exact check — but FPP drifts monotonically
    * up across a retract-heavy lifecycle, eroding the O(batch)
    * guard). The rewrite streams every live id past the writer
    * anyway, so the refresh costs one scan of the already-compacted
    * (small) asset, never the corpus. */
  def compactAsset(spark: SparkSession, dir: String, asset: String,
                   rewrite: DataFrame => DataFrame,
                   dropAssets: Seq[String] = Nil,
                   liveIdsOf: Option[DataFrame => DataFrame] = None)
      : Unit = {
    val fs = fsOf(spark, dir)
    // meta is 1 row: hold it on the driver across the swap instead
    // of localCheckpoint-ing a frame (one job) and re-writing it
    // through another (TinyParquetShim on both sides)
    val meta = committedMeta(spark, dir, "compact")
    val staged = new Path(s"$dir/${asset}_compact")
    rewrite(spark.read.parquet(s"$dir/$asset"))
      .write.mode("overwrite").parquet(staged.toString)
    // derive the refreshed bloom from the STAGED asset — exactly the
    // live ids the swapped-in asset will hold (computed before the
    // commit window opens; written inside it)
    val freshBloom = liveIdsOf.map(ids =>
      bloomBytesOf(ids(spark.read.parquet(staged.toString))))
    val live = new Path(s"$dir/$asset")
    fs.delete(new Path(s"$dir/meta"), true) // invalidate first
    fs.delete(live, true)
    require(fs.rename(staged, live),
      s"compact: rename $staged -> $live failed")
    // assets the rewrite has absorbed (e.g. the tombstone list once
    // deletions are materialized) go away INSIDE the commit-marker
    // window: a crash anywhere here still leaves a validation-
    // failing index, never a half-applied state
    dropAssets.foreach(a => fs.delete(new Path(s"$dir/$a"), true))
    freshBloom.foreach(b => writeBloomBytes(spark, dir, b))
    org.apache.spark.sql.graftshim.TinyParquetShim.overwriteDir(
      spark, meta.schema, Seq(meta), s"$dir/meta")
  }

  // -------------------------------------------- staged rebuild/swap

  /** Staging dir of a serve-while-rebuilding retrain: a COMPLETE
    * independent index — its own meta commit marker written last —
    * is built here by the family's `rebuildStaged`, then
    * [[swapStaged]] moves it over the live index in a RENAME-sized
    * window. Contrast `build` in place: that invalidates the live
    * commit marker before its first expensive pass, so the index is
    * unserveable for the whole build — hours at 100 TB. With the
    * staged split, probes validate and serve the OLD index for the
    * entire staged build (the scaladoc posture "serve from the old
    * index until the new one's meta lands", now actually true of a
    * single dir). Dot-prefixed inside the index dir: every reader
    * opens named asset subdirs, nothing lists the root. */
  def stagingDirOf(dir: String): String = s"$dir/.staging"

  /** Delete any staging residue of a crashed previous staged rebuild
    * — the live index was untouched by it (a staged build never
    * opens the live commit window), so residue is garbage, not
    * state — and return the staging dir for the fresh build. */
  def freshStaging(spark: SparkSession, dir: String): String = {
    val st = stagingDirOf(dir)
    fsOf(spark, dir).delete(new Path(st), true)
    st
  }

  /** Swap a COMPLETE staged index over the live one. Refuses a
    * meta-less staging dir (an unfinished staged build must never
    * replace a serving index). The swap window is the only
    * unserveable span and it is all renames/deletes:
    * live meta out FIRST (commit marker — same invariant as every
    * other mutation here), stale tombstones out (the staged build is
    * a clean rebuild; a previous generation's delete list would
    * filter legitimately-live ids), each asset delete+rename, staged
    * meta renamed in LAST. A crash anywhere inside leaves a
    * validation-failing index — ensure() rebuilds, never serves a
    * half-swapped mix of generations. */
  def swapStaged(spark: SparkSession, dir: String,
                 assets: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    val staging = stagingDirOf(dir)
    require(isCommitted(spark, staging),
      s"swapStaged: no complete staged build at $staging — " +
        "meta commit marker missing")
    invalidate(spark, dir) // swap window opens
    clearDeleteIds(spark, dir)
    (assets :+ "idbloom").foreach { a =>
      val live = new Path(s"$dir/$a")
      val st = new Path(s"$staging/$a")
      fs.delete(live, true)
      if (fs.exists(st)) require(fs.rename(st, live),
        s"swapStaged: rename $st -> $live failed")
    }
    require(fs.rename(new Path(s"$staging/meta"), new Path(s"$dir/meta")),
      s"swapStaged: staged meta rename into $dir failed")
    fs.delete(new Path(staging), true)
  }

  // ------------------------------------- shard union and append

  /** What a family hands the shared commit protocol of [[appendBatch]],
    * [[mergeShards]] and [[absorbShard]]:
    *  - `name`: the message prefix (`<name>.merge`, …);
    *  - `rawIds`: an index dir's RAW indexed ids as column `id` —
    *    tombstoned ids included (see [[mergeShards]] for why raw);
    *  - `assets`: the id-keyed assets a union copies file by file
    *    (`deletes/` and the [[TenantOverlay]] always ride along);
    *  - `allOrNone`: assets a union keeps only when EVERY input
    *    carries them, and otherwise omits (merge) or drops (absorb) —
    *    a partial asset would serve pages silently missing some
    *    inputs' docs, so fail closed (the keyword family's
    *    `positions/`);
    *  - `preCheck`: a refusal over the input dirs, run after their
    *    metas are read and before the id guard (the dense family's
    *    shared-quantization-assets check);
    *  - `fold`: reads what the family's additive gauges need from the
    *    inputs BEFORE the commit marker drops, and returns the write
    *    that lands inside the window (out dir, input dirs). */
  private[ext] final case class Family(
      name: String,
      rawIds: (SparkSession, String) => DataFrame,
      assets: Seq[String],
      allOrNone: Seq[String] = Nil,
      preCheck: (SparkSession, Seq[String], String) => Unit =
        (_, _, _) => (),
      fold: (SparkSession, String, Seq[String]) => () => Unit =
        (_, _, _) => () => ())

  /** Append a batch of NEW rows — the O(batch) tail every family's
    * `append` shares: no corpus scan, because the fingerprint is an
    * XOR fold (fingerprint(old ∪ batch) = fingerprint(old) XOR
    * fingerprint(batch)), so a content ensure() over the union still
    * validates fresh. Batch ids must be new: a re-appended id would
    * double its asset rows AND cancel its fingerprint term.
    * `checkIds` runs the bloom-gated guard ([[requireNewIds]]) beside
    * the batch's identity + bloom pass (one batch scan, async);
    * callers whose batches already passed an incremental-dedup
    * anti-join disable it. `stage` derives the family's batch-sized
    * assets BEFORE the marker and returns their writes. An empty
    * batch, or ids that null the long cast, refuses before the
    * marker drops; a crash inside the window leaves a
    * validation-failing index, never half a batch. */
  private[ext] def appendBatch(f: Family, batch: DataFrame, dir: String,
                               id: Column, content: Column,
                               idCol: String, checkIds: Boolean)(
      stage: => () => Unit): Unit = {
    val spark = batch.sparkSession
    val what = s"${f.name}.append"
    val old = committedMeta(spark, dir, what)
    val bidF = async(identityAndBloomOf(batch, id, content, col(idCol)))
    if (checkIds)
      requireNewIds(spark, dir, batch.select(col(idCol).cast("long")
        .as("id")), f.rawIds(spark, dir), what)
    val write = stage
    val bid = bidF()
    require(bid.getLong(0) > 0L && !bid.isNullAt(1) && !bid.isNullAt(2),
      s"$what: batch is empty or has non-integral ids")
    invalidate(spark, dir) // commit marker
    write()
    writeIdBloomUnion(spark, dir, Seq(readIdBloomAsset(spark, dir),
      Some(Option(bid.getAs[Array[Byte]]("bf")))))
    writeMergedMeta(spark, dir, old, bid)
  }

  /** Merge independently built shard indexes into a fresh `outDir` —
    * how an index gets BUILT at scale: slice the corpus, build every
    * slice as its own job (no cross-shard shuffle), then union in
    * O(assets): the family's asset FILES copy (no decode, no
    * shuffle, no parquet rewrite), pending tombstones and tenant
    * overlays copy, id blooms union ([[writeIdBloomUnion]]) and metas
    * fold by the append algebra ([[writeFoldedMeta]]) — so a content
    * ensure() over the union corpus validates without rebuilding.
    *
    * Shards must not share RAW ids — raw, not live: a tombstoned id
    * in one shard would otherwise filter the same id LIVE in another
    * through the unioned `deletes/`. The guard (`checkIds`) is one
    * keys-only distinct-count pass over the shards' id lists; slices
    * disjoint by construction can skip it. `outDir` must be
    * path-disjoint from every shard ([[requireDisjointDirs]]): the
    * merge wipes it. Crash posture: every read and guard runs before
    * the commit marker drops; the marker goes before the wipe and
    * the first copy, so a crash anywhere after leaves a
    * validation-failing dir (the next ensure() rebuilds), never a
    * half-union. */
  private[ext] def mergeShards(spark: SparkSession, f: Family,
                               shardDirs: Seq[String], outDir: String,
                               checkIds: Boolean,
                               version: Option[String]): Unit = {
    val what = s"${f.name}.merge"
    require(shardDirs.nonEmpty, s"$what: no shards")
    requireDisjointDirs(spark, outDir, shardDirs, what)
    val metas = shardDirs.map(committedMeta(spark, _, what))
    f.preCheck(spark, shardDirs, what)
    if (checkIds && shardDirs.size > 1) {
      val dup = shardDirs.map(f.rawIds(spark, _).distinct())
        .reduce(_ unionByName _)
        .groupBy("id").count().filter(col("count") > 1)
        .limit(1).count()
      require(dup == 0L,
        s"$what: shards share raw id(s) — slices must be disjoint " +
          "(tombstoned ids included: a tombstone in one shard would " +
          "filter the same id live in another)")
    }
    unionInto(spark, f, outDir, shardDirs,
      shardDirs.zipWithIndex.map { case (d, i) => (d, s"s${i}_") },
      metas, version)
  }

  /** Ingest a built shard index INTO a committed index in place — the
    * O(shard) tail of continuous bulk loading ([[mergeShards]] is the
    * O(total) one-shot): the shard's files copy in, the target's are
    * never read or rewritten. [[mergeShards]]' raw-id rule and crash
    * posture, with the disjointness guard bloom-gated to O(shard)
    * ([[requireNewIds]]). The target's version is cleared (absorbed
    * content invalidates a pinned corpus version). A shard that is
    * the target under any spelling of its path refuses. The shard
    * dir stays servable; delete it after a successful absorb. */
  private[ext] def absorbShard(spark: SparkSession, f: Family,
                               shardDir: String, dir: String,
                               checkIds: Boolean): Unit = {
    val what = s"${f.name}.absorb"
    requireDisjointDirs(spark, dir, Seq(shardDir), what)
    val metas = Seq(dir, shardDir).map(committedMeta(spark, _, what))
    f.preCheck(spark, Seq(dir, shardDir), what)
    if (checkIds)
      requireNewIds(spark, dir, f.rawIds(spark, shardDir),
        f.rawIds(spark, dir), what)
    unionInto(spark, f, dir, Seq(dir, shardDir), Seq((shardDir, "ab_")),
      metas, None)
  }

  /** The union's commit window: `out` becomes the union of `inputs`
    * (a merge's fresh dir is not among them and is wiped after the
    * marker drops), taking the files of `copies` under their name
    * prefixes. */
  private def unionInto(spark: SparkSession, f: Family, out: String,
                        inputs: Seq[String], copies: Seq[(String, String)],
                        metas: Seq[Row], version: Option[String]): Unit = {
    val fs = fsOf(spark, out)
    val kept = f.allOrNone.filter(a =>
      inputs.forall(d => fsOf(spark, d).exists(new Path(s"$d/$a"))))
    val foldWrite = f.fold(spark, out, inputs)
    val blooms = inputs.map(readIdBloomAsset(spark, _))
    invalidate(spark, out) // commit marker
    if (!inputs.contains(out)) fs.delete(new Path(out), true)
    copies.foreach { case (d, prefix) =>
      (f.assets ++ kept :+ "deletes").foreach(a =>
        copyAssetFiles(spark, s"$d/$a", s"$out/$a", prefix))
      TenantOverlay.copy(spark, d, out, prefix)
    }
    f.allOrNone.diff(kept).foreach(a => fs.delete(new Path(s"$out/$a"), true))
    foldWrite()
    writeIdBloomUnion(spark, out, blooms)
    writeFoldedMeta(spark, out, metas, version)
  }

  /** Reject an `outDir` that equals, contains, or is contained in
    * any shard dir — a merge deletes outDir recursively before the
    * file copies, and an absorb into itself would copy the index's
    * files into itself and fold its meta twice, so ANY path overlap
    * (not just equality) refuses. Qualified-path compare, so
    * relative/absolute/scheme-prefixed/trailing-slash spellings of the same
    * location agree; the trailing-slash guard keeps `/a/b` from
    * matching `/a/bc` as a prefix. */
  private def requireDisjointDirs(spark: SparkSession, outDir: String,
                                  shardDirs: Seq[String],
                                  what: String): Unit = {
    def qualified(p: String): String =
      fsOf(spark, p).makeQualified(new Path(p)).toString
        .stripSuffix("/") + "/"
    val out = qualified(outDir)
    shardDirs.foreach { d =>
      val s = qualified(d)
      require(!out.startsWith(s) && !s.startsWith(out),
        s"$what: $outDir overlaps shard dir $d — the paths must be " +
          "disjoint (no nesting in either direction)")
    }
  }

  /** Copy the data files of asset dir `fromDir` into `toDir` under a
    * caller-unique name prefix — the file-level union a shard merge
    * performs instead of a decode/re-encode: O(files) copies, no
    * shuffle, no parquet rewrite, and the source shard stays
    * servable (a deployment that can discard its shards should
    * rename instead — a pure metadata op on HDFS). Returns false
    * when the asset is absent (e.g. a shard with no tombstones). */
  def copyAssetFiles(spark: SparkSession, fromDir: String,
                     toDir: String, prefix: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(fromDir)
    val srcFs = from.getFileSystem(conf)
    if (!srcFs.exists(from)) return false
    val to = new Path(toDir)
    val dstFs = to.getFileSystem(conf)
    dstFs.mkdirs(to)
    srcFs.listStatus(from).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(srcFs, st.getPath, dstFs,
        new Path(to, prefix + st.getPath.getName), false, conf)
    }
    true
  }

  /** Fold input meta rows with [[writeMergedMeta]]'s append algebra
    * (sum n_rows, null-safe max id, XOR fingerprint — XOR's
    * associativity/commutativity is why input order cannot matter)
    * and write the result as `dir`'s commit marker. Each input meta
    * already un-mixes its own pending retractions, so the fold
    * equals what a one-shot build over the union LIVE corpus
    * writes. */
  private def writeFoldedMeta(spark: SparkSession, dir: String,
                              metas: Seq[Row],
                              version: Option[String]): Unit = {
    val maxes = metas.filter(!_.isNullAt(1)).map(_.getLong(1))
    val fps = metas.filter(!_.isNullAt(2)).map(_.getLong(2))
    writeMetaRow(spark, dir, metas.map(_.getLong(0)).sum,
      maxes.reduceOption((a, b) => math.max(a, b)).map(Long.box).orNull,
      fps.reduceOption(_ ^ _).map(Long.box).orNull, version.orNull)
  }
}
