package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.StoredIndex
import graft.ext.StoredIndex.Tombstones

/** The JOINT training-corpus ingest: one coordinator maintaining BOTH
  * serving families over the same document ids — the near-dup-gated
  * text corpus + stored dedup index ([[StreamingDedupIngest]]) and
  * the ANN index + durable vector store ([[StreamingAnnIngest]]) —
  * with the cross-family invariant a training pipeline actually
  * needs: **the vectors you can search are exactly the documents you
  * may train on.**
  *
  * Why a coordinator instead of two independent ingests: the dedup
  * gate DECIDES (accept vs quarantine vs takedown), and the vector
  * side must FOLLOW — a quarantined near-dup's embedding must never
  * be searchable, a takedown must reach both families, a readmit
  * must restore both. Feeding the two ingests the same drops
  * independently would index quarantined docs' vectors; this class
  * routes vectors strictly downstream of the text gate's verdict.
  *
  * Vector admission is PULL, not push — two paths, one invariant:
  *
  *  - [[syncVectors]], the O(delta) fast path: after each text
  *    ingest, the accepted-corpus delta since the durable sync mark
  *    (partition-pruned batch dirs — [[StreamingDedupIngest
  *    .corpusDelta]]) names the newly accepted ids; their embeddings
  *    are fetched from the caller-supplied relation (the pipeline's
  *    embedding store — joined keys-first, so at 100 TB the probe is
  *    a broadcast semi-join of delta ids, never an embeddings scan
  *    for the corpus' sake) and staged through the ANN ingest's own
  *    gated stream. Per-sync cost is batch-sized: the corpus is
  *    never re-listed beyond the mark.
  *  - [[repairAlignment]], the O(keys) slow path: a full keys-only
  *    reconciliation (corpus ids vs vector-store ids vs the two
  *    takedown ledgers) that converges the vector side from ANY
  *    drift — a crash between the halves of a joint [[retract]], a
  *    [[readmit]] (which re-enters the document's ORIGINAL batch
  *    partition, below the sync mark, so the delta path can never
  *    see it), a missed sync. Ids-only columns are read; text and
  *    embeddings bodies only for the rows actually repaired.
  *
  * Crash-ordering: every public mutation is a sequence of the two
  * families' own crash-safe idempotent steps, ordered so a crash at
  * any point leaves a state that (a) never serves retracted content,
  * and (b) [[repairAlignment]] converges back to aligned. The
  * compliance direction always runs text-first ([[retract]]: the
  * text IS the sensitive content; a window where the vector is still
  * searchable but its text is purged cannot leak text — ANN probe
  * output is ids and scores), the admission direction vector-last
  * (vectors only ever index ids the text gate already accepted).
  * [[alignment]] is the audit that says whether a repair is needed.
  */
/** @param admit optional admission predicate forwarded to the text
  *   gate ([[StreamingDedupIngest]]'s `admit`): quality/policy rejects
  *   quarantine beside the near-dups, and — because vector admission
  *   is strictly downstream of the text verdict — their embeddings
  *   are never indexed either, with no extra coordination.
  * @param keywordServing opt-in third family: co-maintain a stored
  *   [[graft.ext.KeywordIndex]] over the accepted corpus, so lexical
  *   (BM25) serving obeys the same invariant as the vectors — **the
  *   documents you can search are exactly the documents you may
  *   train on**. Unlike the vector half it needs no external
  *   relation and no second store: postings derive from the corpus
  *   text itself, so admission is an O(delta) append of the accepted
  *   rows ([[syncKeywords]]), a joint [[retract]] un-mixes it with
  *   rows fetched BEFORE the text purge (text-first ordering
  *   preserved: the fetch is driver-internal, nothing sensitive is
  *   served in the window), and [[repairKeywords]] converges it from
  *   ANY drift with the corpus as ground truth — including the
  *   crash-between-halves window, where the purged text makes the
  *   XOR un-mix impossible and a staged rebuild over the surviving
  *   corpus is the correct (and crash-safe) remedy. */
final class StreamingCorpusIngest(spark: SparkSession, root: String,
                                  threshold: Double = 0.4,
                                  admit: Option[org.apache.spark.sql
                                    .Column] = None,
                                  keywordServing: Boolean = false) {

  /** The text half: near-dup gate, accepted corpus, quarantine,
    * stored dedup index. Public — every single-family read
    * (corpus/asOf/delta/health/probe) is reached through it. */
  val text = new StreamingDedupIngest(spark, s"$root/dedup_index",
    s"$root/corpus", s"$root/quarantine", threshold, admit = admit)

  /** The vector half, always in the store posture (the coordinator's
    * repair and takedown contracts need the durable vector store). */
  val vectors = new StreamingAnnIngest(spark, s"$root/ann_index",
    storeDir = Some(s"$root/vectors"))

  /** The lexical third (when [[keywordServing]]): a stored
    * [[graft.ext.KeywordIndex]] over the accepted corpus, probed via
    * [[probeKeywords]]. No separate store — the text corpus IS its
    * durable source of truth. */
  val keywordDir = s"$root/keyword_index"

  private val annStaging = s"$root/ann_staging"
  private val annCkpt = s"$root/ann_ckpt"
  private val syncMarkDir = s"$root/vectors_syncmark"
  private val kwMarkDir = s"$root/keyword_syncmark"

  private def fs =
    new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Run independent per-family mutations concurrently from driver
    * threads (guide §2.6: actions are only sequential because the
    * driver calls them sequentially) — the coordinator's families
    * live in disjoint stores, so e.g. the vector sync and the
    * keyword sync of one admission cut can overlap instead of
    * serializing their small jobs. Exceptions propagate — the first
    * failure rethrows after all threads finish, so the crash window
    * a caller observes is the union of the halves' own crash-safe
    * (idempotent, re-run-converged) windows, exactly as sequential
    * execution: neither half ever depended on the other having run.
    * Runs on [[graft.ext.StoredIndex]]'s shared bounded pool, so one
    * coordinator mutation whose halves spawn their own overlapped
    * folds cannot stack unbounded concurrent actions. */
  private def inParallel(fns: (() => Unit)*): Unit =
    graft.ext.StoredIndex.inParallel(fns: _*)

  /** Bootstrap a virgin joint ingest: seed the text side (batch -1),
    * then admit the seed's vectors through the normal sync path —
    * the seeded index state is exactly what the streamed path would
    * have produced. */
  def seed(docs: DataFrame, embeddings: DataFrame): Unit = {
    text.seed(docs)
    // the two admission halves read the same text cut and write
    // disjoint stores — overlap them (guide §2.6)
    if (keywordServing)
      inParallel(() => syncVectors(embeddings), () => syncKeywords())
    else syncVectors(embeddings)
  }

  /** Ingest everything staged through the text gate, then admit the
    * newly accepted documents' vectors. One call = both families
    * caught up to the same cut. */
  def ingestAvailable(stagingDir: String, checkpointDir: String,
                      embeddings: DataFrame): Unit = {
    text.ingestAvailable(stagingDir, checkpointDir)
    // disjoint stores, same text cut — overlap (guide §2.6)
    if (keywordServing)
      inParallel(() => syncVectors(embeddings), () => syncKeywords())
    else syncVectors(embeddings)
  }

  /** Admit vectors for every document accepted since the last sync —
    * the O(delta) fast path. `embeddings` is the pipeline's
    * embedding relation, `(doc_id, embedding)`; only delta ids are
    * fetched from it. Every accepted document MUST have an embedding
    * row — a missing one fails loudly (silently skipping would park
    * the corpus permanently misaligned). Crash-safe: the mark
    * advances only after the ANN ingest committed; a replayed sync
    * re-stages the same delta and the ANN ingest's bloom-gated
    * already-indexed filter drops it. */
  def syncVectors(embeddings: DataFrame): Unit = {
    val corpusPath = new org.apache.hadoop.fs.Path(s"$root/corpus")
    if (!fs.exists(corpusPath)) return // virgin: nothing accepted yet
    val from = readMark()
    val to = text.maxLandedBatch()
    if (to <= from) return
    val delta = text.corpusDelta(from, to).select("doc_id")
      .localCheckpoint()
    if (!delta.isEmpty) stageAndIngest(delta, embeddings,
      s"sync_${from}_$to")
    writeMark(to)
  }

  /** Fetch `ids`' embeddings (loud on absences), stage them as one
    * uniquely-named drop, run the ANN ingest over the staging dir.
    * Re-delivery-safe at every layer: an already-staged name is
    * reused as-is (same deterministic content), already-indexed rows
    * are dropped by the ANN gate, ledgered ids by the sticky
    * takedown filter. */
  private def stageAndIngest(ids: DataFrame, embeddings: DataFrame,
                             name: String): Unit = {
    val missing = ids.join(embeddings, Seq("doc_id"), "left_anti")
    require(missing.limit(1).isEmpty,
      "syncVectors: accepted document(s) with no embedding row — " +
        "every accepted doc_id must appear in the embeddings " +
        "relation (first absent: " +
        s"${missing.limit(1).collect().headOption.map(_.get(0))})")
    val staged = new org.apache.hadoop.fs.Path(
      s"$annStaging/$name.parquet")
    if (!fs.exists(staged))
      StreamingDedupIngest.stage(
        embeddings.join(ids, Seq("doc_id"), "left_semi")
          .select(col("doc_id").as("vec_id"), col("embedding")),
        annStaging, name)
    vectors.ingestAvailable(annStaging, annCkpt)
  }

  /** Admit the accepted-corpus delta into the keyword index — the
    * lexical twin of [[syncVectors]], minus the external relation:
    * the delta rows already CARRY the text postings derive from, so
    * admission is one batch tokenize + O(batch) append. Crash-safe
    * like the vector sync: the mark advances only after the append
    * committed, a replayed sync is dropped by the bloom-gated
    * already-indexed filter, and a crash INSIDE an append (assets
    * without their commit marker) self-heals by rebuild from the
    * corpus — the coordinator always has the durable text store the
    * standalone index-only posture lacks. */
  def syncKeywords(): Unit = {
    requireKeywordServing("syncKeywords")
    import graft.ext.{KeywordIndex, StoredIndex}
    val corpusPath = new org.apache.hadoop.fs.Path(s"$root/corpus")
    if (!fs.exists(corpusPath)) return // virgin: nothing accepted yet
    val to = text.maxLandedBatch()
    if (!StoredIndex.isCommitted(spark, keywordDir)) {
      // virgin index — or a crash mid-append left assets without
      // their commit marker: both rebuild from the corpus, the
      // coordinator's ground truth (never from a delta slice)
      KeywordIndex.build(text.corpus(), keywordDir)
      writeMarkAt(kwMarkDir, to)
      return
    }
    val from = readMarkAt(kwMarkDir)
    if (to <= from) return
    val delta = text.corpusDelta(from, to).localCheckpoint()
    val newOnly = StoredIndex.bloomGatedNewOnly(spark, keywordDir,
        delta, "doc_id",
        StoredIndex.readAsset(spark, "KeywordIndex", keywordDir, "doclens")
          .select(col("id").as("doc_id")))
      .localCheckpoint()
    if (!newOnly.isEmpty)
      KeywordIndex.append(newOnly, keywordDir, checkIds = false)
    writeMarkAt(kwMarkDir, to)
  }

  /** Converge the keyword index from ANY drift, with the accepted
    * corpus as ground truth — [[repairAlignment]]'s lexical sibling:
    *
    *  1. no commit marker (virgin, or a crash inside an append) →
    *     rebuild from the corpus;
    *  2. half-applied joint takedown (text-ledgered ids still live
    *     in the index): the purged text makes the XOR un-mix
    *     impossible, so serve-while-rebuilding over the survivors
    *     ([[graft.ext.KeywordIndex.rebuildStaged]]) is the remedy —
    *     the same unmixable-residue rule [[Takedown.retract]]
    *     applies;
    *  3. missing documents (a readmit re-entered below the sync
    *     mark, a missed sync) → append their rows straight from the
    *     corpus. A tombstoned-but-in-corpus id cannot arise from
    *     this class's operations (retraction purges the corpus
    *     first, and readmit refuses ledgered ids), so the re-append
    *     is always into clean id space. */
  def repairKeywords(): Unit = {
    requireKeywordServing("repairKeywords")
    import graft.ext.{KeywordIndex, StoredIndex}
    val corpusPath = new org.apache.hadoop.fs.Path(s"$root/corpus")
    if (!fs.exists(corpusPath)) return
    val to = text.maxLandedBatch()
    if (!StoredIndex.isCommitted(spark, keywordDir)) {
      KeywordIndex.build(text.corpus(), keywordDir)
      writeMarkAt(kwMarkDir, to)
      return
    }
    val live = KeywordIndex.liveIndexedIds(spark, keywordDir)
      .withColumnRenamed("id", "doc_id")
    // text-ledgered ids still live in the index: only ledgered ids
    // the index has not tombstoned (a driver diff for literal sets)
    // are candidates, and only candidates cost a keys-only pass
    val pending = Takedown
      .ledgerSet(spark, s"$root/corpus_retracted", "doc_id")
      .exists { ledger =>
        val candidates = StoredIndex.readDeleteIds(spark, keywordDir)
          .fold(ledger)(Takedown.minus(spark, ledger, _))
        !Takedown.isEmpty(candidates) &&
          !StoredIndex.semiIdFilter(candidates, live, "doc_id").isEmpty
      }
    if (pending) {
      KeywordIndex.rebuildStaged(text.corpus(), keywordDir)
    } else {
      // defense-in-depth: a tombstoned-but-in-corpus id is
      // unreachable via this class's operations (see the scaladoc),
      // but an out-of-band KeywordIndex.remove against the shared
      // dir could create one — appending it with checkIds = false
      // would land rows the tombstone permanently filters, silently
      // skewing the fingerprint and the served statistics. Exclude
      // tombstoned ids from the repair append instead.
      val missing = StoredIndex.filterTombstones(
          StoredIndex.readDeleteIds(spark, keywordDir),
          text.corpus().join(live, Seq("doc_id"), "left_anti"),
          "doc_id")
        .localCheckpoint()
      if (!missing.isEmpty)
        KeywordIndex.append(missing, keywordDir, checkIds = false)
    }
    writeMarkAt(kwMarkDir, to)
  }

  /** BM25 top-N from the co-maintained keyword index (see
    * [[graft.ext.KeywordIndex.probe]]). */
  def probeKeywords(terms: Seq[String], topN: Int,
                    zeroFill: Boolean = false): DataFrame = {
    requireKeywordServing("probeKeywords")
    graft.ext.KeywordIndex.probe(spark, keywordDir, terms, topN,
      zeroFill = zeroFill)
  }

  /** Hybrid retrieval over the CO-MAINTAINED stored indexes: the
    * lexical page ([[graft.ext.KeywordIndex.probe]] on the keyword
    * family) RRF-fused with the dense page
    * ([[graft.ext.AnnIndex.probeTopK]] on the stream-maintained ANN
    * index) — k7b's production shape served from the joint
    * coordinator, so both pages obey the searchable ≡ trainable
    * invariant (a quarantined or taken-down document appears in
    * NEITHER page, with no caller-side coordination). `queryVec` is
    * one (vec_id, embedding) row; the corpus text and the embeddings
    * table are never scanned at query time. */
  def probeHybrid(terms: Seq[String], queryVec: DataFrame, topN: Int,
                  pageSize: Int = 20,
                  zeroFill: Boolean = false): DataFrame = {
    requireKeywordServing("probeHybrid")
    val lex = graft.ext.KeywordIndex.probe(spark, keywordDir, terms,
      pageSize, zeroFill = zeroFill)
    val dense = graft.ext.AnnIndex
      .probeTopK(spark, s"$root/ann_index", queryVec, k = pageSize)
      .select(col("nid").as("doc_id"), col("rank"))
    graft.ext.Relevance.rrfFuse(lex, dense, topN)
  }

  /** BATCHED hybrid retrieval over the co-maintained stored indexes
    * — k21's production form served from the joint coordinator: N
    * (qid, terms) lexical queries through ONE
    * [[graft.ext.KeywordIndex.probeMany]] plan, the matching query
    * vectors `(qid, embedding)` through the ANN probe's native
    * multi-query chain, fused per qid by
    * [[graft.ext.Relevance.rrfFuseMany]] (keyed (qid, doc_id) join,
    * qid-partitioned rank window — no global window anywhere in the
    * batched serve). Every page obeys searchable ≡ trainable exactly
    * as [[probeHybrid]]; each qid's page equals the single-query
    * `probeHybrid` page with the same inputs (candidates-only on the
    * lexical side — the batched serves' posture). `queryVecs` must
    * carry one row per qid in `queries` (absent vectors simply fuse
    * the lexical page alone, the rrf convention). The dense probe
    * runs with `excludeSelf = false`: the qids here are BATCH
    * LABELS, not corpus ids, so an accidental label/doc-id collision
    * must not silently drop that document from a page. */
  def probeHybridMany(queries: Seq[(Long, Seq[String])],
                      queryVecs: DataFrame, topN: Int,
                      pageSize: Int = 20,
                      qidCol: String = "qid",
                      vecCol: String = "embedding"): DataFrame = {
    requireKeywordServing("probeHybridMany")
    val lex = graft.ext.KeywordIndex.probeMany(spark, keywordDir,
      queries, pageSize)
    val dense = graft.ext.AnnIndex
      .probeTopK(spark, s"$root/ann_index",
        queryVecs.select(col(qidCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding")), k = pageSize,
        excludeSelf = false)
      .select(col("qid"), col("nid").as("doc_id"), col("rank"))
    graft.ext.Relevance.rrfFuseMany(lex, dense, topN)
  }

  /** [[probeHybrid]] restricted to an ALLOWED doc-id subset — the
    * production RAG query shape ("hybrid top-k among the docs this
    * tenant may see"), fused from the two families' filtered serves:
    * the lexical page is [[graft.ext.KeywordIndex
    * .probeTopKFiltered]] in its GLOBAL-statistics posture, the
    * dense page is [[graft.ext.AnnIndex.probeTopKFiltered]]'s
    * pre-filter semantics (the exact IVFADC top-k of the allowed
    * sub-corpus within the probed buckets). Global statistics on the
    * lexical side for SYMMETRY and scale: both sides then rank the
    * allowed docs under the UNFILTERED corpus model (df/N/Σdl and
    * the trained centroids/codebook are corpus-level on both), and
    * the lexical plan keeps the zero-doclens-work posture — the
    * scoped-statistics form would re-rank per subset AND pay its
    * per-probe subset reduction.
    * Both restrictions are pre-filters on stored postings, so the
    * searchable ≡ trainable invariant composes with the ACL: a page
    * can surface exactly (admitted ∖ retracted) ∩ allowed, and the
    * corpus text / embeddings tables are never scanned. A tenant
    * frame registered with [[graft.ext.KeywordIndex
    * .registerTenants]] can hand its id slice in as `allowed`
    * (KeywordIndex.tenantLiveIds). The grant is resolved once
    * ([[graft.ext.StoredIndex.holdIds]]) and the held set restricts
    * both families: under the cap neither page plan scans `allowed`
    * again. */
  def probeHybridFiltered(terms: Seq[String], queryVec: DataFrame,
                          allowed: DataFrame, topN: Int,
                          pageSize: Int = 20,
                          idCol: String = "doc_id"): DataFrame = {
    requireKeywordServing("probeHybridFiltered")
    // the grant resolved ONCE: held driver literals (as a local frame)
    // under the cap, so neither family re-derives or re-scans it
    val grant = StoredIndex.holdIds(allowed, idCol).frame()
    val lex = graft.ext.KeywordIndex.probeTopKFiltered(spark,
      keywordDir, terms, pageSize, grant, scopedStats = false,
      idCol = "id")
    val dense = graft.ext.AnnIndex
      .probeTopKFiltered(spark, s"$root/ann_index", queryVec,
        grant.select(col("id").as("vec_id")), k = pageSize)
      .select(col("nid").as("doc_id"), col("rank"))
    graft.ext.Relevance.rrfFuse(lex, dense, topN)
  }

  /** Register (or wholesale replace) tenant assignments over the
    * co-maintained keyword index —
    * [[graft.ext.KeywordIndex.registerTenants]] on the coordinator's
    * lexical family: the control-plane step that makes
    * [[probeHybridTenant]] a one-call serve. Assignments must name
    * live corpus ids (partial coverage is fine). The overlay
    * survives staged retrains ([[graft.ext.KeywordIndex
    * .rebuildStaged]] carries the surviving ids' rows), but a
    * crash-recovery IN-PLACE rebuild (the syncKeywords virgin/
    * no-marker path) derives clean state and drops it — re-register
    * after, exactly as the index family documents. */
  def registerTenants(assign: DataFrame): Unit = {
    requireKeywordServing("registerTenants")
    graft.ext.KeywordIndex.registerTenants(spark, keywordDir, assign)
  }

  /** Extend the registered overlay with assignments for
    * newly-ingested (or previously untenanted) live docs —
    * [[graft.ext.KeywordIndex.assignTenants]] on the coordinator's
    * lexical family, O(batch): the control-plane companion to a
    * streamed drop, so a tenant's corpus can grow without the
    * full-overlay re-registration [[registerTenants]] pays. Guards
    * (ids live, not already assigned) are the index family's. */
  def assignTenants(assign: DataFrame): Unit = {
    requireKeywordServing("assignTenants")
    graft.ext.KeywordIndex.assignTenants(spark, keywordDir, assign)
  }

  /** One-call tenant-scoped hybrid serve — [[probeHybridFiltered]]
    * with the allowed frame drawn from the REGISTERED tenant overlay
    * instead of a caller-materialized ACL: the tenant's live ids
    * read as a (tenant, id)-clustered, row-group-pruned overlay
    * slice ([[graft.ext.KeywordIndex.tenantLiveIds]], tombstone-
    * filtered), then both families' filtered serves fuse exactly as
    * the ad-hoc form (k14's semantics: global corpus model on both
    * sides, two ≤ pageSize pages into RRF). The production RAG
    * query shape — "hybrid top-k among THIS tenant's documents" —
    * obeying searchable ≡ trainable ∩ tenant with no caller-side
    * coordination; corpus text and the embeddings relation are
    * never scanned at query time. A tenant with no live assignments
    * serves an empty page. */
  def probeHybridTenant(terms: Seq[String], queryVec: DataFrame,
                        tenant: String, topN: Int,
                        pageSize: Int = 20): DataFrame = {
    requireKeywordServing("probeHybridTenant")
    probeHybridFiltered(terms, queryVec,
      graft.ext.KeywordIndex.tenantLiveIds(spark, keywordDir, tenant)
        .withColumnRenamed("id", "doc_id"),
      topN, pageSize)
  }

  /** BATCHED tenant hybrid — [[probeHybridTenant]] on the batch
    * dimension, the serve matrix's last hybrid cell (batch × tenant
    * × fused): N (qid, terms) + (qid, vector) + (qid, tenant)
    * queries in ONE composed plan per family. The grant pairs come
    * from ONE overlay slice over the named tenants
    * ([[graft.ext.KeywordIndex.tenantLivePairs]] — the keyword
    * family's overlay is the coordinator's single source of tenant
    * truth, exactly as the one-call form), then both batched
    * filtered serves restrict per (qid, id) BEFORE scoring and
    * [[graft.ext.Relevance.rrfFuseMany]] joins the pages keyed
    * (qid, doc_id) with qid-partitioned rank windows only. Each
    * qid's page equals `probeHybridTenant(terms_q, vec_q, tenant_q)`
    * (candidates-only on the lexical side — the batched posture):
    * global corpus model on both sides, k14's symmetry argument.
    * The combined grant is unbounded (many qids × tenant-sized
    * grants), so NEITHER restriction is broadcast-hinted — the
    * strategy stays with Catalyst/AQE ([[graft.ext.KeywordIndex
    * .probeManyTenant]]'s argument); the dense probe runs
    * label-safe (`excludeSelf = false`, [[probeHybridMany]]'s
    * contract). A qid naming an unregistered tenant serves an
    * empty page. */
  def probeHybridManyTenant(queries: Seq[(Long, Seq[String])],
                            queryVecs: DataFrame,
                            tenants: Seq[(Long, String)], topN: Int,
                            pageSize: Int = 20,
                            qidCol: String = "qid",
                            vecCol: String = "embedding"): DataFrame = {
    requireKeywordServing("probeHybridManyTenant")
    // distinct BEFORE set-equality: a duplicate qid in `tenants`
    // would pass a toSet compare and expand BOTH tenants' id sets as
    // that qid's grant — the fused page could surface another
    // tenant's documents on a malformed call (the single-family
    // batched serves already require distinct qids; so must the
    // coordinator entry point)
    require(tenants.map(_._1).distinct.size == tenants.size,
      "probeHybridManyTenant: tenant qids must be distinct — a " +
        "duplicate qid would serve the union of its tenants' grants")
    require(queries.map(_._1).toSet == tenants.map(_._1).toSet,
      "probeHybridManyTenant: queries and tenants must name the " +
        "same qids")
    // NOT checkpointed: the combined grant is unbounded, and each
    // side's read is a tenant-IN row-group-pruned overlay slice —
    // two pruned scans beat pinning an unbounded frame in memory
    val pairs = graft.ext.KeywordIndex
      .tenantLivePairs(spark, keywordDir, tenants)
    val lex = graft.ext.KeywordIndex.probeManyFiltered(spark,
      keywordDir, queries, pageSize,
      allowed = pairs.withColumnRenamed("id", "doc_id"),
      broadcastAllowed = false)
    val dense = graft.ext.AnnIndex
      .probeManyFiltered(spark, s"$root/ann_index",
        queryVecs.select(col(qidCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding")),
        allowed = pairs.withColumnRenamed("id", "vec_id"),
        k = pageSize, broadcastAllowed = false, excludeSelf = false)
      .select(col("qid"), col("nid").as("doc_id"), col("rank"))
    graft.ext.Relevance.rrfFuseMany(lex, dense, topN)
  }

  private def requireKeywordServing(what: String): Unit =
    require(keywordServing,
      s"StreamingCorpusIngest.$what requires keywordServing = true " +
        "— construct the coordinator with the lexical family enabled")

  /** Joint compliance takedown, text-first (see class scaladoc for
    * the ordering argument). Both halves are idempotent, so a crash
    * between them is converged by re-running — or by
    * [[repairAlignment]], which finishes the vector half from the
    * text ledger. */
  def retract(ids: DataFrame): Unit =
    retractHeld(StoredIndex.holdIds(ids, "doc_id"))

  /** [[retract]] of a held id set: the request is resolved ONCE
    * ([[StoredIndex.holdIds]]) and both families' takedowns, the
    * lexical un-mix and every guard below them work from it. */
  private[streaming] def retractHeld(want: Tombstones): Unit = {
    val kwIndexed = keywordServing &&
      StoredIndex.isCommitted(spark, keywordDir)
    // the keyword un-mix needs the retracted rows' (id, text)
    // identity, and the text half purges exactly that — it returns
    // the corpus rows it fetched BEFORE its purge (driver-internal;
    // nothing is served from them), and the lexical remove runs
    // AFTER it so the compliance ordering stays text-first. A crash
    // between the halves strands a live kw entry; repairKeywords
    // rebuilds from the purged corpus.
    val fetched = text.retractHeld(want)
    // downstream of the text purge, the lexical un-mix and the
    // vector takedown touch disjoint stores and were never ordered
    // relative to EACH OTHER (only text-first mattered) — overlap
    // them (guide §2.6); each half stays idempotent, so any crash
    // window still converges via re-run / repairKeywords /
    // repairAlignment exactly as before
    inParallel(
      () => if (kwIndexed) fetched.foreach(removeKeywords),
      () => vectors.retractHeld(want))
  }

  /** Un-mix fetched corpus rows from the keyword index — only those
    * it holds live (one keys-only pass over the request's ids). */
  private def removeKeywords(f: Takedown.Fetched): Unit = {
    import graft.ext.KeywordIndex
    val ids = Takedown.liveOf(spark, f.ids,
      KeywordIndex.liveIndexedIds(spark, keywordDir), "id")
    if (!Takedown.isEmpty(ids))
      KeywordIndex.removeHeld(
        StoredIndex.semiIdFilter(ids, f.rows, "doc_id"), ids, keywordDir)
  }

  /** Joint predicate takedown: resolve against the text stores
    * (corpus AND quarantine — the only stores holding the matchable
    * content), then execute the joint [[retract]] over the matches. */
  def retractWhere(cond: org.apache.spark.sql.Column): Unit =
    Takedown.idsMatching(spark,
        Seq(s"$root/corpus", s"$root/quarantine"), cond,
        "doc_id", Seq("text"))
      .map(_.localCheckpoint()).filter(!_.isEmpty)
      .foreach(ids => retract(ids))

  /** Reverse a false-positive gate verdict on BOTH families: readmit
    * the quarantined documents into the corpus + dedup index
    * ([[StreamingDedupIngest.readmit]] — original-batch re-entry,
    * loud on non-quarantined or ledgered ids), then admit their
    * vectors. The re-entered rows land BELOW the sync mark, so the
    * vector half goes through [[repairAlignment]] — the generic
    * converger — rather than a special-cased stage: a crash anywhere
    * in between is fixed by re-running repairAlignment alone. */
  def readmit(ids: DataFrame, embeddings: DataFrame): Unit =
    readmitHeld(StoredIndex.holdIds(ids, "doc_id"), embeddings)

  /** [[readmit]] of a held id set ([[StoredIndex.holdIds]]). */
  private[streaming] def readmitHeld(want: Tombstones,
                                     embeddings: DataFrame): Unit = {
    text.readmitHeld(want)
    repairAlignment(embeddings)
    if (keywordServing) repairKeywords()
  }

  /** Converge the vector side from ANY drift — the O(keys) slow
    * path. Two reconciliations, both keys-only until the repair
    * itself:
    *
    *  1. pending takedowns: ids ledgered on the text side but not on
    *     the vector side (a crash between [[retract]]'s halves) are
    *     retracted from the vector family;
    *  2. missing vectors: accepted corpus ids absent from the vector
    *     store (a readmit, a missed sync) have their embeddings
    *     admitted through the gated stream.
    *
    * Extra live vectors beyond the corpus arise only inside a joint
    * takedown's crash window (text purged, vectors not yet) — and
    * those are exactly what reconciliation 1 retracts, from the
    * ledger diff. A `vectors_only` id WITHOUT a text-ledger entry
    * cannot arise from this class's operations (admission is
    * text-gate-first) — that is external interference with the
    * stores, surfaced by [[alignment]] and left to the operator
    * rather than silently deleted. */
  def repairAlignment(embeddings: DataFrame): Unit = {
    // 1. finish any half-applied joint takedown: text-ledgered ids
    // the vector ledger lacks (a driver diff for literal ledgers)
    Takedown.ledgerSet(spark, s"$root/corpus_retracted", "doc_id")
      .foreach { textLedger =>
        val pending = Takedown
          .ledgerSet(spark, s"$root/vectors_retracted", "vec_id")
          .fold(textLedger)(Takedown.minus(spark, textLedger, _))
        if (!Takedown.isEmpty(pending)) vectors.retractHeld(pending)
      }
    // 2. admit vectors the corpus has accepted but the store lacks
    val corpusPath = new org.apache.hadoop.fs.Path(s"$root/corpus")
    if (!fs.exists(corpusPath)) return
    val have = {
      val storePath = new org.apache.hadoop.fs.Path(s"$root/vectors")
      if (fs.exists(storePath))
        vectors.store().select(col("vec_id").as("doc_id"))
      else spark.range(0).select(col("id").as("doc_id"))
    }
    val missing = text.corpus().select("doc_id")
      .join(have, Seq("doc_id"), "left_anti").localCheckpoint()
    if (!missing.isEmpty)
      stageAndIngest(missing, embeddings,
        s"repair_${System.nanoTime()}")
  }

  /** The cross-family audit: `(side, doc_id)` for every id on one
    * side only — `corpus_only` (vector missing: run
    * [[repairAlignment]]) or `vectors_only` (a takedown window or
    * external interference). Empty ⇔ aligned. Keys-only: two
    * id-column scans, no text, no embeddings. A virgin side (store
    * dir absent — e.g. text seeded but vectors never synced) reads
    * as empty rather than erroring: that IS a reportable drift. */
  def alignment(): DataFrame = {
    def orEmpty(present: Boolean)(read: => DataFrame) =
      if (present) read else spark.range(0).select(col("id").as("doc_id"))
    def exists(dir: String) = fs.exists(new org.apache.hadoop.fs.Path(dir))
    // the family reads (heal-first) when the store exists
    val c = orEmpty(exists(s"$root/corpus"))(text.corpus().select("doc_id"))
    val v = orEmpty(exists(s"$root/vectors"))(
      vectors.store().select(col("vec_id").as("doc_id")))
    val textVsVectors = c.join(v, Seq("doc_id"), "left_anti")
      .select(lit("corpus_only").as("side"), col("doc_id"))
      .unionByName(v.join(c, Seq("doc_id"), "left_anti")
        .select(lit("vectors_only").as("side"), col("doc_id")))
    val withKeyword =
      if (!keywordServing) textVsVectors
      else {
        val k = orEmpty(StoredIndex.isCommitted(spark, keywordDir))(
          graft.ext.KeywordIndex.liveIndexedIds(spark, keywordDir)
            .withColumnRenamed("id", "doc_id"))
        textVsVectors
          .unionByName(c.join(k, Seq("doc_id"), "left_anti")
            .select(lit("keyword_missing").as("side"), col("doc_id")))
          .unionByName(k.join(c, Seq("doc_id"), "left_anti")
            .select(lit("keyword_only").as("side"), col("doc_id")))
      }
    withKeyword.orderBy("side", "doc_id")
  }

  /** Both families' ingest-level health frames in one report, metric
    * names prefixed `text_` / `ann_`. The alignment audit stays a
    * separate call ([[alignment]]): health is footer-priced by
    * contract, alignment reads id columns. */
  def health(): DataFrame = {
    val t = text.health().select(
      concat(lit("text_"), col("metric")).as("metric"), col("value"))
    val a = vectors.health().select(
      concat(lit("ann_"), col("metric")).as("metric"), col("value"))
    val base = t.unionByName(a)
    val withKw =
      if (keywordServing && StoredIndex.isCommitted(spark, keywordDir))
        base.unionByName(
          graft.ext.KeywordIndex.health(spark, keywordDir).select(
            concat(lit("kw_"), col("metric")).as("metric"),
            col("value")))
      else base
    withKw.orderBy("metric")
  }

  /** Durable sync high-water mark (max text batch whose vectors are
    * admitted). Missing ⇒ -2 (below the seed's batch -1): the fast
    * path re-syncs from the beginning and the ANN gate drops every
    * already-indexed row — losing the mark costs work, never
    * correctness, which is why the stage-then-rename swap below may
    * leave it absent but never half-written. */
  private def readMark(): Long = readMarkAt(syncMarkDir)

  private def writeMark(to: Long): Unit = writeMarkAt(syncMarkDir, to)

  // 1-row mark assets: driver-side parquet I/O (TinyParquetShim) —
  // the former per-sync read job + write job were pure overhead;
  // the stage-then-rename swap posture is unchanged
  private def readMarkAt(dir: String): Long =
    org.apache.spark.sql.graftshim.TinyParquetShim
      .readRows(spark, dir)
      .flatMap(_.headOption)
      .map(_.getLong(0))
      .getOrElse(-2L)

  private def writeMarkAt(dir: String, to: Long): Unit = {
    val stage = dir + "_stage"
    org.apache.spark.sql.graftshim.TinyParquetShim.overwriteDir(
      spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch",
          org.apache.spark.sql.types.LongType, nullable = false))),
      Seq(org.apache.spark.sql.Row(to)), stage)
    val markPath = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(markPath)) fs.delete(markPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(stage), markPath)
  }
}
