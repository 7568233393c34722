package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{AnnIndex, DedupIndex, StoredIndex}
import graft.streaming.StreamingDedupIngest.stage

/** The joint text+vector coordinator ([[StreamingCorpusIngest]]):
  * the cross-family invariant — searchable vectors ≡ trainable
  * documents — under gating, crash windows between the halves of a
  * joint takedown, readmits (which land below the sync mark and so
  * exercise the repair path, not the delta path), and replays. */
class CorpusIngestSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf001/documents.parquet")
    .select("doc_id", "text").localCheckpoint()
  private def embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    .select($"vec_id".as("doc_id"), $"embedding").localCheckpoint()
  private def ids(df: org.apache.spark.sql.DataFrame,
                  col: String = "doc_id") =
    df.select(col).as[Long].collect().toSet

  /** Embeddings relation that also covers near-dup copy ids
    * (doc_id+20000 for doc_id<30) so readmitted copies can sync. */
  private def embsWithCopies = {
    val base = embs
    base.unionByName(base.filter($"doc_id" < 30)
      .select(($"doc_id" + 20000L).as("doc_id"), $"embedding"))
      .localCheckpoint()
  }

  test("joint ingest: gate verdicts bind the vector side; quarantined " +
      "embeddings are never searchable") {
    val root = Files.createTempDirectory("graft_joint_").toString
    val joint = new StreamingCorpusIngest(spark, root)
    val e = embsWithCopies

    joint.seed(docs.filter($"doc_id" < 200), e)
    assert(joint.alignment().isEmpty, "seed must leave both aligned")
    assert(ids(joint.vectors.store(), "vec_id") ==
      ids(joint.text.corpus()))

    // drop: 50 new docs + 30 exact copies (the gate quarantines them)
    val drop = docs.filter($"doc_id" >= 200 && $"doc_id" < 250)
      .unionByName(docs.filter($"doc_id" < 30)
        .select(($"doc_id" + 20000L).as("doc_id"), $"text"))
    stage(drop, s"$root/staging", "d1")
    joint.ingestAvailable(s"$root/staging", s"$root/ckpt", e)

    val corpus = ids(joint.text.corpus())
    assert(corpus.contains(200L) && !corpus.contains(20000L),
      "gate must accept new docs and quarantine the copies")
    // the quarantined copies' embeddings must NOT be searchable:
    // absent from the store AND from the live ANN index
    val store = ids(joint.vectors.store(), "vec_id")
    assert(store == corpus, "vector store must mirror the corpus")
    assert(!ids(AnnIndex.liveIndexedIds(spark, s"$root/ann_index"),
      "id").exists(_ >= 20000L))
    assert(joint.alignment().isEmpty)

    // a replayed sync is a no-op (mark + ANN already-indexed gate)
    joint.syncVectors(e)
    assert(ids(joint.vectors.store(), "vec_id") == store)

    // joint takedown reaches both families + both ledgers
    joint.retract(Seq(5L, 210L).toDF("doc_id"))
    val after = ids(joint.text.corpus())
    assert(!after.contains(5L) && !after.contains(210L))
    assert(ids(joint.vectors.store(), "vec_id") == after)
    assert(!ids(AnnIndex.liveIndexedIds(spark, s"$root/ann_index"),
      "id").contains(5L))
    assert(!ids(DedupIndex.liveIndexedIds(spark, s"$root/dedup_index"),
      "id").contains(5L))
    assert(joint.alignment().isEmpty)

    // readmit two quarantined copies: original-batch re-entry is
    // below the sync mark — only the repair path can admit their
    // vectors, and readmit() routes through it
    joint.readmit(Seq(20000L, 20001L).toDF("doc_id"), e)
    val readmitted = ids(joint.text.corpus())
    assert(readmitted.contains(20000L) && readmitted.contains(20001L))
    assert(ids(joint.vectors.store(), "vec_id") == readmitted,
      "readmitted docs' vectors must be admitted via repair")
    assert(ids(AnnIndex.liveIndexedIds(spark, s"$root/ann_index"),
      "id").contains(20000L))
    assert(joint.alignment().isEmpty)

    // health: both families' frames, prefixed, in one plan
    val h = joint.health().as[(String, Double)].collect().toMap
    assert(h.keys.exists(_.startsWith("text_")) &&
      h.keys.exists(_.startsWith("ann_")))
    assert(h("ann_store_rows") == readmitted.size.toDouble)
  }

  test("joint ingest with keyword serving: gate verdicts bind the " +
      "lexical side; takedown, readmit, crash windows converge") {
    import graft.ext.{KeywordIndex, Relevance}
    val root = Files.createTempDirectory("graft_jkw_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    val e = embsWithCopies
    val kwIx = joint.keywordDir
    val terms = Seq("data", "query")
    def kwLive() = ids(KeywordIndex.liveIndexedIds(spark, kwIx), "id")
    def serveMatches(what: String): Unit = {
      val live = joint.text.corpus().localCheckpoint()
      assert(joint.probeKeywords(terms, 10, zeroFill = true)
        .collect().toSeq ==
        Relevance.bm25TopDocs(live, terms, 10).collect().toSeq,
        s"$what: keyword serve != in-query BM25 over the corpus")
    }

    joint.seed(docs.filter($"doc_id" < 200), e)
    assert(kwLive() == ids(joint.text.corpus()),
      "seed must index exactly the accepted corpus")
    serveMatches("seed")

    // gate verdicts bind: quarantined near-dup copies never indexed
    val drop = docs.filter($"doc_id" >= 200 && $"doc_id" < 250)
      .unionByName(docs.filter($"doc_id" < 30)
        .select(($"doc_id" + 20000L).as("doc_id"), $"text"))
    stage(drop, s"$root/staging", "d1")
    joint.ingestAvailable(s"$root/staging", s"$root/ckpt", e)
    assert(kwLive() == ids(joint.text.corpus()))
    assert(!kwLive().exists(_ >= 20000L),
      "quarantined copies must not be lexically searchable")
    serveMatches("delta sync")
    assert(joint.alignment().isEmpty)

    // replayed sync: mark + bloom gate make it a no-op
    val before = kwLive()
    joint.syncKeywords()
    assert(kwLive() == before)

    // joint takedown reaches the lexical family: live set, serve
    // STATISTICS, and content freshness all move to the survivors
    joint.retract(Seq(7L, 205L).toDF("doc_id"))
    assert(!kwLive().contains(7L) && !kwLive().contains(205L))
    assert(kwLive() == ids(joint.text.corpus()))
    serveMatches("post-takedown")
    assert(!KeywordIndex.ensure(joint.text.corpus(), kwIx),
      "post-takedown index must stay content-fresh for survivors")
    assert(joint.alignment().isEmpty)

    // readmit lands below the sync mark → repairKeywords (inside
    // readmit) must admit the restored docs
    joint.readmit(Seq(20000L, 20001L).toDF("doc_id"), e)
    assert(kwLive().contains(20000L) && kwLive().contains(20001L))
    assert(kwLive() == ids(joint.text.corpus()))
    serveMatches("post-readmit")
    assert(joint.alignment().isEmpty)

    // health: the third family's frame rides along, prefixed
    val h = joint.health().as[(String, Double)].collect().toMap
    assert(h.keys.exists(_.startsWith("kw_")))
    assert(h("kw_n_docs_live") == kwLive().size.toDouble)

    // crash between the halves of a joint retract: text purged +
    // ledgered, keyword index still live → the audit names the
    // stranded ids keyword_only, and repairKeywords converges by
    // staged rebuild (the un-mix text is gone)
    joint.text.retract(Seq(9L).toDF("doc_id"))
    assert(joint.alignment().filter($"side" === "keyword_only")
      .select("doc_id").as[Long].collect().toSet == Set(9L))
    joint.repairKeywords()
    assert(!kwLive().contains(9L))
    assert(joint.alignment().filter($"side".contains("keyword")).isEmpty)
    serveMatches("post-crash-repair")

    // crash INSIDE a keyword append (assets, no commit marker): the
    // next sync rebuilds from the corpus — the durable truth
    val metaPath = new org.apache.hadoop.fs.Path(s"$kwIx/meta")
    metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(metaPath, true)
    joint.syncKeywords()
    assert(kwLive() == ids(joint.text.corpus()))
    serveMatches("post-append-crash")

    // keyword ops on a coordinator without the family are refused
    val bare = new StreamingCorpusIngest(spark,
      Files.createTempDirectory("graft_jkwoff_").toString)
    intercept[IllegalArgumentException] {
      bare.probeKeywords(terms, 5)
    }
    intercept[IllegalArgumentException] {
      bare.probeHybrid(terms, spark.range(1)
        .select($"id".as("vec_id"),
          org.apache.spark.sql.functions.array($"id".cast("double"))
            .as("embedding")), topN = 5)
    }
  }

  test("filtered hybrid serve: the coordinator page equals the two " +
      "filtered stored probes fused, respects the ACL and the " +
      "takedown, and is refused without the lexical family") {
    import graft.ext.{AnnIndex, KeywordIndex, Relevance}
    val root = Files.createTempDirectory("graft_jhf_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    joint.seed(docs.filter($"doc_id" < 200), embs)
    joint.retract(Seq(6L, 9L).toDF("doc_id"))
    val terms = Seq("data", "query")
    val allowed = docs.filter($"doc_id" % 3 === 0).select("doc_id")
    val qv = embs.filter($"doc_id" === 7L)
      .select($"doc_id".as("vec_id"), $"embedding")
    val page = joint.probeHybridFiltered(terms, qv, allowed, topN = 8)
      .localCheckpoint()
    // ≡ composing the two families' filtered serves directly
    val lex = KeywordIndex.probeTopKFiltered(spark, joint.keywordDir,
      terms, 20, allowed, scopedStats = false)
    val dense = AnnIndex.probeTopKFiltered(spark, s"$root/ann_index",
        qv, allowed.withColumnRenamed("doc_id", "vec_id"), k = 20)
      .select($"nid".as("doc_id"), $"rank")
    assert(page.collect().toSeq ==
      Relevance.rrfFuse(lex, dense, 8).collect().toSeq,
      "coordinator page must equal the composed filtered probes")
    // ACL ∩ takedown: surfaced ids ⊆ allowed ∩ (admitted ∖ retracted)
    val surfaced = ids(page.select("doc_id"))
    val legal = ids(joint.text.corpus())
      .intersect(ids(allowed)) -- Set(6L, 9L)
    assert(surfaced.subsetOf(legal),
      "page must never surface a retracted or out-of-ACL doc")
    assert(surfaced.forall(_ % 3 == 0), "ACL must bind both sides")
    val bare = new StreamingCorpusIngest(spark,
      Files.createTempDirectory("graft_jhfoff_").toString)
    intercept[IllegalArgumentException] {
      bare.probeHybridFiltered(terms, qv, allowed, topN = 5)
    }
  }

  test("tenant hybrid serve: one call ≡ the composed filtered " +
      "probes over the tenant's live ids; takedown binds; the plan " +
      "reads the overlay slice, never doclens or corpus text") {
    import graft.ext.{AnnIndex, KeywordIndex, Relevance}
    val root = Files.createTempDirectory("graft_jhtn_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    joint.seed(docs.filter($"doc_id" < 200), embs)
    joint.registerTenants(docs.filter($"doc_id" < 200)
      .select($"doc_id", concat(lit("t"), $"doc_id" % 3).as("tenant")))
    // joint takedown of two tenant-t0 docs: the overlay slice must
    // lose them (tombstone filter + gauge fold) with no extra call
    joint.retract(Seq(6L, 9L).toDF("doc_id"))
    val terms = Seq("data", "query")
    val qv = embs.filter($"doc_id" === 7L)
      .select($"doc_id".as("vec_id"), $"embedding")
    val page = joint.probeHybridTenant(terms, qv, "t0", topN = 8)
      .localCheckpoint()
    // ≡ the ad-hoc k14 composition with an INDEPENDENTLY-derived
    // allowed frame (predicate over the seed, minus the takedown) —
    // pins registration → overlay slice → fusion end to end
    val allowed = docs.filter($"doc_id" < 200 && $"doc_id" % 3 === 0
      && !$"doc_id".isin(6L, 9L)).select("doc_id")
    val lex = KeywordIndex.probeTopKFiltered(spark, joint.keywordDir,
      terms, 20, allowed, scopedStats = false)
    val dense = AnnIndex.probeTopKFiltered(spark, s"$root/ann_index",
        qv, allowed.withColumnRenamed("doc_id", "vec_id"), k = 20)
      .select($"nid".as("doc_id"), $"rank")
    assert(page.collect().toSeq ==
      Relevance.rrfFuse(lex, dense, 8).collect().toSeq,
      "one-call tenant page must equal the composed filtered probes")
    val surfaced = ids(page.select("doc_id"))
    assert(surfaced.subsetOf(ids(joint.text.corpus())) &&
      surfaced.forall(_ % 3 == 0) && !surfaced.exists(Set(6L, 9L)),
      "page must surface only live tenant docs")
    // plan shape: the overlay slice is the only tenant-side read,
    // resolved once into a held grant before the page plans — its
    // read pushes tenant= to the clustered overlay scan, and the page
    // plan scans neither the overlay, nor doclens (the lexical side
    // is the global-stats posture), nor corpus text
    val grantPlan = KeywordIndex.tenantLiveIds(spark, joint.keywordDir,
      "t0").queryExecution.executedPlan.toString
    assert("tenants[^\\n]*PushedFilters: \\[[^\\n]*EqualTo\\(tenant".r
      .findFirstIn(grantPlan).isDefined,
      s"tenant= not pushed to the overlay scan in:\n$grantPlan")
    val plan = joint.probeHybridTenant(terms, qv, "t0", topN = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("tenants"),
      s"tenant hybrid re-scans the held grant's overlay in:\n$plan")
    assert(!plan.contains("doclens"),
      s"tenant hybrid reads doclens in:\n$plan")
    assert(!plan.contains("split(") && !plan.contains("text#"),
      s"tenant hybrid touches corpus text in:\n$plan")
    // unknown tenant: empty overlay slice, empty page
    assert(joint.probeHybridTenant(terms, qv, "nosuch", 5).isEmpty,
      "unknown tenant must serve an empty page")
    // refused without the lexical family
    val bare = new StreamingCorpusIngest(spark,
      Files.createTempDirectory("graft_jhtnoff_").toString)
    intercept[IllegalArgumentException] {
      bare.probeHybridTenant(terms, qv, "t0", 5)
    }
    intercept[IllegalArgumentException] {
      bare.registerTenants(docs.limit(1)
        .select($"doc_id", lit("t0").as("tenant")))
    }
    // the overlay survives the repair path's STAGED rebuild: a
    // half-applied joint takedown (text purged, keyword index still
    // live) forces repairKeywords' rebuildStaged — which now CARRIES
    // the surviving assignments — so the one-call tenant serve stays
    // warm across the repair and the stranded id drops out of it
    joint.text.retract(Seq(3L).toDF("doc_id")) // t0 doc, text half only
    joint.repairKeywords()
    val healed = joint.probeHybridTenant(terms, qv, "t0", topN = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(!healed.contains(3L),
      "repaired tenant serve must drop the taken-down doc")
    assert(healed.nonEmpty && healed.forall(_ % 3 == 0),
      "tenant serve must stay warm (overlay carried) after the " +
        "staged-rebuild repair — no re-registration")
  }

  test("batched hybrid serve: per-qid pages equal the composed " +
      "single fusions; batch-label qids never self-exclude a " +
      "colliding doc id") {
    import graft.ext.{AnnIndex, KeywordIndex, Relevance}
    val root = Files.createTempDirectory("graft_jhm_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    joint.seed(docs.filter($"doc_id" < 200), embs)
    // qid 0 is a LIVE doc id on purpose: the batched dense probe
    // must not drop doc 0 from qid 0's page (excludeSelf = false)
    val queries = Seq(0L -> Seq("data", "query"), 1L -> Seq("stream"))
    val qVecs = embs.filter($"doc_id" === 7L)
      .select(lit(0L).as("qid"), $"embedding")
      .unionByName(embs.filter($"doc_id" === 11L)
        .select(lit(1L).as("qid"), $"embedding"))
    val pages = joint.probeHybridMany(queries, qVecs, topN = 8)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val single = queries.flatMap { case (q, ts) =>
      val lex = KeywordIndex.probeMany(spark, joint.keywordDir,
          Seq(q -> ts), topN = 20)
        .select("rank", "doc_id")
      val vsrc = if (q == 0L) 7L else 11L
      val dense = AnnIndex.probeTopK(spark, s"$root/ann_index",
          embs.filter($"doc_id" === vsrc)
            .select(lit(q).as("vec_id"), $"embedding"),
          k = 20, excludeSelf = false)
        .select($"nid".as("doc_id"), $"rank")
      Relevance.rrfFuse(lex, dense, topN = 8)
        .as[(Int, Long, Double)].collect().toSeq
        .map { case (r, id, v) => (q, r, id, v) }
    }.sortBy(x => (x._1, x._2))
    assert(pages == single,
      "batched hybrid pages must equal the composed single fusions")
    // the self-exclusion contrast: with corpus-id qids the default
    // probe drops the id itself; the batched serve's label qids keep
    // doc 0 eligible for qid 0's dense page
    val withSelf = AnnIndex.probeTopK(spark, s"$root/ann_index",
        embs.filter($"doc_id" === 0L).select($"doc_id".as("vec_id"),
          $"embedding"), k = 200)
      .filter($"nid" === 0L).count()
    val withoutSelf = AnnIndex.probeTopK(spark, s"$root/ann_index",
        embs.filter($"doc_id" === 0L).select($"doc_id".as("vec_id"),
          $"embedding"), k = 200, excludeSelf = false)
      .filter($"nid" === 0L).count()
    assert(withSelf == 0L && withoutSelf == 1L,
      "excludeSelf dial must gate exactly the qid == nid candidate")
  }

  test("batched tenant hybrid: per-qid pages equal the one-call " +
      "tenant fusions; the grant binds both sides per qid; unknown " +
      "tenants serve empty pages; mismatched qids refuse") {
    val root = Files.createTempDirectory("graft_jhmtn_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    joint.seed(docs.filter($"doc_id" < 200), embs)
    joint.registerTenants(docs.filter($"doc_id" < 200)
      .select($"doc_id", concat(lit("t"), $"doc_id" % 3).as("tenant")))
    joint.retract(Seq(6L, 9L).toDF("doc_id")) // two t0 docs
    val queries = Seq(0L -> Seq("data", "query"), 1L -> Seq("stream"))
    val qVecs = embs.filter($"doc_id" === 7L)
      .select(lit(0L).as("qid"), $"embedding")
      .unionByName(embs.filter($"doc_id" === 11L)
        .select(lit(1L).as("qid"), $"embedding"))
    val tenants = Seq((0L, "t0"), (1L, "t1"))
    val pages = joint.probeHybridManyTenant(queries, qVecs, tenants,
        topN = 8)
      .as[(Long, Int, Long, Double)].collect().toSeq
    // ≡ the one-call tenant fusions, label-safe: the single dense
    // probe self-excludes on the query frame's vec_id, so the twin
    // relabels it off-corpus (-1) to match the batched label qids
    val single = Seq((0L, 7L, "t0"), (1L, 11L, "t1")).flatMap {
      case (q, vid, tn) =>
        joint.probeHybridTenant(queries.find(_._1 == q).get._2,
            embs.filter($"doc_id" === vid)
              .select(lit(-1L).as("vec_id"), $"embedding"),
            tenant = tn, topN = 8)
          .as[(Int, Long, Double)].collect().toSeq
          .map { case (r, id, v) => (q, r, id, v) }
    }.sortBy(x => (x._1, x._2))
    assert(pages == single,
      "batched tenant pages must equal the one-call fusions")
    // each page surfaces only ITS tenant's live docs — the takedown
    // and the per-qid grant both bind
    assert(pages.filter(_._1 == 0L).map(_._3)
      .forall(id => id % 3 == 0 && id != 6L && id != 9L),
      "qid 0 must surface only live t0 docs")
    assert(pages.filter(_._1 == 1L).map(_._3).forall(_ % 3 == 1),
      "qid 1 must surface only t1 docs")
    assert(pages.count(_._1 == 0L) > 0 && pages.count(_._1 == 1L) > 0)
    // plan shape: the batched serve reads the overlay ONCE with
    // tenant IN pushed, never doclens (global-stats lexical side) or
    // corpus text, and plans NO global window (the batched rule —
    // the single-query twins' two-page RRF window is the audited
    // exception the batch dimension removes)
    val servedDf = joint.probeHybridManyTenant(queries, qVecs,
      tenants, topN = 8)
    val plan = servedDf.queryExecution.executedPlan.toString
    assert("tenants[^\\n]*PushedFilters: \\[[^\\n]*In\\(tenant".r
      .findFirstIn(plan).isDefined,
      s"tenant IN not pushed to the overlay scan in:\n$plan")
    assert(!plan.contains("doclens"),
      s"batched tenant hybrid reads doclens in:\n$plan")
    assert(!plan.contains("split(") && !plan.contains("text#"),
      s"batched tenant hybrid touches corpus text in:\n$plan")
    assert(!graft.plans.PlanGuard.findings(servedDf)
      .exists(_.rule == "global-window"),
      "batched tenant hybrid plans a global window")
    // a qid naming an unknown tenant serves empty, others unaffected
    val mixed = joint.probeHybridManyTenant(queries, qVecs,
      Seq((0L, "t0"), (1L, "nosuch")), topN = 8)
    assert(mixed.filter($"qid" === 1L).isEmpty,
      "unknown tenant must serve an empty page")
    assert(mixed.filter($"qid" === 0L).as[(Long, Int, Long, Double)]
      .collect().toSeq == pages.filter(_._1 == 0L),
      "a sibling qid's unknown tenant must not perturb this page")
    // qid mismatch between queries and tenants refuses
    intercept[IllegalArgumentException] {
      joint.probeHybridManyTenant(queries, qVecs,
        Seq((0L, "t0")), topN = 5)
    }
    // a DUPLICATE qid in tenants refuses LOUDLY — it would pass a
    // bare set-equality check and expand BOTH tenants' id sets as
    // that qid's grant, serving another tenant's documents on the
    // fused page (the single-family batched serves already refuse
    // duplicate qids; so must the coordinator and tenantLivePairs)
    intercept[IllegalArgumentException] {
      joint.probeHybridManyTenant(queries, qVecs,
        Seq((0L, "t0"), (0L, "t1"), (1L, "t1")), topN = 5)
    }
    intercept[IllegalArgumentException] {
      graft.ext.KeywordIndex.tenantLivePairs(spark,
        joint.keywordDir, Seq((0L, "t0"), (0L, "t1")))
    }
  }

  test("coordinator assignTenants: O(batch) overlay extension — " +
      "assigned docs join the tenant's serve surface; guards and " +
      "the lexical-family requirement hold") {
    import graft.ext.KeywordIndex
    val root = Files.createTempDirectory("graft_jat_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    joint.seed(docs.filter($"doc_id" < 200), embs)
    // partial registration: docs 150..200 stay untenanted
    joint.registerTenants(docs.filter($"doc_id" < 150)
      .select($"doc_id", concat(lit("t"), $"doc_id" % 3).as("tenant")))
    val before = KeywordIndex
      .tenantLiveIds(spark, joint.keywordDir, "t0").count()
    joint.assignTenants(docs
      .filter($"doc_id" >= 150 && $"doc_id" < 200)
      .select($"doc_id", lit("t0").as("tenant")))
    val t0 = ids(KeywordIndex
      .tenantLiveIds(spark, joint.keywordDir, "t0"), "id")
    assert(t0.count(_ >= 150L) == 50 &&
      t0.size == before + 50,
      "assigned docs must join the tenant's live slice")
    // the one-call tenant hybrid serves over the extended slice
    val qv = embs.filter($"doc_id" === 7L)
      .select($"doc_id".as("vec_id"), $"embedding")
    val surfaced = ids(joint.probeHybridTenant(Seq("data", "query"),
      qv, "t0", topN = 50).select("doc_id"))
    assert(surfaced.subsetOf(t0), "page must stay inside the tenant")
    // double assignment refuses; a bare coordinator refuses
    intercept[IllegalArgumentException] {
      joint.assignTenants(docs.filter($"doc_id" < 3)
        .select($"doc_id", lit("t1").as("tenant")))
    }
    val bare = new StreamingCorpusIngest(spark,
      Files.createTempDirectory("graft_jatoff_").toString)
    intercept[IllegalArgumentException] {
      bare.assignTenants(docs.limit(1)
        .select($"doc_id", lit("t0").as("tenant")))
    }
  }

  test("crash between the halves of a joint retract: text ledgered, " +
      "vectors still live — repairAlignment finishes the takedown") {
    val root = Files.createTempDirectory("graft_jcrash_").toString
    val joint = new StreamingCorpusIngest(spark, root)
    joint.seed(docs.filter($"doc_id" < 150), embs)

    // simulate the crash: only the text half runs
    joint.text.retract(Seq(7L, 8L).toDF("doc_id"))
    val aud = joint.alignment()
      .as[(String, Long)].collect().toSet
    assert(aud == Set(("vectors_only", 7L), ("vectors_only", 8L)),
      "audit must surface the half-applied takedown")

    joint.repairAlignment(embs)
    assert(joint.alignment().isEmpty)
    assert(!ids(joint.vectors.store(), "vec_id").contains(7L))
    // the vector-side ledger now holds the ids too: re-delivery of
    // the retracted vectors through the ANN stream stays out
    stage(embs.filter($"doc_id" < 10)
        .select($"doc_id".as("vec_id"), $"embedding"),
      s"$root/ann_staging", "redeliver")
    joint.vectors.ingestAvailable(s"$root/ann_staging", s"$root/ann_ckpt")
    assert(!ids(joint.vectors.store(), "vec_id").contains(7L),
      "re-delivered retracted vector must stay out (sticky ledger)")
    assert(joint.alignment().isEmpty)
  }

  test("joint lifecycle: 8 random drop/retract/readmit/crash-repair " +
      "interleavings hold the cross-family invariant") {
    // the joint-level analog of the per-family randomized mixes
    // (PropertySpec): every sequence drives a random op chain —
    // gated drops mixing unique docs with exact copies (copies
    // quarantine deterministically: token-disjoint fresh docs can
    // never near-dup), joint takedowns, readmits, and the
    // crash-window form (text-half retract, then the per-family
    // convergers finish the other halves) — then pins the full
    // serving matrix against a driver-side model: corpus ids,
    // vector-store ids, all THREE live index id sets (the
    // coordinator runs with the lexical family enabled), the
    // quarantine, AND the served BM25 page, all ≡ the model;
    // alignment() empty.
    val rnd = new scala.util.Random(41)
    def txt(id: Long): String =
      (0 until 6).map(j => s"tok${id}x$j").mkString(" ")
    val allIds = (0L until 400L)
    val embAll = allIds.map(i => (i,
        Array.tabulate(8)(d => (((i + 3) * (d + 7)) % 11).toFloat)))
      .toDF("doc_id", "embedding").localCheckpoint()
    var nQuar = 0; var nRetract = 0; var nReadmit = 0
    for (seqNo <- 1 to 8) {
      val root = Files.createTempDirectory(s"graft_jrand$seqNo").toString
      val joint = new StreamingCorpusIngest(spark, root,
        keywordServing = true)
      var cursor = 4L + seqNo * 40L
      var live = (seqNo * 40L until seqNo * 40L + 4L)
        .map(i => i -> txt(i)).toMap
      var quar = Map.empty[Long, String]
      var ledgered = Set.empty[Long]
      joint.seed(live.toSeq.toDF("doc_id", "text"), embAll)
      var drops = 0
      for (_ <- 1 to 5) rnd.nextInt(5) match {
        case 0 => // gated drop: fresh unique docs + copies of live
          val fresh = (cursor until cursor + 2 + rnd.nextInt(3))
            .map(i => i -> txt(i))
          cursor += fresh.size
          val copies = live.toSeq.sortBy(_._1)
            .filter(_ => rnd.nextInt(3) == 0).take(2)
            .map { case (_, t) => val id = cursor; cursor += 1; id -> t }
          drops += 1
          stage((fresh ++ copies).toDF("doc_id", "text"),
            s"$root/staging", s"d$drops")
          joint.ingestAvailable(s"$root/staging", s"$root/ckpt", embAll)
          live ++= fresh; quar ++= copies; nQuar += copies.size
        case 1 if live.size > 3 => // joint takedown
          val gone = live.keys.toSeq.sorted
            .filter(_ => rnd.nextInt(4) == 0).take(2)
          if (gone.nonEmpty) {
            joint.retract(gone.toDF("doc_id"))
            live --= gone; ledgered ++= gone; nRetract += gone.size
          }
        case 2 | 4 if quar.nonEmpty => // readmit a quarantined copy
          val (id, t) = quar.toSeq.minBy(_._1)
          joint.readmit(Seq(id).toDF("doc_id"), embAll)
          live += id -> t; quar -= id; nReadmit += 1
        case 3 if live.size > 3 => // crash window: text half only,
          // then the generic converger finishes the takedown
          val gone = live.keys.toSeq.sorted.take(1)
          joint.text.retract(gone.toDF("doc_id"))
          joint.repairAlignment(embAll)
          joint.repairKeywords()
          live --= gone; ledgered ++= gone; nRetract += gone.size
        case 4 => // quarantine empty: gratuitous repair, a no-op
          joint.repairAlignment(embAll)
        case _ => ()
      }
      // deterministic coverage: if the deal left anything in
      // quarantine, close the sequence with a readmit — the op most
      // sensitive to everything that ran before it (original-batch
      // re-entry below the sync mark, repair-path vector admission)
      if (quar.nonEmpty) {
        val (id, t) = quar.toSeq.minBy(_._1)
        joint.readmit(Seq(id).toDF("doc_id"), embAll)
        live += id -> t; quar -= id; nReadmit += 1
      }
      assert(joint.alignment().isEmpty,
        s"sequence $seqNo: families misaligned")
      assert(ids(joint.text.corpus()) == live.keySet,
        s"sequence $seqNo: corpus != model")
      assert(ids(joint.vectors.store(), "vec_id") == live.keySet,
        s"sequence $seqNo: vector store != model")
      assert(ids(AnnIndex.liveIndexedIds(spark, s"$root/ann_index"),
        "id") == live.keySet,
        s"sequence $seqNo: live ANN index != model")
      assert(ids(DedupIndex.liveIndexedIds(spark, s"$root/dedup_index"),
        "id") == live.keySet,
        s"sequence $seqNo: live dedup index != model")
      assert(ids(graft.ext.KeywordIndex.liveIndexedIds(spark,
        joint.keywordDir), "id") == live.keySet,
        s"sequence $seqNo: live keyword index != model")
      // the served BM25 page over a live doc's (unique) token must
      // equal the in-query scorer over the surviving corpus — the
      // statistics (df/N/sum dl) have to reflect every op above
      val qt = Seq(s"tok${live.keySet.min}x0")
      assert(joint.probeKeywords(qt, 5, zeroFill = true)
        .collect().toSeq ==
        graft.ext.Relevance.bm25TopDocs(
          joint.text.corpus().localCheckpoint(), qt, 5)
          .collect().toSeq,
        s"sequence $seqNo: served keyword page != in-query scorer")
      val quarIds =
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$root/quarantine")))
          ids(spark.read.parquet(s"$root/quarantine").select("doc_id"))
        else Set.empty[Long]
      assert(quarIds == quar.keySet,
        s"sequence $seqNo: quarantine != model")
    }
    assert(nQuar >= 4 && nRetract >= 4 && nReadmit >= 2,
      s"weak seed: quar=$nQuar retract=$nRetract readmit=$nReadmit")
  }

  test("joint retract and readmit job budget (keyword serving): at " +
      "most 50 and 62 Spark jobs") {
    // one document each; observed 41 and 55 jobs (111 and 82 before
    // each request's ids were resolved once on the driver)
    val root = Files.createTempDirectory("graft_jbudget_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    val e = embsWithCopies
    joint.seed(docs.filter($"doc_id" < 200), e)
    stage(docs.filter($"doc_id" < 10)
        .select(($"doc_id" + 20000L).as("doc_id"), $"text"),
      s"$root/staging", "copies")
    joint.ingestAvailable(s"$root/staging", s"$root/ckpt", e)
    val retract = traced(joint.retract(Seq(5L).toDF("doc_id")))
    val readmit = traced(joint.readmit(Seq(20003L).toDF("doc_id"), e))
    info(s"retract ${retract.jobs} jobs: ${retract.bySite}")
    info(s"readmit ${readmit.jobs} jobs: ${readmit.bySite}")
    assert(!ids(joint.text.corpus()).contains(5L))
    assert(ids(joint.text.corpus()).contains(20003L))
    assert(joint.alignment().isEmpty)
    assert(retract.jobs <= 50, retract.bySite)
    assert(readmit.jobs <= 62, readmit.bySite)
  }

  test("serve job budget: a dense probe at most 7 Spark jobs, a dense " +
      "tenant probe 8, a filtered hybrid 11 — no schema inference") {
    // observed 13, 14 and 23 before the declared-schema asset reads,
    // the one-row-per-query LUT projection and the once-held grant
    val root = Files.createTempDirectory("graft_sbudget_").toString
    val joint = new StreamingCorpusIngest(spark, root,
      keywordServing = true)
    joint.seed(docs.filter($"doc_id" < 200), embs)
    val annDir = s"$root/ann_index"
    AnnIndex.registerTenants(spark, annDir,
      docs.filter($"doc_id" < 200).select($"doc_id".as("vec_id"),
        concat(lit("t"), ($"doc_id" % 3).cast("string")).as("tenant")))
    val qv = embs.filter($"doc_id" === 7L)
      .select($"doc_id".as("vec_id"), $"embedding").localCheckpoint()
    val allowed = (0L until 200L by 2L).toDF("doc_id")
    val budgets = Seq(
      ("AnnIndex.probeTopK", 7,
        () => AnnIndex.probeTopK(spark, annDir, qv, k = 20)),
      ("AnnIndex.probeTopKTenant", 8,
        () => AnnIndex.probeTopKTenant(spark, annDir, qv, 20, "t0")),
      ("probeHybridFiltered", 11,
        () => joint.probeHybridFiltered(Seq("data", "query"), qv,
          allowed, 10)))
    budgets.foreach { case (what, budget, page) =>
      val t = traced(page().collect())
      info(s"$what ${t.jobs} jobs: ${t.bySite}")
      assert(t.result.nonEmpty, s"$what served an empty page")
      assert(t.jobs <= budget, s"$what: ${t.bySite}")
      assert(!t.sites.exists(_.startsWith("parquet at")),
        s"$what infers an asset schema: ${t.bySite}")
    }
  }

  test("joint retract and readmit: literal ids ≡ the over-cap frame form") {
    val e = embsWithCopies
    def setUp(name: String): (String, StreamingCorpusIngest) = {
      val root = Files.createTempDirectory(name).toString
      val joint = new StreamingCorpusIngest(spark, root,
        keywordServing = true)
      joint.seed(docs.filter($"doc_id" < 150), e)
      stage(docs.filter($"doc_id" < 10)
          .select(($"doc_id" + 20000L).as("doc_id"), $"text"),
        s"$root/staging", "copies")
      joint.ingestAvailable(s"$root/staging", s"$root/ckpt", e)
      joint.registerTenants(docs.filter($"doc_id" < 150).select($"doc_id",
        concat(lit("t"), ($"doc_id" % 3).cast("string")).as("tenant")))
      (root, joint)
    }
    // 99999 was never ingested (ledger-only); the replay is a no-op
    val gone = Seq(5L, 120L, 99999L).toDF("doc_id")
    val back = Seq(20003L, 20007L).toDF("doc_id")
    val runs = Seq(StoredIndex.HeldIdCap, 0).map { cap =>
      val (root, joint) = setUp(s"graft_jeq${cap}_")
      joint.retractHeld(StoredIndex.holdIds(gone, "doc_id", cap))
      joint.retractHeld(StoredIndex.holdIds(gone, "doc_id", cap))
      joint.readmitHeld(StoredIndex.holdIds(back, "doc_id", cap), e)
      assert(joint.alignment().isEmpty, s"cap $cap: families misaligned")
      root
    }
    def same(what: String)(read: String => DataFrame): Unit = {
      val Seq(a, b) = runs.map(read)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$what differs between the literal and the frame form")
    }
    Seq("corpus", "quarantine", "vectors").foreach(st =>
      same(st)(r => spark.read.parquet(s"$r/$st")))
    Seq("corpus_retracted", "vectors_retracted").foreach(l =>
      same(l)(r => spark.read.parquet(s"$r/$l")))
    Seq("dedup_index", "ann_index", "keyword_index").foreach(ix =>
      same(s"$ix meta")(r => spark.read.parquet(s"$r/$ix/meta")))
    same("tenant gauges")(r =>
      spark.read.parquet(s"$r/keyword_index/tstats"))
    assert(ids(spark.read.parquet(s"${runs.head}/corpus_retracted")) ==
      Set(5L, 120L, 99999L))
    val corpus = ids(spark.read.parquet(s"${runs.head}/corpus"))
    assert(corpus.contains(20003L) && !corpus.contains(5L))
  }

  test("missed sync converges through repairAlignment; absent " +
      "embedding rows fail loudly") {
    val root = Files.createTempDirectory("graft_jrepair_").toString
    val joint = new StreamingCorpusIngest(spark, root)
    // build text-side state behind the coordinator's back (a missed
    // sync): seed through the text half directly
    joint.text.seed(docs.filter($"doc_id" < 120))
    assert(ids(joint.alignment().filter($"side" === "corpus_only"))
      == ids(docs.filter($"doc_id" < 120)))

    // loud on a gap in the embeddings relation
    val holey = embs.filter($"doc_id" =!= 5L)
    val ex = intercept[IllegalArgumentException] {
      joint.repairAlignment(holey)
    }
    assert(ex.getMessage.contains("no embedding row"))

    joint.repairAlignment(embs)
    assert(joint.alignment().isEmpty)
    assert(ids(joint.vectors.store(), "vec_id") ==
      ids(joint.text.corpus()))
    // repair is idempotent
    joint.repairAlignment(embs)
    assert(joint.alignment().isEmpty)
  }
}
