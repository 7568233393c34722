package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Behavioral tests for the extension operators that have no SQL
  * oracle (hash families, IVF, codec stub): plant known near-dups /
  * neighbors and check they're found. */
class ExtSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    // near-dup of 0: one word changed
    (1L, "the quick brown fox jumps over the lazy cat near the old river bank today"),
    (2L, "completely different text about spark catalyst optimizer rules and physical plans"),
    // exact dup of 2 up to case/whitespace
    (3L, "Completely  DIFFERENT text about spark catalyst optimizer rules and physical plans"),
    (4L, "unrelated short document")
  ).toDF("doc_id", "text").withColumn("lang", lit("en"))

  test("fingerprint dedup collapses case/whitespace variants") {
    val out = Dedup.exactByFingerprint(docs)
    assert(out.count() == 4)
    assert(out.filter($"doc_id" === 3L).count() == 0) // 2 survives, 3 dropped
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 4L)))
  }

  test("minhash maxBucket drops degenerate buckets, other bands recover") {
    // 30 identical docs: every band hashes all 30 ids into ONE bucket.
    // With maxBucket below the bucket size every bucket is dropped and
    // no pairs survive; with the default cap all C(30,2) pairs emerge.
    val boiler = (0L until 30L).map(i =>
      (i, "identical boilerplate text repeated across the whole corpus"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashNearDups(boiler, threshold = 0.4, maxBucket = 5)
      .count() == 0)
    assert(Dedup.minhashNearDups(boiler, threshold = 0.4)
      .count() == 30 * 29 / 2)
  }

  test("shingleJaccardFor matches minhash's reported jaccard") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.4)
    val rec = Dedup.shingleJaccardFor(pairs, docs)
      .join(pairs, Seq("id_a", "id_b"))
    assert(rec.count() > 0)
    assert(rec.filter($"jaccard_exact" =!= $"jaccard").count() == 0)
  }

  test("simhash blocks find low-hamming pairs") {
    // simhash needs long docs for stable bits: 60 tokens, one changed.
    // One word in 60 flips only the bits whose vote margin is ~0, so
    // the planted pair lands well inside hamming distance 7.
    val words = (0 until 60).map(i => s"w${i * 31 % 97}")
    val longDocs = Seq(
      (0L, words.mkString(" ")),
      (1L, words.updated(30, "changed").mkString(" ")),
      (2L, (0 until 60).map(i => s"z${i * 17 % 89}").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(longDocs, maxDist = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("ngram jaccard scores the near-dup pair high") {
    val out = Dedup.ngramJaccardPairs(docs, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    val p01 = out.find(r => r._1 == 0L && r._2 == 1L)
    assert(p01.isDefined && p01.get._3 > 0.5)
  }

  test("duplicateSpans finds verbatim passages with exact token lengths") {
    // a 20-token verbatim passage inside otherwise-unrelated docs:
    // span boundaries are exact because the surrounding tokens are
    // unique per doc, so no straddling n-gram matches
    val span = (0 until 20).map(i => s"shared$i").mkString(" ")
    val eight = (0 until 8).map(i => s"shared$i").mkString(" ")
    def uniq(p: String, k: Int) = (0 until k).map(i => s"$p$i").mkString(" ")
    val spanDocs = Seq(
      (0L, s"${uniq("a", 10)} $span ${uniq("b", 10)}"),
      (1L, s"${uniq("c", 12)} $span ${uniq("d", 8)}"),
      // contains the passage TWICE → two diagonals → two spans vs doc 0
      (2L, s"$span ${uniq("e", 6)} $span"),
      // only 8 shared tokens — below minSpan=10, must not pair
      (3L, s"${uniq("f", 15)} $eight ${uniq("g", 15)}")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = Dedup.duplicateSpans(spanDocs, minSpan = 10, n = 5)
      .as[(Long, Long, Long, Long)].collect()
    val byPair = out.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(byPair((0L, 1L)) == (1L, 20L), byPair.toString) // one 20-token span
    assert(byPair((0L, 2L)) == (2L, 20L)) // both occurrences counted
    assert(!byPair.contains((0L, 3L)) && !byPair.contains((1L, 3L)))
    // jaccard blindness check: the signal d4 can't see — doc 0 vs 1
    // share 16/64 distinct shingles (~0.25), below d4's 0.4 gate
    assert(Dedup.ngramJaccardPairs(spanDocs, threshold = 0.4)
      .filter($"id_a" === 0L && $"id_b" === 1L).count() == 0)
    // maxDf: the passage lives in 3 docs; capping df at 2 drops every
    // span gram, so no pairs survive — the boilerplate dial
    assert(Dedup.duplicateSpans(spanDocs, minSpan = 10, n = 5, maxDf = 2)
      .count() == 0)
  }

  test("scrubDuplicateSpans cuts exactly the shared passage from " +
      "every carrier; short overlaps and clean docs pass through") {
    // the d12 fixture's semantics, applied as a REWRITE: the
    // 20-token passage must leave docs 0, 1 and 2 (both occurrences
    // in 2); the 8-token overlap is below minSpan and stays; doc 3
    // passes through untouched (n_scrubbed = 0)
    val span = (0 until 20).map(i => s"shared$i").mkString(" ")
    val eight = (0 until 8).map(i => s"shared$i").mkString(" ")
    def uniq(p: String, k: Int) = (0 until k).map(i => s"$p$i").mkString(" ")
    val spanDocs = Seq(
      (0L, s"${uniq("a", 10)} $span ${uniq("b", 10)}"),
      (1L, s"${uniq("c", 12)} $span ${uniq("d", 8)}"),
      (2L, s"$span ${uniq("e", 6)} $span"),
      (3L, s"${uniq("f", 15)} $eight ${uniq("g", 15)}")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = Dedup.scrubDuplicateSpans(spanDocs, minSpan = 10, n = 5)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(0L) == (s"${uniq("a", 10)} ${uniq("b", 10)}", 20L))
    assert(out(1L) == (s"${uniq("c", 12)} ${uniq("d", 8)}", 20L))
    assert(out(2L) == (uniq("e", 6), 40L),
      "both occurrences in doc 2 must scrub")
    assert(out(3L) ==
      (s"${uniq("f", 15)} $eight ${uniq("g", 15)}", 0L),
      "sub-minSpan overlap must survive, text pass-through")
    // overlapping spans merge: docs sharing a longer passage that
    // CONTAINS a shorter one shared with a third doc — the merged
    // interval scrubs once, never double-counts
    val long = (0 until 30).map(i => s"p$i").mkString(" ")
    val mid = (5 until 25).map(i => s"p$i").mkString(" ")
    val ov = Seq(
      (10L, s"${uniq("h", 6)} $long ${uniq("i", 6)}"),
      (11L, s"${uniq("j", 6)} $long ${uniq("k", 6)}"),
      (12L, s"${uniq("l", 9)} $mid ${uniq("m", 9)}")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val ovOut = Dedup.scrubDuplicateSpans(ov, minSpan = 10, n = 5)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(ovOut(10L) == (s"${uniq("h", 6)} ${uniq("i", 6)}", 30L),
      "nested/overlapping intervals must merge before the cut")
    assert(ovOut(12L) == (s"${uniq("l", 9)} ${uniq("m", 9)}", 20L))
  }

  test("kmeans-refined IVF clears 0.8 recall and beats stride seeds") {
    // bench config (stride=20, nprobe=12) on the sf0.001 fixture:
    // measured stride recall 0.79, kmeans(2) 0.90 — assert the refined
    // path ≥ 0.8 and ≥ the stride path, with slack for FP-order drift
    // in the kmeans means (recall is a count, drift moves it ±1 match)
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = embs.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(embs, q, 5)
      .select("qid", "nid").localCheckpoint()
    val nExact = exact.count().toDouble
    def recall(iters: Int): Double = {
      val approx = Similarity.ivfTopK(embs, q, 5, nprobe = 12,
        kmeansIters = iters).select("qid", "nid")
      exact.join(approx, Seq("qid", "nid")).count() / nExact
    }
    val stride = recall(0)
    val kmeans = recall(2)
    assert(kmeans >= 0.8, s"kmeans recall $kmeans")
    assert(kmeans >= stride - 0.02, s"kmeans $kmeans < stride $stride")
  }

  test("AnnIndex: build/ensure lifecycle, versioned serve path, probe parity") {
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annix_").toString + "/ix"

    // content posture (version=None): builds when missing, is a no-op
    // when the corpus fingerprint matches, rebuilds when it doesn't
    assert(graft.ext.AnnIndex.ensure(embs, dir))
    assert(!graft.ext.AnnIndex.ensure(embs, dir))
    val shrunk = embs.filter($"vec_id" < 100).localCheckpoint()
    assert(graft.ext.AnnIndex.ensure(shrunk, dir))

    // versioned posture: validation reads ONLY the 1-row meta — prove
    // it by handing ensure a DIFFERENT corpus under the same version
    // string (a fingerprint check would rebuild; the version check
    // must not)
    val vdir = dir + "_v"
    assert(graft.ext.AnnIndex.ensure(embs, vdir, version = Some("v1")))
    assert(!graft.ext.AnnIndex.ensure(shrunk, vdir, version = Some("v1")))
    // a new version string is a new corpus: rebuild
    assert(graft.ext.AnnIndex.ensure(shrunk, vdir, version = Some("v2")))

    // the stored probe serves the same neighbors as the in-query
    // IVFADC chain it persists (same deterministic arithmetic)
    val q = embs.filter($"vec_id" < 5)
    assert(graft.ext.AnnIndex.ensure(embs, dir))
    val stored = graft.ext.AnnIndex.probeTopK(spark, dir, q, k = 3)
      .select("qid", "nid", "rank").collect().toSet
    val inQuery = Similarity.ivfPqTopK(embs, q, k = 3)
      .select("qid", "nid", "rank").collect().toSet
    assert(stored == inQuery)
  }

  test("AnnIndex.append: O(batch) meta stays content-valid; dup ids throw") {
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annap_").toString + "/ix"
    val even = embs.filter($"vec_id" % 2 === 0)
    val odd = embs.filter($"vec_id" % 2 =!= 0)
    graft.ext.AnnIndex.build(even, dir, version = Some("v1"))

    // the postings must grow by exactly the batch, and the XOR-fold
    // meta update must make a content ensure() over the UNION corpus
    // a no-op — no full-corpus scan happened at append time, yet the
    // fingerprint algebra (xor of per-row hashes) makes the
    // incrementally-maintained meta indistinguishable from a rebuild
    val before = spark.read.parquet(s"$dir/postings").count()
    graft.ext.AnnIndex.append(odd, dir)
    val after = spark.read.parquet(s"$dir/postings").count()
    assert(after - before == odd.count())
    assert(!graft.ext.AnnIndex.ensure(embs, dir),
      "content ensure() rebuilt an index whose meta was appended")
    // the version survives the append untouched
    assert(!graft.ext.AnnIndex.ensure(embs, dir, version = Some("v1")))

    // re-appending ids already in the index would double postings AND
    // cancel fingerprint terms — the guard must refuse
    val ex = intercept[IllegalArgumentException] {
      graft.ext.AnnIndex.append(odd.limit(3), dir)
    }
    assert(ex.getMessage.contains("re-uses"))

    // an empty batch must refuse BEFORE touching the commit marker
    // (its identity aggregates are NULL and there is nothing to do)
    val exEmpty = intercept[IllegalArgumentException] {
      graft.ext.AnnIndex.append(embs.filter($"vec_id" < 0), dir)
    }
    assert(exEmpty.getMessage.contains("empty"))
    assert(!graft.ext.AnnIndex.ensure(embs, dir),
      "failed empty append must leave the index valid")

    // compaction: same content in fewer, cid-clustered files — probe
    // results identical, content ensure() still a no-op
    def partFiles() = new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val q = embs.filter($"vec_id" < 5)
    val preProbe = graft.ext.AnnIndex.probeTopK(spark, dir, q, k = 3)
      .collect().toSet
    val preFiles = partFiles()
    graft.ext.AnnIndex.compact(spark, dir)
    assert(partFiles() < preFiles,
      s"compact did not reduce files: $preFiles -> ${partFiles()}")
    assert(graft.ext.AnnIndex.probeTopK(spark, dir, q, k = 3)
      .collect().toSet == preProbe)
    assert(!graft.ext.AnnIndex.ensure(embs, dir))
  }

  test("AnnIndex shard merge: shardFrom+merge equals build+append; " +
      "mismatched assets, overlap, self-merge rejected") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(p).toString + "/ix"
    val lower = embs.filter($"vec_id" < 300)
    val upper = embs.filter($"vec_id" >= 300)
    val (trainer, shard, merged, twin) =
      (tmp("x15T"), tmp("x15S"), tmp("x15M"), tmp("x15W"))
    AnnIndex.build(lower, trainer)
    AnnIndex.shardFrom(trainer, upper, shard)
    AnnIndex.merge(spark, Seq(trainer, shard), merged)
    AnnIndex.build(lower, twin)
    AnnIndex.append(upper, twin)
    val q = embs.filter($"vec_id" < 5)
    def top(ix: String) =
      AnnIndex.probeTopK(spark, ix, q, k = 3).collect().toSet
    assert(top(merged) == top(twin),
      "shard-merged probe must equal the build+append chain")
    assert(!AnnIndex.ensure(embs, merged),
      "merged index must be content-fresh over the union corpus")
    // the merged bloom covers every shard id: appends stay guarded
    intercept[IllegalArgumentException] {
      AnnIndex.append(upper.limit(3), merged)
    }
    // a pending tombstone in a shard rides the merge
    val gone = upper.filter($"vec_id" % 5 === 4).localCheckpoint()
    AnnIndex.remove(gone, shard)
    val merged2 = tmp("x15M2")
    AnnIndex.merge(spark, Seq(trainer, shard), merged2)
    AnnIndex.remove(gone, twin)
    assert(top(merged2) == top(twin),
      "shard tombstones must filter the merged probe")
    val live = embs.join(gone.select("vec_id"), Seq("vec_id"),
      "left_anti")
    assert(!AnnIndex.ensure(live, merged2),
      "merged index must be content-fresh over the LIVE union")
    // an independently TRAINED shard has different assets: refuse —
    // its codes would score against the wrong reconstruction table
    val indep = tmp("x15I")
    AnnIndex.build(upper, indep)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.merge(spark, Seq(trainer, indep), tmp("x15X"))
    }
    assert(ex.getMessage.contains("quantization assets"))
    // raw-id overlap (same shard twice) and self-merge refuse
    intercept[IllegalArgumentException] {
      AnnIndex.merge(spark, Seq(shard, shard), tmp("x15X2"))
    }
    intercept[IllegalArgumentException] {
      AnnIndex.merge(spark, Seq(trainer, shard), shard)
    }
  }

  test("AnnIndex tenant overlay: registered serve equals filtered, " +
      "both cap regimes; lifecycle drops/carries; guards refuse") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("x21ix").toString + "/ix"
    AnnIndex.build(embs, dir)
    val assign = embs.select($"vec_id",
      concat(lit("t"), ($"vec_id" % 3).cast("string")).as("tenant"))
    AnnIndex.registerTenants(spark, dir, assign)
    val q = embs.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid", "score").collect().toSet

    // registered serve == filtered serve handed the same grant, on
    // BOTH sides of the pushdown cap (literal IN vs semi-join)
    val viaOverlay = rows(
      AnnIndex.probeTopKTenant(spark, dir, q, k = 3, tenant = "t1"))
    assert(viaOverlay == rows(AnnIndex.probeTopKFiltered(spark, dir,
      q, embs.filter($"vec_id" % 3 === 1).select("vec_id"), k = 3)))
    assert(viaOverlay == rows(AnnIndex.probeTopKTenant(spark, dir, q,
      k = 3, tenant = "t1", pushdownCap = 1)),
      "above-cap semi-join fallback must serve the literal page")
    // an unknown tenant's slice is empty: empty page, not an error
    assert(AnnIndex.probeTopKTenant(spark, dir, q, k = 3,
      tenant = "nope").isEmpty)

    // retraction: tombstoned ids leave every tenant serve without
    // any overlay write; compact materializes and keeps the page
    AnnIndex.remove(embs.filter($"vec_id" % 5 === 4), dir)
    val liveGrant = embs
      .filter($"vec_id" % 3 === 1 && $"vec_id" % 5 =!= 4)
    val livePage = rows(
      AnnIndex.probeTopKTenant(spark, dir, q, k = 3, tenant = "t1"))
    assert(livePage == rows(AnnIndex.probeTopKFiltered(spark, dir, q,
      liveGrant.select("vec_id"), k = 3)))
    AnnIndex.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/tenants").count() ==
      embs.filter($"vec_id" % 5 =!= 4).count(),
      "compact must materialize tombstones out of the overlay")
    assert(livePage == rows(
      AnnIndex.probeTopKTenant(spark, dir, q, k = 3, tenant = "t1")))

    // batched serve: each (qid, tenant) page equals its single-query
    // twin's, relabeled (q filtered to the one qid)
    val many = AnnIndex.probeManyTenant(spark, dir,
      embs.filter($"vec_id".isin(7L, 11L)),
      Seq((7L, "t1"), (11L, "t2")), k = 3)
    assert(rows(many.filter($"qid" === 7)) ==
      rows(AnnIndex.probeTopKTenant(spark, dir,
        embs.filter($"vec_id" === 7), k = 3, tenant = "t1")))
    assert(rows(many.filter($"qid" === 11)) ==
      rows(AnnIndex.probeTopKTenant(spark, dir,
        embs.filter($"vec_id" === 11), k = 3, tenant = "t2")))

    // staged rebuild CARRIES the overlay: retrained assets, same
    // grants — the tenant serve equals a filtered serve over the
    // rebuilt index, with no re-registration
    val live = embs.filter($"vec_id" % 5 =!= 4).localCheckpoint()
    AnnIndex.rebuildStaged(live, dir)
    assert(rows(AnnIndex.probeTopKTenant(spark, dir, q, k = 3,
      tenant = "t1")) == rows(AnnIndex.probeTopKFiltered(spark, dir,
      q, liveGrant.select("vec_id"), k = 3)),
      "staged rebuild must carry the tenant overlay")

    // guards: double assignment and non-live ids refuse; appending
    // NEW vectors then assigning them extends the overlay O(batch)
    intercept[IllegalArgumentException] {
      AnnIndex.assignTenants(spark, dir,
        live.limit(3).select($"vec_id", lit("t9").as("tenant")))
    }
    intercept[IllegalArgumentException] {
      AnnIndex.registerTenants(spark, dir,
        spark.range(1).select((lit(-1L)).as("vec_id"),
          lit("t0").as("tenant")))
    }
    val maxId = embs.agg(max($"vec_id")).head.getLong(0)
    val fresh = embs.filter($"vec_id" % 5 === 4)
      .withColumn("vec_id", $"vec_id" + maxId + 1).localCheckpoint()
    AnnIndex.append(fresh, dir)
    AnnIndex.assignTenants(spark, dir,
      fresh.select($"vec_id", lit("t1").as("tenant")))
    assert(AnnIndex.tenantLiveIds(spark, dir, "t1").count() ==
      liveGrant.count() + fresh.count())

    // an in-place build() drops the overlay (assignments name the
    // previous generation's ids): the tenant serve fails LOUDLY
    AnnIndex.build(embs, dir)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.probeTopKTenant(spark, dir, q, k = 3, tenant = "t1")
    }
    assert(ex.getMessage.contains("registerTenants first"))
  }

  test("AnnIndex unassign/reassign: O(batch) ACL moves via overlay " +
      "tombstones — move, bounce-resurrect, drop, rejoin, compact; " +
      "range × tenant serve; guards refuse loudly") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("x24ix").toString + "/ix"
    AnnIndex.build(embs, dir)
    AnnIndex.registerTenants(spark, dir,
      embs.select($"vec_id",
        concat(lit("t"), ($"vec_id" % 3).cast("string")).as("tenant")))
    val q = embs.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid", "score").collect().toSet
    def ten(pred: org.apache.spark.sql.Column, tn: String) =
      embs.filter(pred).select($"vec_id", lit(tn).as("tenant"))
    // move %12=0 t0→t1 (kept), bounce %12=3 t0→t1→t0 (the reassign-
    // side resurrection), drop %12=6 (unassigned), rejoin %12=9
    // (unassigned, then re-assigned t0 — the assign-side resurrect)
    AnnIndex.reassignTenants(spark, dir,
      ten($"vec_id" % 12 === 0 || $"vec_id" % 12 === 3, "t1"))
    AnnIndex.reassignTenants(spark, dir, ten($"vec_id" % 12 === 3, "t0"))
    AnnIndex.unassignTenants(spark, dir,
      embs.filter($"vec_id" % 12 === 6 || $"vec_id" % 12 === 9)
        .select("vec_id"))
    AnnIndex.assignTenants(spark, dir, ten($"vec_id" % 12 === 9, "t0"))
    val t0Grant = embs.filter($"vec_id" % 3 === 0 &&
      $"vec_id" % 12 =!= 0 && $"vec_id" % 12 =!= 6).select("vec_id")
    val t1Grant = embs.filter($"vec_id" % 3 === 1 ||
      $"vec_id" % 12 === 0).select("vec_id")
    def check(tag: String): Unit = {
      assert(rows(AnnIndex.probeTopKTenant(spark, dir, q, k = 3,
        tenant = "t0")) == rows(AnnIndex.probeTopKFiltered(spark, dir,
        q, t0Grant, k = 3)), s"$tag: t0 page != filtered twin")
      assert(rows(AnnIndex.probeTopKTenant(spark, dir, q, k = 3,
        tenant = "t1")) == rows(AnnIndex.probeTopKFiltered(spark, dir,
        q, t1Grant, k = 3)), s"$tag: t1 page != filtered twin")
      // the overlay truth: no duplicate live rows, sets exact
      assert(AnnIndex.tenantLiveIds(spark, dir, "t0")
        .as[Long].collect().sorted.toSeq ==
        t0Grant.as[Long].collect().sorted.toSeq,
        s"$tag: t0 live ids drifted (duplicate or lost rows)")
    }
    check("pre-compact")
    // the tenant range serve composes the same grant with the
    // threshold chain: ≡ probeRange over a tdels-aware posting view
    val rt = AnnIndex.probeRangeTenant(spark, dir, q, threshold = 0.3,
      tenant = "t0").as[(Long, Long, Double)].collect().toSet
    val deep = AnnIndex.probeTopKTenant(spark, dir, q,
        k = Int.MaxValue, tenant = "t0")
      .filter($"score" >= 0.3).select("qid", "nid", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(rt == deep, "range × tenant != thresholded deep top-k")
    AnnIndex.compact(spark, dir)
    assert(!new org.apache.hadoop.fs.Path(s"$dir/tdels")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$dir/tdels")),
      "compact must materialize and drop the spent tombstone list")
    check("post-compact")
    // guards: not-assigned, same-tenant move, empty unassign
    intercept[IllegalArgumentException] {
      AnnIndex.unassignTenants(spark, dir,
        embs.filter($"vec_id" % 12 === 6).select("vec_id"))
    }
    intercept[IllegalArgumentException] {
      AnnIndex.reassignTenants(spark, dir,
        ten($"vec_id" % 12 === 6, "t2"))
    }
    intercept[IllegalArgumentException] {
      AnnIndex.reassignTenants(spark, dir, ten($"vec_id" === 1, "t1"))
    }
    intercept[IllegalArgumentException] {
      AnnIndex.unassignTenants(spark, dir,
        spark.range(0).select($"id".as("vec_id")))
    }
  }

  test("AnnIndex probeRange: threshold serve equals filtered deep " +
      "top-k; tombstones and the gate contract hold") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("x17ix").toString + "/ix"
    AnnIndex.build(embs, dir)
    val q = embs.filter($"vec_id" < 10)
    val t = 0.3
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "score")
        .as[(Long, Long, Double)].collect().toSet
    val range = triples(AnnIndex.probeRange(spark, dir, q, t))
    assert(range.nonEmpty, "fixture must produce above-bar matches")
    // range = the unranked deep top-k filtered at the same bar
    val deep = triples(AnnIndex.probeTopK(spark, dir, q,
      k = Int.MaxValue).filter($"score" >= t))
    assert(range == deep,
      "range serve must equal threshold-filtered unbounded top-k")
    // the gate is per-qid argmax of the range result: at most one
    // row per qid, and exactly the max-score row (ties to lower nid)
    val gate = triples(AnnIndex.semanticGate(spark, dir, q, t))
    val best = range.groupBy(_._1).map { case (_, rs) =>
      rs.minBy(r => (-r._3, r._2))
    }.toSet
    assert(gate == best, "gate must be the per-query argmax above bar")
    // retraction filters the range serve
    val goneIds = range.map(_._2).take(2)
    AnnIndex.remove(embs.filter($"vec_id".isInCollection(goneIds)), dir)
    val after = triples(AnnIndex.probeRange(spark, dir, q, t))
    assert(after.forall(r => !goneIds.contains(r._2)),
      "tombstoned ids must leave the range result")
    assert(after == range.filter(r => !goneIds.contains(r._2)),
      "retraction must remove exactly the tombstoned candidates")
  }

  test("AnnIndex absorb: in-place shard ingest equals build+append; " +
      "mismatched assets and double-absorb rejected") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(p).toString + "/ix"
    val lower = embs.filter($"vec_id" < 300)
    val upper = embs.filter($"vec_id" >= 300)
    val (target, shard, twin) = (tmp("x16T"), tmp("x16S"), tmp("x16W"))
    AnnIndex.build(lower, target)
    AnnIndex.shardFrom(target, upper, shard)
    AnnIndex.absorb(spark, shard, target)
    AnnIndex.build(lower, twin)
    AnnIndex.append(upper, twin)
    val q = embs.filter($"vec_id" < 5)
    def top(ix: String) =
      AnnIndex.probeTopK(spark, ix, q, k = 3).collect().toSet
    assert(top(target) == top(twin),
      "absorbed probe must equal the build+append chain")
    assert(!AnnIndex.ensure(embs, target),
      "absorbed index must be content-fresh over the union corpus")
    // double-absorb of the same shard: raw-id overlap refuses
    intercept[IllegalArgumentException] {
      AnnIndex.absorb(spark, shard, target)
    }
    // a shard trained independently (different assets) refuses
    val indep = tmp("x16I")
    AnnIndex.build(upper, indep)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.absorb(spark, indep, target)
    }
    assert(ex.getMessage.contains("quantization assets"))
    assert(!AnnIndex.ensure(embs, target),
      "failed absorbs must leave the target committed and fresh")
  }

  test("AnnIndex tenant overlay rides merge and absorb: the live " +
      "grant is the shards' union, pending unassigns stay applied") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(p).toString + "/ix"
    def ten(df: org.apache.spark.sql.DataFrame) = df.select($"vec_id",
      concat(lit("t"), ($"vec_id" % 3).cast("string")).as("tenant"))
    val lower = embs.filter($"vec_id" < 300)
    val upper = embs.filter($"vec_id" >= 300)
    val (target, shard, merged) = (tmp("x21T"), tmp("x21S"), tmp("x21M"))
    AnnIndex.build(lower, target)
    AnnIndex.shardFrom(target, upper, shard)
    AnnIndex.registerTenants(spark, target, ten(lower))
    // the shard: partial coverage plus one pending unassign (t1 ids)
    AnnIndex.registerTenants(spark, shard,
      ten(upper.filter($"vec_id" % 2 === 0)))
    AnnIndex.unassignTenants(spark, shard,
      upper.filter($"vec_id" % 12 === 4).select("vec_id"))
    def grant(dir: String) =
      AnnIndex.tenantLiveIds(spark, dir, "t1").as[Long].collect().toSeq
    val want = (grant(target) ++ grant(shard)).sorted
    val q = embs.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid", "score").collect().toSet
    def check(dir: String, tag: String): Unit = {
      assert(grant(dir).sorted == want,
        s"$tag: live grant != the union of the shards' live grants")
      assert(rows(AnnIndex.probeTopKTenant(spark, dir, q, k = 3,
        tenant = "t1")) == rows(AnnIndex.probeTopKFiltered(spark, dir, q,
        want.toDF("vec_id"), k = 3)), s"$tag: tenant page != filtered twin")
    }
    AnnIndex.merge(spark, Seq(target, shard), merged)
    check(merged, "merge")
    AnnIndex.absorb(spark, shard, target)
    check(target, "absorb")
  }

  test("multi-probe IVF assignment contains single-probe; pairs are a superset") {
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val cents = Similarity.centroids(embs, stride = 20)
    val single = Similarity.ivfAssign(embs, cents).select("nid", "cid")
    // nprobe=1 reproduces ivfAssign bit-exactly (same comparator)
    val head1 = Similarity.ivfAssignMulti(embs, cents, 1).select("nid", "cid")
    assert(single.except(head1).count() == 0 && head1.except(single).count() == 0)
    // every single-probe assignment appears in the nprobe=2 probe set,
    // and each vector probes at most 2 buckets
    val multi2 = Similarity.ivfAssignMulti(embs, cents, 2)
    assert(single.except(multi2.select("nid", "cid")).count() == 0)
    assert(multi2.groupBy("nid").count().filter($"count" > 2).count() == 0)
    // near-dup pairs mined under multi-probe are a superset of the
    // single-probe pairs (a shared first-choice bucket stays shared)
    def pairs(asg: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDups(
        asg.select($"nid".as("vec_id"), $"cid".as("label"),
          $"nvec".as("embedding")), threshold = 0.3)
        .select("id_a", "id_b").distinct().localCheckpoint()
    val sp = pairs(Similarity.ivfAssign(embs, cents))
    val mp = pairs(multi2)
    assert(sp.except(mp).count() == 0)
    assert(mp.count() >= sp.count())
  }

  test("charEntropy: repetition scores 0, uniform alphabets score log2(k)") {
    val rows = Seq(
      (0L, "aaaaaaaa"),          // one symbol → 0 bits (and not -0.0)
      (1L, "abababab"),          // two symbols, uniform → 1 bit
      (2L, "abcdefghijklmnop"),  // 16 distinct, uniform → 4 bits
      (3L, ""),                  // empty → 0 by definition
      (4L, "héλ🚀héλ🚀")          // code-point alphabet: 4 symbols → 2 bits
    ).toDF("doc_id", "text")
    val out = rows.select($"doc_id",
        graft.ops.Ops.roundDet(TextAnalysis.charEntropy($"text"), 4)
          .as("h"))
      .as[(Long, Double)].collect().toMap
    assert(out(0L) == 0.0 && !(1.0 / out(0L) < 0), out.toString) // not -0.0
    assert(out(1L) == 1.0 && out(2L) == 4.0 && out(3L) == 0.0 && out(4L) == 2.0)
    // prose sits between the degenerate poles on the real fixture
    val fixture = graft.queries.Q.t(spark, sf001, "documents")
      .select(TextAnalysis.charEntropy($"text").as("h"))
      .agg(min($"h"), max($"h")).as[(Double, Double)].head()
    assert(fixture._1 > 2.0 && fixture._2 < 6.5, fixture.toString)
  }

  test("bigram cross-entropy ranks atypical text above corpus-typical text") {
    // corpus dominated by one prose pattern; one doc of line-noise.
    // The model learns the prose bigrams, so the junk doc's bits/char
    // must come out strictly higher — the perplexity-filter contract.
    val prose = "the quick brown fox jumps over the lazy dog and runs away"
    val junk = "qz9#kx7!vw3$mj5%bn1&qz8*kx2(vw6)mj4@bn0qzkxvwmjbn"
    val docs = ((0L to 8L).map(i => (i, prose + " " + prose)) :+
      (9L, junk)).toDF("doc_id", "text")
    val out = graft.ext.Relevance.charBigramCrossEntropy(docs)
      .select("doc_id", "bits_per_char").as[(Long, Double)].collect().toMap
    assert(out.size == 10 && out.values.forall(_ >= 0.0), out.toString)
    // junk still teaches the model its OWN bigrams (self-scoring), so
    // the separation is a solid margin, not orders of magnitude
    val proseBits = out(0L)
    assert(out(9L) > proseBits * 1.5,
      s"junk ${out(9L)} not well above prose $proseBits")
    // identical docs score identically (model + fold fully determined)
    assert((1L to 8L).forall(i => out(i) == proseBits))
  }

  test("langId picks the language with most marker hits") {
    val d = Seq("the cat and the dog is here", "der hund und die katze ist nicht da")
      .toDF("text")
    val got = d.select(TextAnalysis.langId($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "de"))
  }

  test("brute-force topk: nearest neighbor of a vector is its copy") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f)), // near-copy of 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L), k = 1)
      .select("nid").as[Long].head()
    assert(top == 1L)
  }

  test("mmr topk trades score for diversity; lambda=1 is plain topk") {
    // query 100 at (1,0); a≈b both near the query, c off-axis with a
    // lower score. Pure top-k order: a, b, c. MMR at λ=0.3 must pick
    // a first (max score), then c: hand math at step 2 —
    // gain(b) = 0.3·0.9926 − 0.7·sim(b,a ≈ 0.9998) ≈ −0.402,
    // gain(c) = 0.3·0.6    − 0.7·sim(c,a ≈ 0.6774) ≈ −0.294 — the
    // near-copy's penalty outweighs its score edge only when the
    // diversity weight dominates (λ=0.5 still picks b: score gap
    // 0.39 > 0.5-weighted sim gap 0.32).
    val vecs = Seq(
      (100L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f)),  // a: best score
      (2L, Array(0.98f, 0.12f)), // b: near-copy of a
      (3L, Array(0.6f, 0.8f))    // c: diverse, lower score
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 100L)
    val mmr = Similarity.mmrTopK(vecs, q, k = 3, poolSize = 3,
      lambdaDiv = 0.3)
      .select("sel_rank", "nid").as[(Int, Long)].collect().toSeq
    assert(mmr == Seq((1, 1L), (2, 3L), (3, 2L)), s"got $mmr")
    // λ=1 removes the diversity term: selection order = score order
    val pure = Similarity.mmrTopK(vecs, q, k = 3, poolSize = 3,
      lambdaDiv = 1.0)
      .select("sel_rank", "nid").as[(Int, Long)].collect().toSeq
    assert(pure == Seq((1, 1L), (2, 2L), (3, 3L)), s"got $pure")
    // first pick always equals the pool's top-scored row, and emitted
    // gains are non-increasing in selection order (the greedy
    // objective can only shrink as the penalty set grows)
    val gains = Similarity.mmrTopK(vecs, q, k = 3, poolSize = 3,
      lambdaDiv = 0.3).select("gain").as[Double].collect().toSeq
    assert(gains == gains.sorted.reverse, s"gains not monotone: $gains")
  }

  test("ivf topk with full probing matches brute force") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val bf = Similarity.bruteForceTopK(vecs, queries, k = 3)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    // stride 10 → 4 centroids; nprobe 4 probes all buckets → exact
    val ivf = Similarity.ivfTopK(vecs, queries, k = 3, stride = 10, nprobe = 4)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("embedding near-dup pairs within blocks") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.999f, 0.01f), 1),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(1.0f, 0.0f), 2) // same vec as 0 but other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDups(vecs, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // 3 blocked away from 0
  }

  test("corpus pipeline gates quality/length and dedups, keepLang filters") {
    val corpus = Seq(
      (0L, ("the and of to " * 15).trim),            // good en doc
      (1L, ("the and of to " * 15).trim),            // exact dup of 0
      (2L, "short"),                                  // fails minTokens
      (3L, ("der und ist nicht " * 15).trim)          // good de doc
    ).toDF("doc_id", "text")
    val all = graft.ext.CorpusPipeline.clean(corpus, minQuality = 0.3,
      minTokens = 20)
    assert(all.select("doc_id").as[Long].collect().toSeq == Seq(0L, 3L))
    val en = graft.ext.CorpusPipeline.clean(corpus, minQuality = 0.3,
      minTokens = 20, keepLang = Some("en"))
    assert(en.select("doc_id").as[Long].collect().toSeq == Seq(0L))
  }

  test("edit-distance pairs: exact recall at distance <= 1, none beyond") {
    val names = Seq(
      (0L, "acme corp"),   // distance 0 to 1, 1 (insertion) to 2
      (1L, "acme corp"),   // exact dup of 0
      (2L, "acme corps"),  // 1 insertion from 0/1
      (3L, "acme corp."),  // 1 sub from 2 ("s"->"."), 1 ins from 0/1
      (4L, "acme co"),     // distance 2 from 0 — must NOT match
      (5L, "zenith ltd")
    ).toDF("id", "name")
    val pairs = graft.ext.Dedup.editDistancePairs(names, "id", "name")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
      .collect().toSet
    assert(pairs == Set((0L, 1L, 0), (0L, 2L, 1), (1L, 2L, 1),
      (0L, 3L, 1), (1L, 3L, 1), (2L, 3L, 1)), s"got $pairs")
  }

  test("dedup index: stored probe equals the in-query gate; append " +
      "extends it; ensure rebuilds on content change") {
    import graft.ext.DedupIndex
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpusA = Seq(
      (0L, base),
      (1L, "completely different words about spark catalyst plans here today"),
      (2L, base.replace("river", "creek"))).toDF("doc_id", "text")
    val corpusB = Seq(
      (3L, base.replace("dog", "cat"))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("quick", "swift")), // near-dup of 0/2/3
      (11L, "unrelated text with nothing shared at all in any shingle window")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15ix").toString

    // build on A ∪ B; probe must equal the direct incremental gate
    val union = corpusA.unionByName(corpusB)
    DedupIndex.build(union, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val direct = rows(Dedup.minhashIncrementalNearDups(batch, union, 0.4))
    assert(direct.nonEmpty, "fixture must produce cross-split near-dups")
    assert(rows(DedupIndex.probe(batch, dir, union, 0.4)) == direct)

    // build on A, APPEND B: probe must still equal the union gate,
    // and the XOR-fold meta must validate fresh for the union corpus
    val dir2 = java.nio.file.Files.createTempDirectory("d15ix2").toString
    DedupIndex.build(corpusA, dir2)
    DedupIndex.append(corpusB, dir2)
    assert(rows(DedupIndex.probe(batch, dir2, union, 0.4)) == direct)
    assert(!DedupIndex.ensure(union, dir2), "append chain must stay fresh")
    // re-appending an indexed id must throw (fingerprint would corrupt)
    intercept[IllegalArgumentException] {
      DedupIndex.append(corpusB, dir2)
    }
    // an EMPTY batch must be rejected BEFORE the commit marker is
    // touched: the index stays valid and fresh after the failure
    intercept[IllegalArgumentException] {
      DedupIndex.append(corpusB.filter($"doc_id" < 0), dir2)
    }
    assert(!DedupIndex.ensure(union, dir2),
      "failed empty append must leave the index fresh")
    // a changed corpus fails content validation and rebuilds
    assert(DedupIndex.ensure(corpusA, dir2), "stale index must rebuild")
  }

  test("dedup index merge: sharded build equals one-shot, tombstones " +
      "survive the merge, overlap and self-merge rejected") {
    import graft.ext.DedupIndex
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpusA = Seq(
      (0L, base),
      (1L, "completely different words about spark catalyst plans here today"),
      (2L, base.replace("river", "creek"))).toDF("doc_id", "text")
    val corpusB = Seq(
      (3L, base.replace("dog", "cat")),
      (4L, "another unrelated corpus document speaking of benchmarks only")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("quick", "swift")),
      (11L, "unrelated text with nothing shared at all in any shingle window")
    ).toDF("doc_id", "text")
    val union = corpusA.unionByName(corpusB)
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val (dirA, dirB, dirM) = (tmp("d18A"), tmp("d18B"), tmp("d18M"))
    DedupIndex.build(corpusA, dirA)
    DedupIndex.build(corpusB, dirB)
    DedupIndex.merge(spark, Seq(dirA, dirB), dirM)
    val direct = rows(Dedup.minhashIncrementalNearDups(batch, union, 0.4))
    assert(direct.nonEmpty, "fixture must produce cross-shard near-dups")
    assert(rows(DedupIndex.probe(batch, dirM, union, 0.4)) == direct,
      "merged probe must equal the one-shot gate over the union")
    // the folded meta must equal the one-shot identity: a content
    // ensure over the union validates WITHOUT rebuilding
    assert(!DedupIndex.ensure(union, dirM),
      "merged index must be content-fresh for the union corpus")
    // a pending tombstone in shard A must ride the merge: the merged
    // index serves the union LIVE corpus (doc 2 gone), still fresh
    DedupIndex.remove(corpusA.filter($"doc_id" === 2L), dirA)
    val dirM2 = tmp("d18M2")
    DedupIndex.merge(spark, Seq(dirA, dirB), dirM2)
    val live = union.filter($"doc_id" =!= 2L)
    assert(rows(DedupIndex.probe(batch, dirM2, live, 0.4)) ==
      rows(Dedup.minhashIncrementalNearDups(batch, live, 0.4)),
      "tombstone must filter the merged probe")
    assert(!DedupIndex.ensure(live, dirM2),
      "merged index must be content-fresh for the LIVE union")
    // the merged bloom covers every shard id: an overlapping append
    // is still rejected by the bloom-gated guard
    intercept[IllegalArgumentException] {
      DedupIndex.append(corpusB.filter($"doc_id" === 3L)
        .withColumn("text", lit("fresh text, recycled id")), dirM)
    }
    // shards sharing raw ids (here: the same shard twice) reject
    intercept[IllegalArgumentException] {
      DedupIndex.merge(spark, Seq(dirA, dirA), tmp("d18X"))
    }
    // outDir colliding with a shard rejects before any deletion
    intercept[IllegalArgumentException] {
      DedupIndex.merge(spark, Seq(dirA, dirB), dirA)
    }
  }

  test("dedup index absorb: in-place shard ingest equals append, " +
      "tombstones on both sides survive, guards hold") {
    import graft.ext.DedupIndex
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpusA = Seq(
      (0L, base),
      (1L, "completely different words about spark catalyst plans here today"),
      (2L, base.replace("river", "creek"))).toDF("doc_id", "text")
    val corpusB = Seq(
      (3L, base.replace("dog", "cat")),
      (4L, "another unrelated corpus document speaking of benchmarks only")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("quick", "swift")),
      (11L, "unrelated text with nothing shared at all in any shingle window")
    ).toDF("doc_id", "text")
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val (dirT, dirS) = (tmp("d19T"), tmp("d19S"))
    DedupIndex.build(corpusA, dirT)
    // pending tombstone in the TARGET survives the in-place absorb
    DedupIndex.remove(corpusA.filter($"doc_id" === 1L), dirT)
    DedupIndex.build(corpusB, dirS)
    // pending tombstone in the SHARD rides along too
    DedupIndex.remove(corpusB.filter($"doc_id" === 4L), dirS)
    DedupIndex.absorb(spark, dirS, dirT)
    val live = corpusA.unionByName(corpusB)
      .filter($"doc_id" =!= 1L && $"doc_id" =!= 4L)
    assert(rows(DedupIndex.probe(batch, dirT, live, 0.4)) ==
      rows(Dedup.minhashIncrementalNearDups(batch, live, 0.4)),
      "absorbed probe must equal the one-shot gate over the live union")
    assert(!DedupIndex.ensure(live, dirT),
      "absorbed index must be content-fresh for the live union")
    // the merged bloom covers shard ids: the duplicate-id guard holds
    intercept[IllegalArgumentException] {
      DedupIndex.append(corpusB.filter($"doc_id" === 3L)
        .withColumn("text", lit("fresh text, recycled id")), dirT)
    }
    // overlap (absorbing a shard twice) and self-absorb refuse
    intercept[IllegalArgumentException] {
      DedupIndex.absorb(spark, dirS, dirT)
    }
    intercept[IllegalArgumentException] {
      DedupIndex.absorb(spark, dirT, dirT)
    }
    // an uncommitted shard refuses before the target is touched
    intercept[IllegalStateException] {
      DedupIndex.absorb(spark, tmp("d19E"), dirT)
    }
    assert(!DedupIndex.ensure(live, dirT),
      "failed absorbs must leave the target committed and fresh")
  }

  test("dedup index: bucket cap applies to the MERGED bucket across " +
      "append shards, matching the one-shot gate") {
    import graft.ext.DedupIndex
    // four identical docs: every band bucket is the full id set, so
    // with maxBucket=2 the UNION bucket (size 3) must drop — even
    // though each stored shard ([0,1] and [2]) is under the cap. A
    // per-shard cap would wrongly emit candidates from the A shard.
    val txt = "one two three four five six seven eight nine ten eleven"
    val corpusA = Seq((0L, txt), (1L, txt)).toDF("doc_id", "text")
    val corpusB = Seq((2L, txt)).toDF("doc_id", "text")
    val union = corpusA.unionByName(corpusB)
    val batch = Seq((10L, txt)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15cap").toString
    DedupIndex.build(corpusA, dir)
    DedupIndex.append(corpusB, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val direct2 = rows(Dedup.minhashIncrementalNearDups(
      batch, union, 0.4, maxBucket = 2))
    assert(direct2.isEmpty, "over-cap union bucket must drop in the gate")
    assert(rows(DedupIndex.probe(batch, dir, union, 0.4,
      maxBucket = 2)) == direct2, "probe must cap the MERGED bucket")
    // control: a cap that admits the merged bucket finds every pair
    assert(rows(DedupIndex.probe(batch, dir, union, 0.4,
      maxBucket = 3)) == Set((10L, 0L, 1.0), (10L, 1L, 1.0),
      (10L, 2L, 1.0)))
  }

  test("dedup index: compact merges shards, probe identical, crash-safe") {
    import graft.ext.DedupIndex
    val base =
      "the quick brown fox jumps over the lazy dog near the river bank"
    val corpusA = Seq((0L, base),
      (1L, base.replace("river", "creek"))).toDF("doc_id", "text")
    val corpusB = Seq((2L, base.replace("dog", "cat")))
      .toDF("doc_id", "text")
    val corpusC = Seq((3L, base.replace("quick", "rapid")))
      .toDF("doc_id", "text")
    val union = corpusA.unionByName(corpusB).unionByName(corpusC)
    val batch = Seq((10L, base.replace("quick", "swift")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15cmp").toString
    DedupIndex.build(corpusA, dir)
    DedupIndex.append(corpusB, dir)
    DedupIndex.append(corpusC, dir)
    def parts() = new java.io.File(s"$dir/buckets").listFiles()
      .count(_.getName.endsWith(".parquet"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val pre = rows(DedupIndex.probe(batch, dir, union, 0.4))
    assert(pre.nonEmpty, "fixture must produce near-dups")
    val preFiles = parts()
    DedupIndex.compact(spark, dir)
    assert(parts() < preFiles,
      s"compact did not reduce files: $preFiles -> ${parts()}")
    // at rest the shards are gone: ONE merged row per bucket key —
    // exactly the regroup probe performs per call, so results can't
    // move (and the next two asserts prove they don't)
    assert(spark.read.parquet(s"$dir/buckets")
      .groupBy("band", "bhash").count().filter($"count" > 1)
      .count() == 0)
    assert(rows(DedupIndex.probe(batch, dir, union, 0.4)) == pre)
    assert(!DedupIndex.ensure(union, dir),
      "compaction must not invalidate the meta")
    // append AFTER compact: the one-shot gate over the grown corpus
    // still agrees (merged rows and fresh shards regroup together)
    val corpusD = Seq((4L, base.replace("bank", "shore")))
      .toDF("doc_id", "text")
    DedupIndex.append(corpusD, dir)
    val union2 = union.unionByName(corpusD)
    assert(rows(DedupIndex.probe(batch, dir, union2, 0.4)) ==
      rows(graft.ext.Dedup.minhashIncrementalNearDups(batch, union2, 0.4)))
    // crash mid-compaction leaves exactly this state: no meta beside
    // a (possibly half-swapped) buckets dir — ensure must rebuild
    graft.ext.StoredIndex.invalidate(spark, dir)
    assert(DedupIndex.ensure(union2, dir),
      "missing commit marker must trigger a rebuild")
  }

  test("stored index append: all-new batch never reads stored id lists") {
    import graft.ext.DedupIndex
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15blm").toString
    DedupIndex.build(corpus, dir)
    // hide the bucket shards: if the duplicate-id guard tried to read
    // them the append would fail — the id bloom rules every batch id
    // out, so the guard must never touch them (O(batch), proven by
    // file absence rather than plan inspection)
    val bdir = java.nio.file.Paths.get(s"$dir/buckets")
    val hidden = java.nio.file.Paths.get(s"$dir/buckets_hidden")
    java.nio.file.Files.move(bdir, hidden)
    val batch = Seq(
      (1L, "totally different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    DedupIndex.append(batch, dir, checkIds = true)
    // restore the hidden shards beside the newly appended one; the
    // index then serves the union corpus
    hidden.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath, bdir.resolve(f.getName))
      }
    val union = corpus.unionByName(batch)
    assert(!DedupIndex.ensure(union, dir),
      "append chain must stay content-fresh")
    val probeBatch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val direct = rows(graft.ext.Dedup.minhashIncrementalNearDups(
      probeBatch, union, 0.4))
    assert(direct.nonEmpty)
    assert(rows(DedupIndex.probe(probeBatch, dir, union, 0.4)) == direct)
    // a RE-APPENDED id is bloom-positive and must still be rejected
    // by the exact check (now that the shards are back)
    intercept[IllegalArgumentException] {
      DedupIndex.append(batch, dir, checkIds = true)
    }
  }

  test("stored index: pre-bloom index appends never mint a partial bloom") {
    import graft.ext.DedupIndex
    // simulate an index built BEFORE the idbloom asset existed:
    // build normally, then delete the bloom. An append must (a)
    // still work via the exact-check fallback, (b) NOT write a
    // batch-only bloom — that bloom would rule the pre-bloom ids
    // "definitely new" and let a later duplicate append corrupt the
    // index silently — and (c) still reject a duplicate of a
    // pre-bloom id afterwards.
    val corpus = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15pre").toString
    DedupIndex.build(corpus, dir)
    val bloomDir = new java.io.File(s"$dir/idbloom")
    bloomDir.listFiles().foreach(_.delete()); bloomDir.delete()
    val batch = Seq((1L, "different words entirely unrelated here"))
      .toDF("doc_id", "text")
    DedupIndex.append(batch, dir, checkIds = true) // exact fallback
    assert(!new java.io.File(s"$dir/idbloom").exists(),
      "append on a pre-bloom index must not mint a partial bloom")
    // the duplicate of a PRE-BLOOM id must still be rejected — this
    // is exactly the corruption a batch-only bloom would wave through
    intercept[IllegalArgumentException] {
      DedupIndex.append(corpus, dir, checkIds = true)
    }
    // and the index stays content-valid over the union
    assert(!DedupIndex.ensure(
      corpus.unionByName(batch), dir))
  }

  test("ANN retraction: tombstones, exact meta, compact materializes") {
    import graft.ext.{AnnIndex, StoredIndex}
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_x12_").toString + "/ix"
    AnnIndex.build(embs, dir)
    val gone = embs.filter($"vec_id" % 5 === 4)
    val live = embs.filter($"vec_id" % 5 =!= 4).localCheckpoint()
    AnnIndex.remove(gone, dir)
    // probes never see tombstoned ids
    val q = embs.filter($"vec_id" < 5)
    val nids = AnnIndex.probeTopK(spark, dir, q, k = 5)
      .select("nid").as[Long].collect()
    assert(nids.nonEmpty && nids.forall(_ % 5 != 4))
    // the XOR un-mix keeps the meta EXACT for the live corpus: a
    // content ensure validates fresh with no rebuild
    assert(!AnnIndex.ensure(live, dir),
      "content ensure over the live corpus must not rebuild")
    // retracting a non-live id (already tombstoned) must throw
    intercept[IllegalArgumentException] {
      AnnIndex.remove(gone.limit(1), dir)
    }
    // re-appending a tombstoned id is rejected while the physical
    // rows remain...
    intercept[IllegalArgumentException] {
      AnnIndex.append(gone.limit(3), dir)
    }
    // ...and compact materializes the deletion: tombstone asset
    // gone, postings shrunk, probes and meta unchanged
    val preProbe = AnnIndex.probeTopK(spark, dir, q, k = 5)
      .collect().toSet
    AnnIndex.compact(spark, dir)
    assert(StoredIndex.readDeleteIds(spark, dir).isEmpty)
    assert(spark.read.parquet(s"$dir/postings").count() == live.count())
    assert(AnnIndex.probeTopK(spark, dir, q, k = 5)
      .collect().toSet == preProbe)
    assert(!AnnIndex.ensure(live, dir))
    // after materialization the id can come back
    AnnIndex.append(gone.limit(3), dir)
    assert(spark.read.parquet(s"$dir/postings").count()
      == live.count() + 3)
    // a REBUILD at the same dir clears any pending tombstones (a
    // stale deletes list would filter legitimately-live ids) — the
    // registered x12 row re-runs exactly this build→remove cycle
    AnnIndex.build(embs, dir)
    AnnIndex.remove(gone, dir)
    assert(!AnnIndex.ensure(live, dir))
  }

  test("compact with materialized deletions refreshes the id bloom") {
    import graft.ext.{AnnIndex, DedupIndex, StoredIndex}
    // the superset bloom keeps retracted ids (safe — positives fall
    // through to the exact check — but FPP accretes forever); a
    // compaction that materializes the deletion rewrites every live
    // id anyway, so it re-derives the bloom from the survivors:
    // purged ids go bloom-NEGATIVE, live ids stay positive, and the
    // exact duplicate-id guard still holds on both sides
    def positive(dir: String, id: Long): Boolean = {
      val bytes = StoredIndex.readIdBloom(spark, dir)
        .getOrElse(fail(s"no idbloom asset at $dir"))
      spark.range(id, id + 1)
        .filter(StoredIndex.mightContain(bytes, $"id")).count() == 1L
    }
    // dedup family
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "red orange yellow green blue indigo violet shade"))
      .toDF("doc_id", "text")
    val dDir = java.nio.file.Files
      .createTempDirectory("graft_blmrf_d_").toString
    DedupIndex.build(corpus, dDir)
    DedupIndex.remove(corpus.filter($"doc_id" === 2), dDir)
    assert(positive(dDir, 2L), "pre-compact: retracted id still blooms")
    DedupIndex.compact(spark, dDir)
    assert(!positive(dDir, 2L),
      "materializing compact must drop the purged id from the bloom")
    assert(positive(dDir, 0L) && positive(dDir, 1L),
      "live ids must survive the bloom refresh")
    // the guard contracts survive the refresh: a live id is still
    // rejected, the purged id appends cleanly
    intercept[IllegalArgumentException] {
      DedupIndex.append(corpus.filter($"doc_id" === 0), dDir)
    }
    DedupIndex.append(corpus.filter($"doc_id" === 2), dDir)
    assert(!DedupIndex.ensure(corpus, dDir))
    // a compact with NO pending deletions must leave the bloom alone
    // (no refresh pass is paid)
    val before = StoredIndex.readIdBloom(spark, dDir).get.toSeq
    DedupIndex.compact(spark, dDir)
    assert(StoredIndex.readIdBloom(spark, dDir).get.toSeq == before,
      "no-deletes compact must not rewrite the bloom")
    // ANN family: same contract over the postings key
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter($"vec_id" < 60).localCheckpoint()
    val aDir = java.nio.file.Files
      .createTempDirectory("graft_blmrf_a_").toString + "/ix"
    AnnIndex.build(embs, aDir)
    AnnIndex.remove(embs.filter($"vec_id" === 59), aDir)
    assert(positive(aDir, 59L))
    AnnIndex.compact(spark, aDir)
    assert(!positive(aDir, 59L),
      "ANN compact must drop the purged id from the bloom")
    assert(positive(aDir, 0L))
    AnnIndex.append(embs.filter($"vec_id" === 59), aDir)
    assert(!AnnIndex.ensure(embs, aDir))
  }

  test("dedup retraction: probe equals a live-corpus build, cap included") {
    import graft.ext.{DedupIndex, StoredIndex}
    // cap interaction is the subtle case: four identical docs put
    // every bucket at size 4; with maxBucket = 3 the one-shot gate
    // over ALL of them drops the bucket — but after retracting two,
    // the LIVE gate (bucket size 2) must find the pairs again, so
    // the tombstone filter has to run BEFORE the cap
    val txt = "one two three four five six seven eight nine ten"
    val corpus = (0L until 4L).map((_, txt)).toDF("doc_id", "text")
    val gone = corpus.filter($"doc_id" >= 2)
    val live = corpus.filter($"doc_id" < 2).localCheckpoint()
    val batch = Seq((10L, txt)).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_d16_").toString
    DedupIndex.build(corpus, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    assert(rows(DedupIndex.probe(batch, dir, corpus, 0.4,
      maxBucket = 3)).isEmpty, "over-cap bucket must drop pre-retract")
    DedupIndex.remove(gone, dir)
    assert(rows(DedupIndex.probe(batch, dir, live, 0.4, maxBucket = 3))
      == Set((10L, 0L, 1.0), (10L, 1L, 1.0)),
      "live bucket clears the cap after retraction")
    assert(!DedupIndex.ensure(live, dir),
      "content ensure over the live corpus must not rebuild")
    // compact materializes; gate unchanged; retracted id can return
    DedupIndex.compact(spark, dir)
    assert(StoredIndex.readDeleteIds(spark, dir).isEmpty)
    assert(rows(DedupIndex.probe(batch, dir, live, 0.4, maxBucket = 3))
      == Set((10L, 0L, 1.0), (10L, 1L, 1.0)))
    assert(!DedupIndex.ensure(live, dir))
    DedupIndex.append(gone.filter($"doc_id" === 2), dir)
    assert(!DedupIndex.ensure(
      live.unionByName(gone.filter($"doc_id" === 2)), dir))
  }

  test("filtered ANN probe: pre-filter semantics over the stored index") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_x11_").toString + "/ix"
    AnnIndex.build(embs, dir)
    val q = embs.filter($"vec_id" < 5)
    // allowed = everything ⇒ identical to the unfiltered probe
    assert(AnnIndex.probeTopKFiltered(spark, dir, q,
        embs.select("vec_id"), k = 3).collect().toSet ==
      AnnIndex.probeTopK(spark, dir, q, k = 3).collect().toSet)
    // allowed = evens ⇒ only even neighbors, ranks dense from 1
    val evens = AnnIndex.probeTopKFiltered(spark, dir, q,
      embs.filter($"vec_id" % 2 === 0).select("vec_id"), k = 3)
      .select("qid", "rank", "nid")
      .as[(Long, Int, Long)].collect().toSeq
    assert(evens.nonEmpty && evens.forall(_._3 % 2 == 0), s"$evens")
    assert(evens.groupBy(_._1).values.forall(rs =>
      rs.map(_._2).sorted == (1 to rs.size)), "ranks must be dense")
    // and the filtered result is the probe over pre-filtered
    // postings by construction: a disallowed id can never appear
    val odds = AnnIndex.probeTopKFiltered(spark, dir, q,
      embs.filter($"vec_id" % 2 === 1).select("vec_id"), k = 3)
      .select("nid").as[Long].collect()
    assert(odds.nonEmpty && odds.forall(_ % 2 == 1))
  }

  test("batched filtered ANN probe ≡ per-qid single filtered probes " +
      "— per-query grants bind independently, an empty grant serves " +
      "an empty page") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_x20_").toString + "/ix"
    AnnIndex.build(embs, dir)
    // three queries, three DIFFERENT grants (the third empty)
    val grants = Seq[(Long, org.apache.spark.sql.Column)](
      (3L, $"vec_id" % 2 === 0),
      (5L, $"vec_id" % 3 === 0),
      (9L, org.apache.spark.sql.functions.lit(false)))
    val pairs = grants.map { case (q, pred) =>
      embs.filter(pred).select(
        org.apache.spark.sql.functions.lit(q).as("qid"), $"vec_id")
    }.reduce(_ unionByName _)
    val batched = AnnIndex.probeManyFiltered(spark, dir,
        embs.filter($"vec_id".isin(3L, 5L, 9L)), pairs, k = 4)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val single = grants.flatMap { case (q, pred) =>
      AnnIndex.probeTopKFiltered(spark, dir,
          embs.filter($"vec_id" === q), embs.filter(pred)
            .select("vec_id"), k = 4)
        .as[(Long, Int, Long, Double)].collect().toSeq
    }.sortBy(x => (x._1, x._2))
    assert(batched == single,
      "batched filtered pages must equal the per-qid single probes")
    assert(!batched.exists(_._1 == 9L),
      "an empty grant must serve an empty page")
    assert(batched.filter(_._1 == 3L).forall(_._3 % 2 == 0) &&
      batched.filter(_._1 == 5L).forall(_._3 % 3 == 0),
      "each qid's grant must bind only that qid's page")
  }

  test("stored index: maybeCompact fires only past the file threshold") {
    import graft.ext.{DedupIndex, StoredIndex}
    val mk = (i: Long, t: String) => (i, t)
    val dir = java.nio.file.Files.createTempDirectory("d15mc").toString
    DedupIndex.build(
      Seq(mk(0L, "alpha beta gamma delta epsilon zeta")).toDF(
        "doc_id", "text"), dir)
    DedupIndex.append(
      Seq(mk(1L, "eta theta iota kappa lambda mu")).toDF(
        "doc_id", "text"), dir)
    val files = StoredIndex.partFileCount(spark, dir, "buckets")
    assert(files >= 2, s"build+append should leave >=2 shards: $files")
    // below threshold: a no-op (no rewrite, same files)
    assert(!DedupIndex.maybeCompact(spark, dir, maxFiles = files))
    assert(StoredIndex.partFileCount(spark, dir, "buckets") == files)
    // above threshold: compacts, file count drops, meta stays valid
    assert(DedupIndex.maybeCompact(spark, dir, maxFiles = files - 1))
    assert(StoredIndex.partFileCount(spark, dir, "buckets") < files)
    assert(!DedupIndex.ensure(
      Seq(mk(0L, "alpha beta gamma delta epsilon zeta"),
        mk(1L, "eta theta iota kappa lambda mu"))
        .toDF("doc_id", "text"), dir))
  }

  test("stored index: fileVersion is metadata-stable and rewrite-sensitive") {
    import graft.ext.StoredIndex
    val dir = java.nio.file.Files.createTempDirectory("fv").toString
    val f = java.nio.file.Paths.get(dir, "corpus.parquet")
    java.nio.file.Files.write(f, "payload-one".getBytes("UTF-8"))
    val v1 = StoredIndex.fileVersion(spark, f.toString)
    // pure metadata read: repeated calls agree without touching data
    assert(v1 == StoredIndex.fileVersion(spark, f.toString))
    // same-length rewrite with a bumped mtime must change the
    // version (conservative: a regenerated fixture always rebuilds)
    java.nio.file.Files.write(f, "payload-two".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 5000))
    assert(v1 != StoredIndex.fileVersion(spark, f.toString))
    // directory form: versions over the containing dir see the file
    assert(StoredIndex.fileVersion(spark, dir) ==
      StoredIndex.fileVersion(spark, dir))
  }

  test("stored index: legacy meta without version column rebuilds") {
    import graft.ext.DedupIndex
    val corpus = Seq((0L, "legacy meta corpus fixture text here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15leg").toString
    DedupIndex.build(corpus, dir)
    // rewrite the meta WITHOUT the version column (an index built
    // before versioned serve existed); the versioned posture must
    // classify it stale and rebuild — not throw on the missing field
    val m = spark.read.parquet(s"$dir/meta")
      .select("n_rows", "max_id", "fingerprint").localCheckpoint()
    m.write.mode("overwrite").parquet(s"$dir/meta")
    assert(DedupIndex.ensure(corpus, dir, version = Some("v1")),
      "legacy meta under the versioned posture must rebuild")
    assert(!DedupIndex.ensure(corpus, dir, version = Some("v1")))
  }

  test("stored index: full retraction leaves an appendable empty index") {
    import graft.ext.DedupIndex
    val corpus = Seq(
      (0L, "first corpus document words here"),
      (1L, "second corpus document other words")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15all").toString
    DedupIndex.build(corpus, dir)
    DedupIndex.remove(corpus, dir)
    // the empty-corpus identity (bit_xor over nothing is NULL) must
    // validate fresh against the fully-retracted meta
    assert(!DedupIndex.ensure(corpus.filter($"doc_id" < 0), dir),
      "empty live corpus must validate fresh after full retraction")
    // appending into the emptied index must not NPE on the null
    // max_id/fingerprint (the commit marker is already gone by then)
    val batch = Seq((7L, "a brand new document arrives now"))
      .toDF("doc_id", "text")
    DedupIndex.append(batch, dir)
    assert(!DedupIndex.ensure(batch, dir),
      "append after full retraction must leave a fresh index")
  }

  test("stored index: corrupt non-missing meta propagates, no rebuild") {
    import graft.ext.DedupIndex
    val corpus = Seq((0L, "some corpus text for the index fixture"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("d15crpt").toString
    DedupIndex.build(corpus, dir)
    // corrupt the meta parquet IN PLACE: the file exists but its
    // footer is garbage — a serve-path read failure that is NOT
    // "index missing", so ensure must propagate it rather than
    // silently kicking off a full rebuild mid-serve
    val part = new java.io.File(s"$dir/meta").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.write(part.toPath, Array.fill[Byte](64)(0x7f))
    val thrown = intercept[Exception] { DedupIndex.ensure(corpus, dir) }
    assert(!thrown.isInstanceOf[org.apache.spark.sql.AnalysisException],
      s"corrupt footer should not classify as missing: $thrown")
    // and no silent rebuild happened: the corrupt bytes are untouched
    assert(java.nio.file.Files.readAllBytes(part.toPath)
      .forall(_ == 0x7f))
  }

  test("pmi collocations: hand-computed scores, rounded-rank order") {
    // unigrams x:2 y:2 z:2 (N1=6); bigrams (x,y):2 (y,x):1 (z,z):1
    // (N2=4) → pmi(x,y)=log2((2/4)/(2/6 · 2/6))=log2(4.5)=2.1699;
    // pmi(y,x)=pmi(z,z)=log2(2.25)=1.1699, tie broken y<z
    val docs = Seq("x y x y", "z z").toDF("text")
    val got = graft.ext.Relevance.pmiBigrams(docs, minCount = 1, topK = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("x", "y", 2L, 2.1699), ("y", "x", 1L, 1.1699),
      ("z", "z", 1L, 1.1699)), s"got $got")
  }

  test("funnel: greedy chain, strict ordering, conversion window") {
    def ev(u: Long, t: String, ty: String) =
      (u, java.sql.Timestamp.valueOf(t), ty)
    val events = Seq(
      // u1 completes a>b>c inside 7 days
      ev(1, "2024-01-01 00:00:00", "a"), ev(1, "2024-01-02 00:00:00", "b"),
      ev(1, "2024-01-03 00:00:00", "c"),
      // u2: c BEFORE b — chain stops at b (strict ordering)
      ev(2, "2024-01-01 00:00:00", "a"), ev(2, "2024-01-03 00:00:00", "c"),
      ev(2, "2024-01-04 00:00:00", "b"),
      // u3: completes, but c lands past the 7-day window from first a
      ev(3, "2024-01-01 00:00:00", "a"), ev(3, "2024-01-02 00:00:00", "b"),
      ev(3, "2024-01-09 00:00:01", "c"),
      // u4: never does step a
      ev(4, "2024-01-01 00:00:00", "b"), ev(4, "2024-01-02 00:00:00", "c")
    ).toDF("user_id", "ts", "event_type")
    val got = graft.ext.Sessions.funnel(events, Seq("a", "b", "c"), 7)
      .select("step", "n_users").as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 3L), (2, 3L), (3, 1L)), s"got $got")
  }

  test("hourly concurrency: sweep-line deltas, hand-checked peaks") {
    def ev(u: Long, t: String) = (u, java.sql.Timestamp.valueOf(t))
    // u1 session 10:00-10:10, u2 10:05-10:20 (overlap → peak 2),
    // u3 a single-event session at 11:00
    val events = Seq(
      ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:10:00"),
      ev(2, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00"),
      ev(3, "2024-01-01 11:00:00")
    ).toDF("user_id", "ts")
    val got = graft.ext.Sessions.hourlyConcurrency(events, 30)
      .select("max_concurrent", "n_boundaries")
      .as[(Long, Long)].collect().toSeq
    // hour 10: deltas at 10:00 +1, 10:05 +1, 10:11 -1, 10:21 -1 →
    // running 1,2,1,0 → max 2 over 4 boundaries; hour 11: 1 over 2
    assert(got == Seq((2L, 4L), (1L, 2L)), s"got $got")
  }

  test("hourly concurrency: carried-in level counts toward the peak") {
    def ev(u: Long, t: String) = (u, java.sql.Timestamp.valueOf(t))
    // u1 10:40-11:10, u2 10:45-11:10: hour 11's ONLY boundary is the
    // joint end at 11:11 (running sum 0 there) but the hour OPENS at
    // concurrency 2 carried from hour 10 — the boundary-only formula
    // would report 0; the carried-in term makes it the true peak 2
    val events = Seq(
      ev(1, "2024-01-01 10:40:00"), ev(1, "2024-01-01 11:10:00"),
      ev(2, "2024-01-01 10:45:00"), ev(2, "2024-01-01 11:10:00")
    ).toDF("user_id", "ts")
    val got = graft.ext.Sessions.hourlyConcurrency(events, 30)
      .select("max_concurrent", "n_boundaries")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L), (2L, 1L)), s"got $got")
  }

  test("cohort retention: week-0 size anchors the grid") {
    def ev(u: Long, t: String) = (u, java.sql.Timestamp.valueOf(t))
    // weeks: Mon 2024-01-01 and Mon 2024-01-08
    val events = Seq(
      ev(1, "2024-01-02 10:00:00"), ev(1, "2024-01-09 10:00:00"),
      ev(2, "2024-01-03 10:00:00"), // cohort w0, never returns
      ev(3, "2024-01-10 10:00:00")  // cohort w1
    ).toDF("user_id", "ts")
    val got = graft.ext.Sessions.cohortRetention(events)
      .select("week_offset", "n_active", "cohort_size", "retention")
      .as[(Int, Long, Long, Double)].collect().toSeq
    // cohort 2024-01-01: 2 users at offset 0, 1 at offset 1;
    // cohort 2024-01-08: 1 user at offset 0
    assert(got == Seq((0, 2L, 2L, 1.0), (1, 1L, 2L, 0.5),
      (0, 1L, 1L, 1.0)), s"got $got")
  }

  test("bloom skipping: no false negatives, absent key can still fp") {
    val rows = (0L until 256L).map(i => (i % 8, i)).toDF("blk", "key")
    val probes = Seq(5L, 13L, 9999L).toDF("probe_key")
    val got = graft.ext.Layout.bloomSkipStats(rows, col("blk"), col("key"),
        probes, mBits = 1024, k = 3)
      .select("probe_key", "n_blocks", "exact_blocks", "maybe_blocks",
        "false_neg")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // key k lives only in block k % 8; bloom must never skip it
    assert(got.map(_._5).forall(_ == 0L), s"false negatives: $got")
    val byKey = got.map(r => r._1 -> r).toMap
    assert(byKey(5L)._3 == 1L && byKey(5L)._4 >= 1L, s"got $got")
    assert(byKey(13L)._3 == 1L && byKey(13L)._4 >= 1L, s"got $got")
    assert(byKey(9999L)._3 == 0L, s"absent key has exact hits: $got")
    assert(got.forall(r => r._4 >= r._3), s"maybe < exact: $got")
  }

  test("best-quality survivor keeps the better near-dup, not the lower id") {
    // doc 0 and doc 1 are near-dups (one word changed); doc 1 is
    // LONGER, so its quality score is strictly higher — the min-id
    // rule keeps 0, the quality rule must keep 1
    val base = "the and of to in that it for was on are with they " * 3
    val corpus = Seq(
      (0L, (base + "alpha ends here").trim),
      (1L, (base + "omega ends here and continues with more is be at").trim),
      (2L, ("unrelated words entirely different topic matter " * 8).trim)
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val q = corpus.select($"doc_id",
      graft.ext.TextAnalysis.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) > q(0L), s"fixture must make doc 1 higher quality: $q")
    val minId = graft.ext.CorpusPipeline.cleanNearDups(corpus,
      minQuality = 0.1, minTokens = 10, jaccardThreshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    val bestQ = graft.ext.CorpusPipeline.cleanNearDupsBestQuality(corpus,
      minQuality = 0.1, minTokens = 10, jaccardThreshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(0L, 2L), s"min-id survivors: $minId")
    assert(bestQ == Set(1L, 2L), s"best-quality survivors: $bestQ")
  }

  test("multimodal decode is partition-parallel and deterministic") {
    val media = Multimodal.mediaFromDocuments(
      docs.withColumn("source", lit("s")).withColumn("n_chars", length($"text")))
    val d1 = Multimodal.decode(spark, media).collect().sortBy(_.doc_id)
    val d2 = Multimodal.decode(spark, media.repartition(3)).collect().sortBy(_.doc_id)
    assert(d1.map(r => (r.doc_id, r.width, r.height, r.n_frames)).toSeq ==
           d2.map(r => (r.doc_id, r.width, r.height, r.n_frames)).toSeq)
    assert(d1.forall(r => r.byte_len > 0 && r.width > 0))
    val frames = Multimodal.sampleFrames(Multimodal.decode(spark, media), stride = 10)
    assert(frames.count() > 0)
  }

  test("resize rewrites a decodable PNG header; non-images pass through") {
    val media = Multimodal.mediaFromDocuments(docs)
    val resized = Multimodal.resizeImages(
      Multimodal.decode(spark, media), maxSide = 10)
    // re-decode proves the rewritten container is valid; images fit
    // the box with aspect preserved via integer floor, others untouched
    val again = Multimodal.decode(spark, resized.toDF()).collect()
    again.foreach { r =>
      if (r.media_type == "image") {
        assert(r.width <= 10 && r.height <= 10 && r.width >= 1 && r.height >= 1)
      }
    }
    val before = Multimodal.decode(spark, media).collect()
      .map(r => r.doc_id -> r).toMap
    again.filter(_.media_type != "image").foreach { r =>
      assert(r.width == before(r.doc_id).width &&
        r.byte_len == before(r.doc_id).byte_len)
    }
    // fitDims contract: no-op inside the box, floor-scale outside
    assert(Multimodal.fitDims(100, 50, 224) == ((100, 50)))
    assert(Multimodal.fitDims(448, 100, 224) == ((224, 50)))
    assert(Multimodal.fitDims(2000, 1, 224) == ((224, 1)))
  }

  test("byte_stats features match a driver-side fold over the data bytes") {
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.extractFeatures(media)
      .as[(Long, String, Long, Double, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    texts.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8").map(_ & 0xFF)
      val (_, _, n, mean, mn, mx) = feats(id)
      assert(n == bytes.length && mn == bytes.min && mx == bytes.max)
      assert(math.abs(mean - bytes.sum.toDouble / bytes.length) < 5e-4)
    }
  }

  test("connected components collapse pair chains into dedup groups") {
    // chain 1-2, 2-3 plus isolated pair 7-9: components {1,2,3}, {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val comps = graft.ext.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("star-contraction components: deep chains converge in O(log n) rounds") {
    // a 200-link path has diameter 200: label propagation needs 200
    // rounds (maxIters=20 throws), star contraction ~log2(200) ≈ 8
    val chain = (0L to 200L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      graft.ext.Dedup.connectedComponents(chain, maxIters = 20)
    }
    val comps = graft.ext.Dedup.connectedComponentsStar(chain, maxIters = 12)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 201 && comps.values.forall(_ == 0L))
  }

  test("star-contraction components == label propagation on shallow graphs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 8L), (8L, 5L))
      .toDF("id_a", "id_b")
    val prop = graft.ext.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val star = graft.ext.Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(star == prop)
  }

  test("connected components fail loudly when the iteration bound is hit") {
    val chain = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      graft.ext.Dedup.connectedComponents(chain, maxIters = 1)
    }
  }

  test("cosine-LSH pairs find the planted near-duplicate embedding") {
    val dim = 16
    val base = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val near = base.zipWithIndex.map { case (x, i) => x + 0.001 * (i % 3) }
    val far = Array.tabulate(dim)(i => math.cos(3.0 * i) * (if (i % 2 == 0) 1 else -1))
    val corpus = Seq(
      (0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq),
      (3L, far.map(-_).toSeq)
    ).toDF("vec_id", "embedding")
    val pairs = graft.ext.Similarity.lshNearDups(corpus, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 2L || p._2 == 3L)) // far vectors excluded
  }

  test("media containers: PNG/WAVE write-parse round trip, corrupt rejected") {
    import graft.ext.MediaContainers
    val data = "payload bytes".getBytes("UTF-8")
    assert(MediaContainers.decodeDims(
      MediaContainers.wrapPng(640, 480, data)) == ((640, 480, 1)))
    // 13 payload bytes at 16-bit stereo -> 3 whole sample frames
    assert(MediaContainers.decodeDims(
      MediaContainers.wrapWav(16000, 2, data)) == ((16000, 2, 3)))
    // flipped IHDR byte -> CRC failure, not silent garbage
    val png = MediaContainers.wrapPng(640, 480, data)
    png(17) = (png(17) ^ 1).toByte
    intercept[IllegalArgumentException](MediaContainers.decodeDims(png))
    intercept[IllegalArgumentException](
      MediaContainers.decodeDims("not a container".getBytes("UTF-8")))
  }

  test("minhashIncrementalNearDups emits batch-vs-corpus pairs only") {
    val base = "the quick brown fox jumps over the lazy dog while rain " +
      "falls on the quiet village and children watch from the window"
    val corpus = Seq(
      (0L, base),
      (1L, base + " tonight"),                   // corpus-corpus near-dup
      (2L, "completely different words about spark plans and shuffles " +
        "with nothing shared at all in any shingle of this text here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " quietly"),                  // near-dup of corpus 0/1
      (11L, "unrelated batch text goes here and repeats nothing from " +
        "the corpus documents so it must never appear in any pair list"),
      (12L, "unrelated batch text goes here and repeats nothing from " +
        "the corpus documents so it must never appear in any pair here")
    ).toDF("doc_id", "text")                     // 11~12: batch-batch dup
    val got = graft.ext.Dedup
      .minhashIncrementalNearDups(batch, corpus, threshold = 0.4)
      .select("batch_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    assert(got.contains((10L, 0L)), s"missed the planted cross pair: $got")
    // every pair crosses the boundary in the right direction
    assert(got.forall { case (b, c) => b >= 10L && c < 10L }, got.toString)
    // batch-batch and corpus-corpus similarity never surfaces
    assert(!got.exists { case (b, c) => b == 11L || b == 12L }, got.toString)
  }

  test("freqItems sketch never misses a planted heavy hitter (t13)") {
    // 100 distinct rare tokens + one token at 50% share: KPS must
    // surface the heavy one at support 0.1 (false negatives are the
    // contract violation; false positives are allowed)
    val rows = (1 to 100).map(i => s"rare_$i") ++ Seq.fill(100)("heavy")
    val df = rows.toDF("token").repartition(7)
    val found = df.stat.freqItems(Seq("token"), 0.1)
      .select(explode(col("token_freqItems"))).as[String].collect().toSet
    assert(found.contains("heavy"), s"sketch missed the heavy hitter: $found")
  }

  test("PQ on a codeword-only corpus reconstructs exact cosine ranking") {
    // Take exactly the stride sample as the corpus: every vector's
    // subvectors ARE codewords, so encoding loses nothing and the ADC
    // score must equal the true cosine of normalized vectors (dot
    // decomposes exactly over subspaces) up to the LUT's 6dp + final
    // 4dp rounding. Ranks then match brute force wherever the 4dp
    // scores are tie-free.
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter($"vec_id" % 20 === 0)
    val q = embs.filter($"vec_id" < 60) // 3 query vectors
    val pq = Similarity.pqTopK(embs, q, k = 3, stride = 20)
    val bf = Similarity.bruteForceTopK(embs, q, k = 3)
    val joined = pq.join(
      bf.select($"qid", $"rank", $"nid".as("bf_nid"), $"cosine"),
      Seq("qid", "rank"))
    assert(joined.count() == pq.count(), "rank sets diverge")
    val bad = joined.filter(
      abs($"score" - $"cosine") > 0.001 || $"nid" =!= $"bf_nid")
    assert(bad.count() == 0, bad.collect().mkString("\n"))
  }

  test("pqTopK on a GAPPED corpus: flat-LUT scores match the explicit " +
      "(m,cid)-join formulation") {
    // The round-5 advice bug: pqScore indexes the flat LUT by cid
    // VALUE while pqLut orders entries by cid RANK — they only agree
    // when cids are dense. Codebook cids are now the sample's rank by
    // construction; this test proves alignment on a corpus whose
    // SAMPLED ids are gapped (drop vec_id 40 and 200: the old
    // value-derived cids {0,1,3,…} would misindex every LUT lookup
    // past the first gap), by recomputing each ADC score through an
    // explicit (m, cid) equi-join — positional indexing never used.
    val m = 4; val sub = 16
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val corpus = embs.filter($"vec_id" =!= 40 && $"vec_id" =!= 200)
    val queries = corpus.filter($"vec_id" < 8)
    val got = Similarity.pqTopK(corpus, queries, k = 5)

    val cb = Similarity.pqCodebook(corpus, stride = 20, m = m, dim = 64)
    val enc = Similarity.pqEncode(corpus, cb, m = m, dim = 64)
    val norm = (df: org.apache.spark.sql.DataFrame) => df.select(
      $"vec_id".as("qid"),
      graft.functions.GraftFunctions.l2_normalize(
        $"embedding".cast("array<double>")).as("vn"))
    val lutRows = norm(queries).join(broadcast(cb))
      .select($"qid", posexplode($"cb").as(Seq("mi", "cands")), $"vn")
      .select($"qid", $"mi", explode($"cands").as("c"), $"vn")
      .select($"qid", $"mi", $"c.cid".as("cid"),
        graft.ops.Ops.roundDet(Similarity.dot(
          slice($"vn", $"mi" * sub + 1, lit(sub)), $"c.cvec"), 6).as("v"))
    val terms = enc.select($"nid", posexplode($"codes").as(Seq("mi", "code")))
      .join(lutRows, Seq("mi"))
      .filter($"code" === $"cid" && $"qid" =!= $"nid")
    val wq = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
      .orderBy($"score".desc, $"nid".asc)
    val want = terms.groupBy("qid", "nid")
      .agg(graft.ops.Ops.roundDet(
        max(when($"mi" === 0, $"v")) + max(when($"mi" === 1, $"v")) +
        max(when($"mi" === 2, $"v")) + max(when($"mi" === 3, $"v")), 4)
        .as("score"))
      .withColumn("rank", row_number().over(wq))
      .filter($"rank" <= 5)
      .select("qid", "rank", "nid", "score")
    assert(got.except(want).count() == 0 && want.except(got).count() == 0,
      s"flat-LUT vs explicit-join diverge:\n got=${got.collect().mkString(",")}\nwant=${want.collect().mkString(",")}")
  }

  test("pqLut: the one-row-per-query projection equals the two-" +
      "aggregate formulation element for element (gapped corpus)") {
    // the LUT used to be built by exploding each query against every
    // (subspace, codeword), dotting, and regrouping twice by sorted
    // (qid, mi) and (qid, cid) keys — kept here as the reference the
    // projection must match bit for bit, on the gapped corpus whose
    // sampled ids are not multiples of the stride
    val sub = 16
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val corpus = embs.filter($"vec_id" =!= 40 && $"vec_id" =!= 200)
    val queries = corpus.filter($"vec_id" < 8 || $"vec_id" === 41)
    val cb = Similarity.pqCodebook(corpus, stride = 20, m = 4, dim = 64)
      .localCheckpoint()
    val got = Similarity.pqLut(queries, cb, sub, "embedding", "vec_id")
    val want = queries.select($"vec_id".as("qid"),
        graft.functions.GraftFunctions.l2_normalize(
          $"embedding".cast("array<double>")).as("vn"))
      .join(broadcast(cb))
      .select($"qid", $"vn", posexplode($"cb").as(Seq("mi", "cands")))
      .select($"qid", $"mi", explode($"cands").as("c"), $"vn")
      .withColumn("v", graft.ops.Ops.roundDet(Similarity.dot(
        slice($"vn", $"mi" * sub + 1, lit(sub)), $"c.cvec"), 6))
      .groupBy("qid", "mi")
      .agg(transform(
        array_sort(collect_list(struct($"c.cid".as("cid"), $"v"))),
        s => s.getField("v")).as("lv"))
      .groupBy("qid")
      .agg(flatten(transform(
        array_sort(collect_list(struct($"mi", $"lv"))),
        s => s.getField("lv"))).as("lut"))
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
        .map { case (q, l) => (q, l.map(java.lang.Double.doubleToLongBits)) }
    val (g, w) = (bits(got), bits(want))
    assert(g.size == 9 && g.map(_._1) == w.map(_._1), s"qids: $g vs $w")
    val lutLen = cb.select(size(flatten($"cb"))).head.getInt(0)
    assert(g.forall(_._2.size == lutLen), "LUT length must be m·K")
    assert(g == w, "projected LUT differs from the two-aggregate LUT")
  }

  test("semantic outlier pruning flags the planted outlier first") {
    // label 0: three near-identical vectors + one near-opposite; the
    // elementwise median tracks the majority, so the opposite vector
    // is the least-cosine member and must be rank 1 of the flagged set
    val rows = Seq(
      (0L, Array(1.0f, 0.1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0f, 0.1f, 0f), 0),
      (2L, Array(1.0f, 0f, 0f, 0.1f), 0),
      (3L, Array(-1.0f, 0f, 0f, 0f), 0),
      (10L, Array(0f, 1.0f, 0f, 0f), 1),
      (11L, Array(0f, 0.9f, 0.1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val flagged = ext.Curation.semanticOutliers(rows, fraction = 0.25)
      .as[(Long, Int, Double, Long, Long)].collect()
    // 25% of 4 → 1 flagged in label 0; 25% of 2 → 1 in label 1
    val byLabel = flagged.groupBy(_._2)
    assert(byLabel(0).map(_._1).toSeq == Seq(3L), flagged.mkString(","))
    assert(byLabel(0).head._3 < 0, "outlier cosine should be negative")
    assert(flagged.forall(_._4 == 1L))
  }

  test("semantic decontamination scrubs the planted eval twin only") {
    // eval vector e0; corpus holds an exact twin (cosine 1.0), a
    // negated copy (cosine -1.0) and an orthogonal vector (cosine 0)
    val rows = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f), 0),  // eval
      (10L, Array(1.0f, 0f, 0f, 0f), 0), // twin -> scrubbed
      (11L, Array(-1.0f, 0f, 0f, 0f), 0), // negated -> kept
      (12L, Array(0f, 1.0f, 0f, 0f), 0)  // orthogonal -> kept
    ).toDF("vec_id", "embedding", "label")
    val cleaned = ext.Decontaminate.semanticClean(
      rows.filter($"vec_id" >= 10), rows.filter($"vec_id" < 10),
      threshold = 0.9)
    assert(cleaned.select("vec_id").as[Long].collect().toSet ==
      Set(11L, 12L))
    val fl = ext.Decontaminate.semanticFlagged(
      rows.filter($"vec_id" >= 10), rows.filter($"vec_id" < 10), 0.9)
      .as[(Long, Long, Double)].collect()
    assert(fl.toSeq == Seq((10L, 1L, 1.0)))
  }

  test("semantic decontamination ignores id collisions across namespaces") {
    // corpus and eval ids come from unrelated spaces: a corpus vector
    // whose id happens to EQUAL an eval id must still be scored
    // against it (the round-5 advice bug: an id-inequality join
    // condition silently suppressed exactly this hit)
    val corpus = Seq((7L, Array(1.0f, 0f, 0f, 0f)),
      (8L, Array(0f, 1.0f, 0f, 0f))).toDF("vec_id", "embedding")
    val eval = Seq((7L, Array(1.0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding") // same id 7, unrelated namespace
    val fl = ext.Decontaminate.semanticFlagged(corpus, eval, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(fl.toSeq == Seq((7L, 1L, 1.0)),
      s"colliding-id contamination hit suppressed: ${fl.mkString(",")}")
    assert(ext.Decontaminate.semanticClean(corpus, eval, 0.9)
      .select("vec_id").as[Long].collect().toSeq == Seq(8L))
  }

  test("zorderKey2 matches a bit-by-bit reference interleave") {
    // reference: plain Scala loop interleave of the low 16 bits
    def ref(a: Int, b: Int): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1L) << (2 * i + 1)
        z |= ((b >> i) & 1L) << (2 * i)
      }
      z
    }
    val cases = Seq((0, 0), (1, 0), (0, 1), (1023, 1023), (512, 7),
      (65535, 65535), (40000, 123), (321, 54321))
    val df = cases.toDF("a", "b")
      .withColumn("z", ext.Layout.zorderKey2($"a", $"b"))
    val got = df.select("a", "b", "z").as[(Int, Int, Long)].collect()
    got.foreach { case (a, b, z) =>
      assert(z == ref(a, b), s"interleave($a, $b): got $z want ${ref(a, b)}")
    }
    // Morton keys preserve quadrant containment: the top 2k bits of
    // the key are the interleaved top k bits of each dim
    val (a, b) = (777, 333)
    val z = ref(a, b)
    assert((z >> 14) == ref(a >> 7, b >> 7), "quadrant bits differ")
  }

  test("z-order zone maps bound both dims; linear stripes only one") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val base = li.select(
      pmod($"l_orderkey" * 2654435761L, lit(1024)).as("xb"),
      pmod($"l_partkey" * 2246822519L, lit(1024)).as("yb"))
    val zm = ext.Layout.zonemap2(base,
      ext.Layout.zorderKey2($"xb", $"yb"), 12, $"xb", $"yb")
    val lm = ext.Layout.zonemap2(base,
      ext.Layout.linearKey2($"xb", $"yb", 10), 12, $"xb", $"yb")
    // every z file's box fits a 64×64 quadrant; every full linear
    // file spans (nearly) the whole y range
    val zBad = zm.filter($"max_x" - $"min_x" >= 64 ||
      $"max_y" - $"min_y" >= 64)
    assert(zBad.count() == 0, zBad.collect().mkString("\n"))
    val yWidths = lm.agg(max($"max_y" - $"min_y")).as[Long].head()
    assert(yWidths > 512, s"linear y-width unexpectedly tight: $yWidths")
    // pruning superiority on the registered z3 predicate box
    val row = ext.Layout.pruneStats2(li,
      pmod($"l_orderkey" * 2654435761L, lit(1024)),
      pmod($"l_partkey" * 2246822519L, lit(1024)),
      bits = 10, filesShift = 12,
      x1 = 100, x2 = 160, y1 = 300, y2 = 360).head()
    val (rowsLin, rowsZ, hits) =
      (row.getAs[Long]("rows_linear"), row.getAs[Long]("rows_zorder"),
        row.getAs[Long]("rows_selected"))
    assert(rowsZ < rowsLin, s"z-order did not prune better: $row")
    assert(rowsZ >= hits && rowsLin >= hits, s"scan below true hits: $row")
  }

  test("z-order parquet layout physically prunes row groups; linear does not") {
    // The z3 row models zone-map pruning; this test proves the same
    // effect at the parquet layer: identical data written in linear
    // vs z-order row order with small row groups, scanned with the
    // same 2-D predicate. Parquet keeps per-row-group min/max for
    // xb/yb; the pushed filters skip groups whose stats exclude the
    // box. The scan operator's numOutputRows counts rows in the
    // groups that SURVIVED skipping (the vectorized reader emits
    // them all, the Filter node prunes after), so it measures
    // physical I/O, not selectivity. The predicate is the shape
    // z-order exists for — WIDE in x (linear prunes half), NARROW in
    // y (linear stripes span all of y, so y prunes nothing there;
    // z-order's quadrants bound y and skip most groups). ~12 row
    // groups at 6 k rows (1 KB blocks, flush-checked every ~100
    // rows): enough granularity for the dyadic cells covering the
    // box to separate from the 50% stripe.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val base = li.select(
      pmod($"l_orderkey" * 2654435761L, lit(1024)).cast("int").as("xb"),
      pmod($"l_partkey" * 2246822519L, lit(1024)).cast("int").as("yb"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zlay").toString
    def writeLayout(key: org.apache.spark.sql.Column, path: String): Unit =
      base.withColumn("__k", key)
        .repartition(1).sortWithinPartitions("__k").drop("__k")
        .write.option("parquet.block.size", 1024)
        .mode("overwrite").parquet(path)
    writeLayout(ext.Layout.linearKey2($"xb", $"yb", 10), s"$dir/linear")
    writeLayout(ext.Layout.zorderKey2($"xb", $"yb"), s"$dir/zorder")

    def scannedRows(path: String): (Long, Long) = {
      val df = spark.read.parquet(path)
        .filter($"xb".between(0, 511) && $"yb".between(300, 360))
      // execute THIS queryExecution (count() would plan afresh and
      // leave these metrics untouched)
      val plan = df.queryExecution.executedPlan
      val hits = plan.executeCollect().length.toLong
      val executed = plan match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = executed.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      (scan.metrics("numOutputRows").value, hits)
    }
    val (linScanned, linHits) = scannedRows(s"$dir/linear")
    val (zScanned, zHits) = scannedRows(s"$dir/zorder")
    assert(linHits == zHits, s"selectivity differs: $linHits vs $zHits")
    assert(zScanned < linScanned,
      s"z-order scan not smaller: z=$zScanned linear=$linScanned")
    // the win must be structural, not noise: at least 2× fewer rows
    // surface from surviving row groups under z-order
    assert(zScanned * 2 <= linScanned,
      s"z-order pruning below 2x: z=$zScanned linear=$linScanned")
  }

  test("compactionPlan matches a driver-side running-sum fold") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val inv = li.groupBy($"l_returnflag".as("part"),
        pmod($"l_orderkey" * 2654435761L, lit(128)).as("file_id"))
      .agg(count(lit(1)).as("size"))
    val got = ext.Layout.compactionPlan(inv, $"part", $"file_id",
        $"size", target = 4000L)
      .select("part", "file_id", "bin")
      .as[(String, Long, Long)].collect().toSet
    // reference: per-partition fold in file_id order
    val want = inv.as[(String, Long, Long)].collect()
      .groupBy(_._1).iterator.flatMap { case (p, fs) =>
        var cum = 0L
        fs.sortBy(_._2).map { case (_, fid, sz) =>
          val bin = cum / 4000L
          cum += sz
          (p, fid, bin)
        }
      }.toSet
    assert(got == want,
      s"diff: ${(got diff want).take(5)} / ${(want diff got).take(5)}")
    // bins are contiguous file ranges per partition
    val bins = ext.Layout.compactionPlan(inv, $"part", $"file_id",
        $"size", 4000L)
      .groupBy("part", "bin")
      .agg(min($"file_id").as("lo"), max($"file_id").as("hi"),
        count(lit(1)).as("n"))
    val overlaps = bins.as("a").join(bins.as("b"),
      $"a.part" === $"b.part" && $"a.bin" < $"b.bin" &&
        $"a.hi" > $"b.lo")
    assert(overlaps.count() == 0, "bins overlap in file_id ranges")
  }

  test("PQ codes are bounded by the codebook and cover all subspaces") {
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val cb = Similarity.pqCodebook(embs, stride = 20)
    val k = cb.select(size(element_at($"cb", 1))).as[Int].head()
    val enc = Similarity.pqEncode(embs, cb)
    assert(enc.count() == embs.count())
    val flat = enc.select($"nid", explode($"codes").as("code"))
    assert(flat.filter($"code" < 0 || $"code" >= k).count() == 0)
    assert(flat.groupBy("nid").count().filter($"count" =!= 4).count() == 0)
  }

  private def healthMap(df: org.apache.spark.sql.DataFrame)
      : Map[String, Double] =
    df.as[(String, Double)].collect().toMap

  test("AnnIndex.health: fresh, tombstoned, and compacted states") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annhl_").toString + "/ix"
    AnnIndex.build(embs, dir)
    val n = embs.count().toDouble

    val fresh = healthMap(AnnIndex.health(spark, dir))
    assert(fresh("n_postings") == n && fresh("n_live") == n)
    assert(fresh("n_tombstoned") == 0 && fresh("bloom_present") == 1)
    assert(fresh("n_codebook") == 1)
    assert(fresh("n_cids_live") <= fresh("n_centroids"))
    assert(fresh("max_bucket") >= fresh("p50_bucket") &&
      fresh("max_bucket") >= fresh("avg_bucket"))
    // bucket mass accounts for every live posting (avg is rounded to
    // 4dp, so the product carries up to n_cids * 5e-5 of rounding)
    assert(math.abs(fresh("avg_bucket") * fresh("n_cids_live") - n) < 0.01)

    // retraction: tombstone debt visible, physical footprint untouched
    val gone = embs.filter($"vec_id" % 7 === 3).localCheckpoint()
    val g = gone.count().toDouble
    AnnIndex.remove(gone, dir)
    val tomb = healthMap(AnnIndex.health(spark, dir))
    assert(tomb("n_tombstoned") == g, "tombstones = retraction size")
    assert(tomb("n_live") == n - g, "live = postings minus tombstones")
    assert(tomb("n_postings") == n,
      "physical postings untouched until compact")

    // compact materializes: debt cleared, footprint shrinks to live
    AnnIndex.compact(spark, dir)
    val comp = healthMap(AnnIndex.health(spark, dir))
    assert(comp("n_tombstoned") == 0 && comp("n_postings") == n - g &&
      comp("n_live") == n - g)
  }

  test("DedupIndex.health == healthFromCorpus fresh; tracks retract/compact") {
    import graft.ext.DedupIndex
    val corpus = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").filter($"doc_id" < 200)
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_d21hl_").toString + "/ix"
    DedupIndex.build(corpus, dir)

    // the d21 pin, spec-side: stored assets report exactly what the
    // in-query banding derivation predicts
    val stored = healthMap(DedupIndex.health(spark, dir))
    val derived = healthMap(DedupIndex.healthFromCorpus(corpus))
    assert(stored == derived, s"stored $stored != derived $derived")

    val gone = corpus.filter($"doc_id" % 9 === 2).localCheckpoint()
    val g = gone.count().toDouble
    DedupIndex.remove(gone, dir)
    val tomb = healthMap(DedupIndex.health(spark, dir))
    assert(tomb("n_tombstoned") == g)
    assert(tomb("n_docs_live") == stored("n_docs_live") - g)
    assert(tomb("n_bucket_rows") == stored("n_bucket_rows"),
      "physical shard rows untouched until compact")

    // compact: debt cleared, accretion folded, and the report again
    // equals the live-corpus derivation
    DedupIndex.compact(spark, dir)
    val live = corpus.filter($"doc_id" % 9 =!= 2).localCheckpoint()
    val comp = healthMap(DedupIndex.health(spark, dir))
    assert(comp("n_tombstoned") == 0)
    assert(comp("n_bucket_rows") == comp("n_buckets"),
      "compacted index holds one row per merged bucket")
    assert(comp == healthMap(DedupIndex.healthFromCorpus(live)),
      "post-compact health == fresh-build prediction over the live set")
  }

  test("rebuildStaged: old index serves through the staged build; " +
      "swap is exact; crash windows") {
    import graft.ext.{AnnIndex, DedupIndex, StoredIndex}
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .localCheckpoint()
    val a = embs.filter($"vec_id" < 150).localCheckpoint()
    val b = embs.filter($"vec_id" < 250).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stgrb_").toString + "/ix"
    AnnIndex.build(a, dir)

    // swapStaged refuses when no complete staged build exists —
    // including a staged build in progress (assets, no meta yet)
    val staging = StoredIndex.freshStaging(spark, dir)
    intercept[IllegalArgumentException] {
      StoredIndex.swapStaged(spark, dir,
        Seq("centroids", "codebook", "postings"))
    }

    // a staged build IS the serve window: land the full B index in
    // staging and verify the live index still validates and serves A
    // — build-in-place would have invalidated it at the first step
    AnnIndex.build(b, staging)
    assert(!AnnIndex.ensure(a, dir),
      "live index must stay fresh over A during the staged build")
    val beforeSwap = AnnIndex.probeTopK(spark, dir,
      embs.filter($"vec_id" < 5), k = 3).collect()
    assert(beforeSwap.nonEmpty)

    // the swap: rename-sized window, then the index IS the B build
    StoredIndex.swapStaged(spark, dir,
      Seq("centroids", "codebook", "postings"))
    assert(!AnnIndex.ensure(b, dir),
      "swapped index must be content-fresh over B")
    val dirB = java.nio.file.Files
      .createTempDirectory("graft_stgrb2_").toString + "/ix"
    AnnIndex.build(b, dirB)
    val q = embs.filter($"vec_id" < 10)
    assert(AnnIndex.probeTopK(spark, dir, q, k = 3).collect().toSeq ==
      AnnIndex.probeTopK(spark, dirB, q, k = 3).collect().toSeq,
      "swapped-in probe == fresh-build probe")

    // rebuildStaged end-to-end over a retract lifecycle: tombstones
    // materialized, bloom re-minted, staging residue cleared
    AnnIndex.remove(b.filter($"vec_id" % 5 === 4), dir)
    val live = b.filter($"vec_id" % 5 =!= 4).localCheckpoint()
    AnnIndex.rebuildStaged(live, dir)
    val h = AnnIndex.health(spark, dir).as[(String, Double)]
      .collect().toMap
    assert(h("n_tombstoned") == 0 &&
      h("n_postings") == live.count().toDouble)
    assert(!new java.io.File(StoredIndex.stagingDirOf(dir)).exists(),
      "staging dir must be gone after the swap")
    // the re-minted bloom accepts a retracted id as NEW again
    AnnIndex.append(b.filter($"vec_id" === 4), dir)
    assert(!AnnIndex.ensure(
      live.unionByName(b.filter($"vec_id" === 4)), dir))

    // crash residue mid-staged-build (assets, no meta): live index
    // untouched, and the next rebuildStaged clears it and completes
    val partial = StoredIndex.freshStaging(spark, dir)
    a.limit(10).write.parquet(s"$partial/postings")
    assert(!AnnIndex.ensure(
      live.unionByName(b.filter($"vec_id" === 4)), dir),
      "staging residue must not affect the live index")
    AnnIndex.rebuildStaged(a, dir)
    assert(!AnnIndex.ensure(a, dir))

    // dedup twin: lifecycle then staged rebuild folds accretion and
    // re-derives exactly the fresh-build frame over the live corpus
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    val ddir = java.nio.file.Files
      .createTempDirectory("graft_stgrd_").toString + "/ix"
    DedupIndex.build(docs.filter($"doc_id" < 150), ddir)
    DedupIndex.append(
      docs.filter($"doc_id" >= 150 && $"doc_id" < 250), ddir)
    DedupIndex.remove(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 200), ddir)
    val dlive = docs.filter(($"doc_id" < 100 || $"doc_id" >= 200) &&
      $"doc_id" < 250).localCheckpoint()
    DedupIndex.rebuildStaged(dlive, ddir)
    assert(healthMap(DedupIndex.health(spark, ddir)) ==
      healthMap(DedupIndex.healthFromCorpus(dlive)),
      "staged-rebuilt index == fresh-build health frame")
    assert(!DedupIndex.ensure(dlive, ddir))
  }

  test("kmvDistinct: estimate within the sketch's error envelope, " +
      "exact below k, invariant to duplication and row order") {
    import graft.ext.Sketches
    // 10k distinct keys, each duplicated 3x — duplicates must not
    // move the estimate (the sketch sees distinct hashes only)
    val n = 10000L
    val base = spark.range(n).select(($"id" * 7L + 13L).as("k"))
    val dup = base.unionByName(base).unionByName(base)
    val r = Sketches.kmvDistinct(dup, $"k", k = 256)
      .as[(Long, Long, Double)].head()
    assert(r._1 == 256L, s"kept ${r._1} of 256")
    assert(math.abs(r._3 - n) < 0.15 * n,
      s"estimate ${r._3} too far from $n (k=256 ⇒ ~6% expected)")
    assert(r == Sketches.kmvDistinct(base.orderBy($"k".desc), $"k", 256)
      .as[(Long, Long, Double)].head(),
      "estimate must be order- and duplication-invariant")
    // below the sketch size the answer is exact
    val small = Sketches.kmvDistinct(spark.range(100).toDF(), $"id",
        k = 256)
      .as[(Long, Long, Double)].head()
    assert(small._1 == 100L && small._3 == 100.0,
      s"sub-k cardinality must be exact, got $small")
    // the k..2k boundary regime: the unsigned k-th minimum sits above
    // 2^63 (signed kth_hash is negative), which a naive signed-cast
    // denominator turned into a negative "estimate" — the hf-domain
    // denominator keeps the estimate sane here
    val mid = Sketches.kmvDistinct(spark.range(384).toDF(), $"id",
        k = 256)
      .as[(Long, Long, Double)].head()
    assert(mid._1 == 256L, s"kept ${mid._1} of 256")
    assert(mid._3 > 0.0 && math.abs(mid._3 - 384.0) < 0.35 * 384.0,
      s"k..2k estimate must be positive and near 384, got ${mid._3}")
  }

  test("stored KMV gauge: fold/merge are EXACT — the lifecycle state " +
      "is bit-identical to the one-shot state, through every regime " +
      "including k..2k") {
    import graft.ext.Sketches
    def state(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("hf").as[Long].collect().toSeq.sorted
    def report(dir: String, k: Int): (Long, Long, Double) =
      Sketches.kmvReport(spark, dir, k)
        .as[(Long, Long, Double)].head()
    val root = java.nio.file.Files
      .createTempDirectory("graft_kmvg_").toString
    // a 3-way split with overlapping VALUES across batches (the
    // distinct-hash union must collapse them) in the k..2k regime
    val n = 384L
    val all = spark.range(n).toDF()
    Sketches.kmvWrite(
      Sketches.kmvState(all.filter($"id" % 3 === 0), $"id"),
      s"$root/g")
    Sketches.kmvFold(spark, s"$root/g",
      all.filter($"id" % 3 === 1 || $"id" % 3 === 0), $"id")
    Sketches.kmvFold(spark, s"$root/g",
      all.filter($"id" % 3 === 2), $"id")
    val oneShot = Sketches.kmvState(all, $"id")
    assert(state(spark.read.parquet(s"$root/g")) == state(oneShot),
      "folded state must equal the one-shot bottom-k set exactly")
    assert(report(s"$root/g", 256) ==
      Sketches.kmvDistinct(all, $"id").as[(Long, Long, Double)].head(),
      "stored report must equal the in-query sketch")
    // shard merge: two independent states over disjoint halves
    Sketches.kmvWrite(Sketches.kmvMergedState(Seq(
        Sketches.kmvState(all.filter($"id" < 200), $"id"),
        Sketches.kmvState(all.filter($"id" >= 200), $"id")), 256),
      s"$root/m")
    assert(state(spark.read.parquet(s"$root/m")) == state(oneShot),
      "merged shard states must equal the one-shot bottom-k set")
    // sub-k regime through the stored path: exact count
    Sketches.kmvWrite(
      Sketches.kmvState(all.filter($"id" < 50), $"id"), s"$root/s")
    Sketches.kmvFold(spark, s"$root/s",
      all.filter($"id" >= 50 && $"id" < 100), $"id")
    val sub = report(s"$root/s", 256)
    assert(sub._1 == 100L && sub._3 == 100.0,
      s"sub-k stored gauge must be exact, got $sub")
  }
  test("rrfFuseMany ≡ per-qid rrfFuse — one-sided qids fuse alone, " +
      "and the batched fusion plans NO global window") {
    import graft.ext.Relevance
    def pages(rows: Seq[(Long, Int, Long)]) =
      rows.toDF("qid", "rank", "doc_id")
    // qid 0: overlap on both sides; qid 1: disjoint sides;
    // qid 2: lexical-only; qid 3: dense-only
    val lex = pages(Seq((0L, 1, 10L), (0L, 2, 11L), (0L, 3, 12L),
      (1L, 1, 20L), (1L, 2, 21L), (2L, 1, 30L)))
    val dense = pages(Seq((0L, 1, 11L), (0L, 2, 13L),
      (1L, 1, 22L), (3L, 1, 40L)))
    val fusedMany = Relevance.rrfFuseMany(lex, dense, topN = 3)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val perQid = Seq(0L, 1L, 2L, 3L).flatMap { q =>
      Relevance.rrfFuse(
          lex.filter($"qid" === q).select("rank", "doc_id"),
          dense.filter($"qid" === q).select("rank", "doc_id"),
          topN = 3)
        .as[(Int, Long, Double)].collect().toSeq
        .map { case (r, id, v) => (q, r, id, v) }
    }.sortBy(x => (x._1, x._2))
    assert(fusedMany == perQid,
      "batched fusion must equal the per-qid single fusions")
    // the batch dimension is the partition key: no global window
    assert(!graft.plans.PlanGuard.findings(
        Relevance.rrfFuseMany(lex, dense, topN = 3))
      .exists(_.rule == "global-window"),
      "rrfFuseMany must not plan a global window")
  }

  test("self-absorb through another spelling of the target's path " +
      "refuses in every stored-index family and leaves it fresh") {
    import graft.ext.{AnnIndex, DedupIndex, KeywordIndex}
    val text = docs.select("doc_id", "text").localCheckpoint()
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").filter($"vec_id" < 200)
      .localCheckpoint()
    // (family, build, absorb(shard, target), content ensure)
    val families = Seq[(String, String => Unit, (String, String) => Unit,
        String => Boolean)](
      ("DedupIndex", DedupIndex.build(text, _),
        DedupIndex.absorb(spark, _, _, checkIds = false),
        DedupIndex.ensure(text, _)),
      ("AnnIndex", AnnIndex.build(embs, _),
        AnnIndex.absorb(spark, _, _, checkIds = false),
        AnnIndex.ensure(embs, _)),
      ("KeywordIndex", KeywordIndex.build(text, _),
        KeywordIndex.absorb(spark, _, _, checkIds = false),
        KeywordIndex.ensure(text, _)))
    for ((name, build, absorb, ensure) <- families) {
      val dir = java.nio.file.Files.createTempDirectory(name).toString
      build(dir)
      for (same <- Seq(dir + "/", s"file:$dir"))
        intercept[IllegalArgumentException](absorb(same, dir))
      assert(!ensure(dir),
        s"$name: a refused self-absorb must leave the index fresh")
    }
  }

  test("AnnIndex.append refuses an all-null-id batch before the " +
      "commit marker") {
    import graft.ext.AnnIndex
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding").filter($"vec_id" < 200)
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("x9null").toString
    AnnIndex.build(embs, dir)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.append(
        embs.limit(3).withColumn("vec_id", lit(null).cast("long")), dir)
    }
    assert(ex.getMessage.contains("non-integral"))
    assert(!AnnIndex.ensure(embs, dir),
      "a refused append must leave the index committed and fresh")
  }
}
