package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.ops.Ops

/** Physical-plan locks: the scale posture of the hot operators is an
  * explicit, tested property, not an accident of the current optimizer
  * mood. Each test pins the plan shape that makes the operator viable
  * at 100 TB (pushdown reaching the scan, broadcast instead of
  * shuffled joins, hash aggregation instead of global sorts, fused
  * expressions evaluated once); a regression that re-introduces a
  * corpus-wide exchange or a duplicated expensive expression fails
  * here long before it burns a cluster.
  */
class PlanSpec extends SparkTestBase {

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def docs = graft.queries.Q.t(spark, sf001, "documents")
  private def embs = graft.queries.Q.t(spark, sf001, "embeddings")

  test("ivfAssign: no window, no sort, no corpus-side shuffle (x2 plan)") {
    val cents = Similarity.centroids(embs, stride = 20)
    val plan = executed(Similarity.ivfAssign(embs, cents))
    assert(!plan.contains("Window"), s"unexpected Window in:\n$plan")
    assert(!plan.contains("Sort"), s"unexpected Sort in:\n$plan")
    // the only exchanges allowed are on the (tiny) centroid-array side:
    // its single-partition aggregate and the broadcast of the result
    val shuffles = "Exchange (?!.*SinglePartition)".r
      .findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(shuffles == 0, s"corpus-side shuffle in:\n$plan")
  }

  test("ivfAssign argmax runs inside whole-stage codegen (x2 perf lock)") {
    import org.apache.spark.sql.execution.debug._
    // AQE wraps join plans in AdaptiveSparkPlanExec, which exposes no
    // codegen subtrees until runtime — inspect the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cents = Similarity.centroids(embs, stride = 20)
      val df = Similarity.ivfAssign(embs, cents)
      // ArgMaxCosine's doGenCode emits the bestCid/bestCos accumulator
      // loop; if the expression fell back to interpreted eval (the r2
      // transform/array_max regression: 2.55 s → 33 s at sf0.1), the
      // generated code would not contain it
      val code = codegenString(df.queryExecution.executedPlan)
      assert(code.contains("bestCid"),
        "argmax cosine loop not in whole-stage codegen — interpreted fallback")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bruteForceTopK ranks per corpus partition first (x1 plan)") {
    // the naive single window partitioned by qid alone would put ALL
    // |corpus| candidates of one query in one task; the two-phase form
    // ranks within (qid, __pid) first — assert the partial window is
    // in the plan and that no Window partitions by qid alone
    val q = embs.filter(col("vec_id") < 5)
    val plan = executed(Similarity.bruteForceTopK(embs, q, 3))
    // both phases must be present: the (qid, __pid) pre-rank bounds
    // every window group by the corpus partition size, and the final
    // qid-only window only ever sees the ≤ k·numPartitions rows that
    // survived the __prank filter
    assert(plan.contains("__pid"),
      s"per-partition pre-rank missing from:\n$plan")
    assert(plan.contains("__prank"),
      s"per-partition rank filter missing from:\n$plan")
  }

  test("tfidf: corpus stats attach via broadcast, no sort-merge join (t6)") {
    val plan = executed(graft.ext.Relevance.tfidfTopTerms(docs, k = 3))
    // the (term, df) side is vocabulary-sized and the doc count is one
    // row — both must come back as broadcasts; a sort-merge join here
    // would re-shuffle the whole (doc, term) relation per corpus stat
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bm25: per-row scoring, no explode, pre-truncated global rank (t7)") {
    val plan = executed(graft.ext.Relevance.bm25TopDocs(
      docs, Seq("spark", "table"), topN = 10))
    // term counting is a per-row HOF pass — exploding the corpus into
    // a (doc, token) relation would shuffle token mass, not doc mass
    assert(!plan.contains("Generate"), s"corpus explode in:\n$plan")
    // the global top-N window only sees per-partition survivors (the
    // bruteForceTopK two-phase pattern)
    assert(plan.contains("__prank"), s"pre-truncation missing:\n$plan")
  }

  test("deterministic sample is a scan-side filter: zero exchanges (e3)") {
    val plan = executed(graft.ext.Curation.deterministicSample(
      docs, "doc_id", "1a"))
    assert(!plan.contains("Exchange"), s"sampling should ride the scan:\n$plan")
    assert(!plan.contains("Sort"), plan)
  }

  test("projection + filter push down to the parquet scan (S1/P1)") {
    val plan = executed(docs.filter(col("lang") === "en")
      .select("doc_id", "n_chars"))
    assert(plan.contains("EqualTo(lang,en)"), s"filter not pushed:\n$plan")
    // pruned read schema: only the referenced columns reach the scan
    val readSchema = plan.linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty && !readSchema.contains("text"),
      s"unpruned column in scan:\n$readSchema")
  }

  test("dim joins broadcast; no sort-merge join in gold plans (J1)") {
    val dim = spark.range(5).select(col("id"), concat(lit("v"), col("id")).as("name"))
    val fact = docs.select(col("doc_id"), pmod(col("doc_id"), lit(5)).as("id"))
    val plan = executed(fact.join(broadcast(dim), "id"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("gold build: one aggregate over both broadcast dim joins (S7 plan)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_plan_gold_").toString
    Setup.setup(spark, wh)
    graft.taxi.TaxiFixtures.monthBatch(spark, 2024, 1, rows = 50)
      .withColumn("pickup_month", date_format(col("tpep_pickup_datetime"), "yyyy-MM"))
      .write.partitionBy("pickup_month").parquet(s"$wh/bronze/yellow_taxi_raw")
    val silver = new graft.silver.SilverRefresh(spark, wh)
    silver.refresh()
    val plan = executed(graft.gold.GoldViews.allMetrics(
      silver.fact, silver.vendorDim, silver.paymentTypeDim))
    def count(node: String) = node.r.findAllIn(plan).size
    assert(count("BroadcastHashJoin") == 2, plan)
    assert(count("Expand") == 1, plan)
    assert(count("Exchange hashpartitioning") == 1, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("full-row dedup is a hash aggregate, not a window (W1)") {
    val plan = executed(Ops.dedupExact(docs))
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("as-of join costs exactly one shuffle (J4 plan)") {
    val left = docs.select(col("doc_id").as("k"), col("n_chars").as("lts"),
      col("lang"))
    val right = docs.select(col("doc_id").as("k"), col("n_chars").as("rts"),
      col("source"))
    val plan = executed(Ops.asofJoin(left, right, "k", "lts", "rts",
      Seq("source"), "rts"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges in:\n$plan")
  }

  test("ByteStats runs codegen'd, one pass, no shuffle (m5 plan)") {
    import org.apache.spark.sql.execution.debug._
    val df = graft.ext.Multimodal.extractFeatures(
      graft.ext.Multimodal.mediaFromDocuments(docs))
    // a pure projection: feature extraction must not shuffle
    assert(!executed(df).contains("Exchange"),
      "m5 plan gained a shuffle")
    val code = codegenString(df.queryExecution.executedPlan)
    val calls = "ByteStatsKernel\\.analyze\\(".r.findAllIn(code).size
    assert(calls >= 1 && calls <= 2,
      s"ByteStats evaluated $calls times — codegen/CSE regressed")
  }

  test("star contraction: aggregate and rewire join share one exchange") {
    // each star op is groupBy(u) then join back on u — co-partitioned,
    // so a round costs the aggregate exchanges plus the symmetric-union
    // ones, never a separate join-side repartition of the edge list.
    // Lock the per-round exchange budget (large star alone): sym-union
    // scan + aggregate, with the join reusing the aggregate's
    // partitioning (ReusedExchange or AQE shuffle reuse).
    val edges = docs.select(col("doc_id").as("lo"),
      (col("doc_id") + 1).as("hi"))
    val s1 = edges.select(col("lo").as("u"), col("hi").as("v"))
      .union(edges.select(col("hi").as("u"), col("lo").as("v")))
    val m1 = s1.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    val large = s1.join(m1, "u").filter(col("v") > col("u"))
      .select(col("v"), col("m"))
    val plan = executed(large)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"large-star round costs $exchanges hash exchanges — " +
        "co-partitioning between the min-aggregate and the rewire " +
        "join regressed:\n" + plan)
  }

  test("bucketed range join replaces the nested loop with an equi-join (j8)") {
    val ev = graft.queries.Q.t(spark, sf001, "events")
      .select(col("event_id"), col("ts"))
    val wins = graft.queries.Q.t(spark, sf001, "events")
      .filter(col("event_id") % 499 === 0)
      .select(col("event_id").as("win_id"), col("ts").as("win_start"),
        (col("ts") + expr("interval 37 minutes")).as("win_end"))
    // the naive formulation IS the nested-loop cliff — document it
    val naive = executed(ev.join(wins,
      col("ts") >= col("win_start") && col("ts") < col("win_end")))
    assert(naive.contains("NestedLoop") || naive.contains("Cartesian"),
      "naive range join no longer nested-loop — revisit whether " +
        "bucketedRangeJoin is still needed:\n" + naive)
    val bucketed = executed(graft.ops.Ops.bucketedRangeJoin(
      ev, wins, "ts", "win_start", "win_end", maxLenSeconds = 37 * 60))
    assert(!bucketed.contains("NestedLoop") &&
      !bucketed.contains("Cartesian"),
      "bucketedRangeJoin plan regressed to a nested loop:\n" + bucketed)
  }

  test("BucketedRangeJoinRule: declarative interval join loses its nested loop") {
    val ev = graft.queries.Q.t(spark, sf001, "events")
      .select(col("event_id"), col("ts"))
    val wins = graft.queries.Q.t(spark, sf001, "events")
      .filter(col("event_id") % 499 === 0)
      .select(col("event_id").as("win_id"), col("ts").as("win_start"))
    def naive() = ev.join(wins,
      col("ts") >= col("win_start") &&
        col("ts") < col("win_start") + expr("interval 37 minutes"))
      .select(col("event_id"), col("win_id"))
    val expected = naive().collect().map(r => (r.getLong(0), r.getLong(1))).sorted

    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+
      graft.plans.BucketedRangeJoinRule
    try {
      val plan = executed(naive())
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        "rule did not rewrite the interval join:\n" + plan)
      val got = naive().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.sameElements(expected), "rule changed the join's result")
      // the closed BETWEEN spelling rewrites too (coverage is the
      // same; the ≤ stays as the residual filter)
      val between = executed(ev.join(wins,
        col("ts").between(col("win_start"),
          col("win_start") + expr("interval 37 minutes")))
        .select(col("event_id"), col("win_id")))
      assert(!between.contains("NestedLoop") && !between.contains("Cartesian"),
        "rule did not rewrite the BETWEEN form:\n" + between)
      // narrowness: a bound that is a column (length not statically
      // known) must be left alone
      val wins2 = wins.withColumn("win_end",
        col("win_start") + expr("interval 37 minutes"))
      val other = executed(ev.join(wins2,
        col("ts") >= col("win_start") && col("ts") < col("win_end"))
        .select(col("event_id"), col("win_id")))
      assert(other.contains("NestedLoop") || other.contains("Cartesian"),
        "rule fired on a non-literal interval bound:\n" + other)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("TextStats evaluates once per row under codegen CSE (t1/t2 plan)") {
    import org.apache.spark.sql.execution.debug._
    // t2-shaped query: quality references the stats struct 4 times
    val df = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.qualityScore(col("text")).as("quality"))
    val code = codegenString(df.queryExecution.executedPlan)
    val calls = "TextStatsKernel\\.analyze\\(".r.findAllIn(code).size
    // one evaluation site (subexpression-eliminated); a couple of
    // wrapper occurrences are fine, re-evaluation per field is not
    assert(calls >= 1 && calls <= 2,
      s"TextStats evaluated $calls times — CSE regressed")
  }

  test("bench plan digest ignores run-variant noise, sees plan changes") {
    val a = """HashAggregate #12 [codegen id : 3]
Location: InMemoryFileIndex [file:/root/testdata/sf0.1/lineitem.parquet]"""
    val b = """HashAggregate #99 [codegen id : 7]
Location: InMemoryFileIndex [file:/tmp/other/lineitem.parquet]"""
    assert(Bench.digest(a) == Bench.digest(b))
    assert(Bench.digest(a) != Bench.digest(a.replace("HashAggregate", "SortAggregate")))
  }

  test("bench plan digest ignores lambda identities and giant literals") {
    // MapPartitions closures print a per-JVM synthetic class counter +
    // object hash — caused m2/m3/m4 digest churn across identical runs
    val a = "Arguments: graft.ext.Multimodal$$$Lambda$6249/0x00007feb@1f80c4dc"
    val b = "Arguments: graft.ext.Multimodal$$$Lambda$6440/0x00007efe@6aa658c3"
    assert(Bench.digest(a) == Bench.digest(b))
    // a broadcast Bloom filter inlines its bytes as a huge hex literal
    val hex1 = "might_contain(0x" + "ab" * 64 + ", x)"
    val hex2 = "might_contain(0x" + "cd" * 64 + ", x)"
    assert(Bench.digest(hex1) == Bench.digest(hex2))
    assert(Bench.compactPlan(hex1).length < hex1.length / 2)
    // localCheckpoint scans embed the per-JVM RDD id counter
    val r1 = "Scan ExistingRDD MapPartitionsRDD[364] at localCheckpoint"
    val r2 = "Scan ExistingRDD MapPartitionsRDD[512] at localCheckpoint"
    assert(Bench.digest(r1) == Bench.digest(r2))
    // udaf Aggregator instances print as plain object identities
    // (graft.ops.TopKAgg@3a04a5f7) — per-JVM hash, caused o4 churn
    val u1 = "Functions: [partial_topkagg(x, graft.ops.TopKAgg@3a04a5f7)]"
    val u2 = "Functions: [partial_topkagg(x, graft.ops.TopKAgg@3179f8eb)]"
    assert(Bench.digest(u1) == Bench.digest(u2))
    // RDD creation-site LINE numbers shift when unrelated code is
    // added above the call — an edit to Dedup.scala re-digested every
    // checkpoint-bearing plan in the file
    val s1 = "MapPartitionsRDD[_] at localCheckpoint at Dedup.scala:507"
    val s2 = "MapPartitionsRDD[_] at localCheckpoint at Dedup.scala:520"
    assert(Bench.digest(s1) == Bench.digest(s2))
    // control-char string literals must not make the plans file binary
    assert(!Bench.compactPlan("concat_ws(" + 1.toChar + ", a, b)")
      .exists(c => c < ' ' && c != '\n' && c != '\t'))
    // HOF lambda variables embed a per-JVM NamedLambdaVariable counter
    // in the NAME (`lambda x_6#` vs `lambda x_14#`), which the exprId
    // rule does not touch — caused t15 to re-digest whenever probe
    // order differed from Bench's sorted sweep order
    val l1 = "aggregate(__ts#, 0.0, lambdafunction((lambda x_6# + " +
      "lambda y_7#.__term), lambda x_6#, lambda y_7#, false))"
    val l2 = "aggregate(__ts#, 0.0, lambdafunction((lambda x_14# + " +
      "lambda y_15#.__term), lambda x_14#, lambda y_15#, false))"
    assert(Bench.digest(l1) == Bench.digest(l2))
    // …while a genuinely different lambda body still re-digests
    assert(Bench.digest(l1) !=
      Bench.digest(l1.replace("+ lambda y_7#.__term", "* lambda y_7#.__term")))
  }

  test("quarantine anti-join reads only the batch's months (C4/J3 at scale)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_plan_wh_").toString
    val meta = new graft.meta.MetaStore(spark, wh)
    // seed two months of quarantine partitions
    Seq(1, 2).foreach { m =>
      meta.quarantine(graft.taxi.TaxiFixtures.monthBatch(spark, 2024, m))
    }
    // the exact anti-join fragment BronzeIngest.ingest builds
    val batch = graft.taxi.TaxiFixtures.monthBatch(spark, 2024, 1)
    val plan = executed(Ops.insertIfAbsent(
      batch, meta.invalidRecordsForMonths(Seq("2024-01")),
      graft.schema.Schemas.invalidRecordsKey, broadcastExisting = true))
    val pf = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("pickup_month"),
      s"quarantine scan not partition-pruned:\n$plan")
    assert(pf.contains("2024-01"), s"month predicate missing:\n$pf")
  }

  test("p8 quarantine probe scan is partition-pruned to its month") {
    // the registered form of the pruning lock above: the reference's
    // proc degraded 3.2 s → 83.5 s because each month re-scanned the
    // whole quarantine; p8's scan must carry PartitionFilters on
    // order_month so probe cost is flat in quarantine history
    val orders = graft.queries.Q.t(spark, sf001, "orders")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_plan_q_").toString + "/store"
    graft.ops.QuarantineStore.build(orders, dir)
    val plan = executed(
      graft.ops.QuarantineStore.probe(spark, dir, orders))
    val pf = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("order_month"),
      s"quarantine store scan not partition-pruned:\n$plan")
    assert(pf.contains("1997-03"), s"month predicate missing:\n$pf")
  }

  test("probeDirect equals probe; empty month passes candidates") {
    // the zero-listing variant must anti-join to the identical
    // result (same keys, same pruned slice — only the discovery
    // mechanism differs), and a month with NO quarantine partition
    // must behave as an empty slice, not an error
    val orders = graft.queries.Q.t(spark, sf001, "orders")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_plan_qd_").toString + "/store"
    graft.ops.QuarantineStore.build(orders, dir)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(
      keys(graft.ops.QuarantineStore.probeDirect(spark, dir, orders)) ==
        keys(graft.ops.QuarantineStore.probe(spark, dir, orders)))
    // drop the probe month's partition dir: every candidate passes
    val part = new java.io.File(s"$dir/order_month=1997-03")
    assert(part.isDirectory)
    part.listFiles().foreach(_.delete()); part.delete()
    val month = orders.filter(
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("o_orderdate"),
        "yyyy-MM") === "1997-03")
    assert(keys(graft.ops.QuarantineStore.probeDirect(
      spark, dir, orders)) == keys(month))
  }

  test("sessionize: two user-keyed shuffles, no self-join (W2 plan)") {
    val events = graft.queries.Q.t(spark, sf001, "events")
    val plan = executed(graft.ext.Sessions.sessionize(events, 30))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 shuffles, got $exchanges in:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
  }

  test("scd2 fromLog: both window passes share one key shuffle (u1 plan)") {
    val events = graft.queries.Q.t(spark, sf001, "events")
    val plan = executed(graft.ops.Scd2.fromLog(
      events, "user_id", "ts", "event_type", "event_id"))
    // lag-compress and lead-version partition AND order identically,
    // so Catalyst must plan exactly one hashpartitioning exchange —
    // a second exchange means the two windows stopped sharing the sort
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges in:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
  }

  test("scd2 applyChanges: snapshot never shuffles (u2 plan)") {
    val cur = graft.queries.Q.t(spark, sf001, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        graft.queries.Q.ts("2024-01-01 00:00:00").as("valid_from"))
    val upd = graft.queries.Q.t(spark, sf001, "customer")
      .filter(col("c_acctbal") < 0)
      .select(col("c_custkey"), lit("DELINQUENT").as("c_mktsegment"))
    val plan = executed(graft.ops.Scd2.applyChanges(
      cur, upd, "c_custkey", "c_mktsegment",
      graft.queries.Q.ts("2024-02-01 00:00:00")))
    assert(plan.contains("BroadcastHashJoin"), s"batch not broadcast:\n$plan")
    assert(!"Exchange hashpartitioning".r.findAllIn(plan).hasNext,
      s"snapshot-side shuffle in:\n$plan")
  }

  test("chunk: narrow map+explode, no shuffle at all (c4 plan)") {
    val plan = executed(graft.ext.Chunking.chunk(docs, 64, 16))
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
    assert(plan.contains("Generate"), s"explode missing from:\n$plan")
  }

  test("epochShuffle: range-partitioned sort, no single-partition window") {
    val plan = executed(graft.ext.Curation.epochShuffle(docs, "doc_id", 1))
    assert(plan.contains("Exchange rangepartitioning"),
      s"expected a range-partitioned global sort in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }

  test("drift PSI: every shuffle is bin-keyed; share totals broadcast (e8)") {
    val plan = executed(graft.ext.Drift.psiBinned(
      docs, docs.filter(col("lang") === "en"), col("n_chars"), 100))
    // the per-side totals come back as 1-row broadcasts; the bin
    // tables are the ONLY hash-partitioned exchanges — a corpus-keyed
    // shuffle here would mean the report stopped being bounded
    val keyed = "Exchange hashpartitioning\\(([^,]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.startsWith("bin")),
      s"non-bin shuffle keys $keyed in:\n$plan")
  }

  test("bloom dedup: membership prefilter present, anti-join preserved (d10)") {
    val corpus = docs.limit(100)
    val batch = docs.select(col("doc_id") + 5000L as "doc_id", col("text"))
    val plan = executed(graft.ext.Dedup.bloomIncrementalDedup(batch, corpus))
    // the filter must actually gate rows (a broken literal would fall
    // back to scanning everything into the join), and the exact
    // verification anti-join must survive for the positives
    assert(plan.contains("might_contain"), s"bloom filter missing:\n$plan")
    assert(plan.contains("LeftAnti"), s"exact verify join missing:\n$plan")
  }

  test("winsorize: bounds re-attach via broadcast, clip rides the scan (e9)") {
    val li = graft.queries.Q.t(spark, sf001, "lineitem")
    val plan = executed(graft.ext.Curation.winsorize(
      li, "l_returnflag", "l_extendedprice", 0.05, 0.95))
    // the per-group bounds table is group-count-sized; shipping it
    // back as a sort-merge join would re-shuffle the whole fact side
    assert(plan.contains("BroadcastHashJoin"), s"bounds not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact-side shuffle join:\n$plan")
    // the only hash exchange is the percentile aggregation's group key
    val keyed = "Exchange hashpartitioning\\(([^,#]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keyed.forall(_.startsWith("l_returnflag")),
      s"non-group shuffle keys $keyed in:\n$plan")
  }

  test("grouped top-k aggregates map-side before the shuffle (o4 plan)") {
    val docs = graft.queries.Q.t(spark, sf001, "documents")
    val plan = executed(docs.groupBy(col("lang"))
      .agg(graft.ops.TopKAgg.topK(3)(
        col("n_chars").cast("double"), col("doc_id")).as("top")))
    // the whole point of the Aggregator form: a partial aggregate on
    // the scan side bounds shuffle volume at k rows per (group,
    // partition) — and no Window/rank machinery anywhere
    assert(plan.toLowerCase.contains("partial_topkagg"),
      s"no map-side partial aggregate in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected Window in:\n$plan")
  }

  test("duplicateSpans: gram-keyed match join, pair-keyed islands (d12)") {
    val plan = executed(graft.ext.Dedup.duplicateSpans(docs))
    // the candidate join must shuffle on the n-gram, never on doc pairs
    assert(plan.contains("hashpartitioning(blk"),
      s"match join not (blk, gram)-keyed in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pairwise join leaked in:\n$plan")
    // gaps-and-islands windows are (pair, diagonal)-keyed, not global
    assert(!plan.contains("Window [") || plan.contains("windowspecdefinition"),
      s"window shape unexpected in:\n$plan")
    assert("hashpartitioning\\(id_a".r.findAllIn(plan).nonEmpty,
      s"island window not pair-keyed in:\n$plan")
  }

  test("bigram cross-entropy: one model shuffle, narrow scoring (t15)") {
    val plan = executed(graft.ext.Relevance.charBigramCrossEntropy(docs))
    // round-7 shape: the ONLY corpus-keyed exchange is the model
    // build's groupBy(b) (alphabet²-bounded after map-side combine);
    // scoring is a narrow fold under the one-row model cross join —
    // no (doc, bigram) hash join, no doc-keyed collect_list shuffle
    assert(!plan.contains("SortMergeJoin"),
      s"corpus re-shuffled for the model join in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"one-row model map not broadcast in:\n$plan")
    val docKeyed = "hashpartitioning\\(doc_id".r.findAllIn(plan).size
    assert(docKeyed == 0,
      s"scoring still shuffles by doc_id ($docKeyed exchanges):\n$plan")
  }

  test("scd2 asOf rides the scan: valid_from filter pushes to parquet (u4)") {
    // the read-side contract: over a MATERIALIZED version table the
    // point-in-time lookup is a pure scan filter — valid_from <= at
    // must reach the parquet reader (row-group pruning at scale)
    val events = graft.queries.Q.t(spark, sf001, "events")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_scd2_asof").toString
    graft.ops.Scd2.fromLog(events, "user_id", "ts", "event_type", "event_id")
      .write.mode("overwrite").parquet(dir)
    val versions = spark.read.parquet(dir)
    val plan = executed(graft.ops.Scd2.asOf(versions,
      lit("2024-01-15 12:00:00").cast("timestamp")))
    assert(plan.contains("PushedFilters") &&
      "PushedFilters: \\[[^\\]]*valid_from".r.findFirstIn(plan).isDefined,
      s"valid_from not pushed to the scan in:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("keyword probe (default/production): term IN pushed to the " +
      "postings scan, no tokenize, no corpus text, and NO doclens-" +
      "wide work — stats come from the 1-row gauge (k8 plan)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_plan").toString
    KeywordIndex.build(docs, dir)
    val probed = KeywordIndex.probe(spark, dir,
      Seq("data", "query", "shuffle"), topN = 20)
    val plan = executed(probed)
    // the build/serve split's whole point: the probe reads the query
    // terms' postings NEIGHBORHOOD (term IN (...) reaching the
    // parquet reader prunes row groups once compact/build has
    // term-range-clustered the files), never the corpus text, and
    // re-tokenizes nothing (t7 pays one split per doc per query —
    // the index paid it once at build)
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan).isDefined,
      s"term IN not pushed to the postings scan in:\n$plan")
    assert(!plan.contains("split("),
      s"probe re-tokenizes text in:\n$plan")
    assert(!plan.contains("text#"),
      s"probe reads corpus text in:\n$plan")
    // the VERDICT-r9 `weak` closed: the default probe plan must not
    // touch doclens AT ALL — candidate dl rides the postings rows,
    // (n_docs, sum_dl) ride the 1-row stats gauge. Any doclens scan
    // here would be a per-query O(live doc count) term at 100 TB.
    assert(!plan.contains("doclens"),
      s"default probe plan reads doclens in:\n$plan")
  }

  test("keyword probe (zeroFill, the oracle posture): the tail is " +
      "orderBy+limit over doclens, not a corpus-wide rank window") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_planz").toString
    KeywordIndex.build(docs, dir)
    val plan = executed(KeywordIndex.probe(spark, dir,
      Seq("data", "query", "shuffle"), topN = 20, zeroFill = true))
    assert(plan.contains("TakeOrderedAndProject"),
      s"zero-fill page is not a bounded top-k in:\n$plan")
    assert(!plan.contains("split(") && !plan.contains("text#"),
      s"zero-fill probe touches corpus text in:\n$plan")
  }

  test("keyword probeMany: one composed plan — no doclens, term IN " +
      "pushed, and NO global window (every rank window qid-keyed)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_planm").toString
    KeywordIndex.build(docs, dir)
    val probed = KeywordIndex.probeMany(spark, dir,
      Seq(0L -> Seq("data", "query"), 1L -> Seq("shuffle", "spark")),
      topN = 10)
    val plan = executed(probed)
    assert(!plan.contains("doclens"),
      s"batched probe reads doclens in:\n$plan")
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan).isDefined,
      s"term IN not pushed in:\n$plan")
    assert(!plan.contains("split(") && !plan.contains("text#"),
      s"batched probe touches corpus text in:\n$plan")
    // the batch dimension is the partition key: unlike the single
    // probe's audited global rank window, the batched serve must
    // plan ZERO global windows (PlanGuard's rule, asserted directly)
    assert(!graft.plans.PlanGuard.findings(probed)
      .exists(_.rule == "global-window"),
      "batched probe plans a global window")
  }

  test("keyword batched filtered/threshold serves: no doclens, term " +
      "IN pushed, no global window (k17/k18 plans)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_planmf").toString
    KeywordIndex.build(docs, dir)
    val queries = Seq(0L -> Seq("data", "query"), 1L -> Seq("shuffle"))
    val pairs = docs.filter(col("doc_id") % 2 === 0)
      .select(lit(0L).as("qid"), col("doc_id"))
      .unionByName(docs.filter(col("doc_id") % 3 === 0)
        .select(lit(1L).as("qid"), col("doc_id")))
    val filtered = KeywordIndex.probeManyFiltered(spark, dir, queries,
      topN = 10, allowed = pairs)
    val fPlan = executed(filtered)
    assert(!fPlan.contains("doclens"),
      s"batched filtered serve reads doclens in:\n$fPlan")
    assert("PushedFilters: \\[[^\\n]*In\\(term".r
      .findFirstIn(fPlan).isDefined,
      s"term IN not pushed in:\n$fPlan")
    assert(!graft.plans.PlanGuard.findings(filtered)
      .exists(_.rule == "global-window"),
      "batched filtered serve plans a global window")
    val ranged = KeywordIndex.probeManyRange(spark, dir, queries,
      minScore = 0.5)
    val rPlan = executed(ranged)
    assert(!rPlan.contains("doclens"),
      s"batched range serve reads doclens in:\n$rPlan")
    assert(!rPlan.contains("Window"),
      s"batched range serve plans a window in:\n$rPlan")
  }

  test("keyword filtered serve, global-stats posture: no doclens — " +
      "same plan class as the unfiltered probe (k11g plan)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_planf").toString
    KeywordIndex.build(docs, dir)
    val plan = executed(KeywordIndex.probeTopKFiltered(spark, dir,
      Seq("data", "query", "shuffle"), topN = 20,
      allowed = docs.filter(col("doc_id") % 3 === 0).select("doc_id"),
      scopedStats = false))
    assert(!plan.contains("doclens"),
      s"global-stats filtered serve reads doclens in:\n$plan")
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan).isDefined,
      s"term IN not pushed in:\n$plan")
  }

  test("keyword filtered serve, scoped-stats posture: a small " +
      "allowed subset pushes id IN to BOTH scans — the doclens " +
      "statistics reduction is footer-bound, not a full-asset " +
      "semi-join scan (k11 plan)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_plans").toString
    KeywordIndex.build(docs, dir)
    // compact id-sorts doclens, the layout that makes the pushed id
    // predicate actually prune row groups at scale
    KeywordIndex.compact(spark, dir)
    val plan = executed(KeywordIndex.probeTopKFiltered(spark, dir,
      Seq("data", "query", "shuffle"), topN = 20,
      allowed = docs.filter(col("doc_id") % 3 === 0).select("doc_id"),
      zeroFill = true))
    // the subset statistics (n_docs, sum_dl) must reduce over an
    // id-IN-pruned doclens scan: the FileScan line whose Location is
    // the doclens asset carries In(id…) in PushedFilters
    assert("doclens[^\\n]*PushedFilters: \\[[^\\n]*In\\(id".r
      .findFirstIn(plan).isDefined,
      s"id IN not pushed to the doclens scan in:\n$plan")
    // and the candidate slice carries it beside term IN
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*In\\(term".r
      .findFirstIn(plan).isDefined,
      s"term IN not pushed to the postings scan in:\n$plan")
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*In\\(id".r
      .findFirstIn(plan).isDefined,
      s"id IN not pushed to the candidate postings scan in:\n$plan")
    // no broadcast semi-join restriction anywhere: the driver-known
    // subset became literals, so nothing joins against the allowed
    // frame (LeftSemi here would mean the full asset was scanned)
    assert(!plan.contains("LeftSemi"),
      s"semi-join restriction despite a driver-known small subset:\n$plan")
    // the ABOVE-CAP fallback still pushes the subset's [min, max]
    // hull beneath the semi-join — range-clustered grants prune at
    // the footer even when the id list cannot be enumerated
    val over = executed(KeywordIndex.probeTopKFiltered(spark, dir,
      Seq("data", "query", "shuffle"), topN = 20,
      allowed = docs.filter(col("doc_id") % 3 === 0).select("doc_id"),
      zeroFill = true, pushdownCap = 1))
    assert(over.contains("LeftSemi"),
      s"above-cap fallback must keep the exact semi-join:\n$over")
    assert("doclens[^\\n]*PushedFilters: \\[[^\\n]*GreaterThanOrEqual\\(id".r
      .findFirstIn(over).isDefined,
      s"id hull not pushed to the doclens scan above the cap:\n$over")
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*GreaterThanOrEqual\\(id".r
      .findFirstIn(over).isDefined,
      s"id hull not pushed to the postings scan above the cap:\n$over")
  }

  test("keyword filtered serve, above-cap allowed frame: the " +
      "broadcast hint is a DIAL, not a hardcode — broadcastAllowed " +
      "= false leaves the semi-join strategy to Catalyst/AQE (a " +
      "corpus-proportional grant must never be forced through a " +
      "driver-sized broadcast)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_plandial").toString
    KeywordIndex.build(docs, dir)
    // threshold -1 + static planning: the ONLY way a broadcast can
    // appear is the explicit hint, so the two plans isolate the dial
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def overPlan(dial: Boolean): String = executed(
        KeywordIndex.probeTopKFiltered(spark, dir,
          Seq("data", "query", "shuffle"), topN = 20,
          allowed = docs.filter(col("doc_id") % 3 === 0)
            .select("doc_id"),
          zeroFill = true, pushdownCap = 1, broadcastAllowed = dial))
      val hinted = overPlan(true)
      assert("BroadcastHashJoin[^\\n]*LeftSemi".r
        .findFirstIn(hinted).isDefined,
        s"default dial must hint the allowed-frame semi-join:\n$hinted")
      val unhinted = overPlan(false)
      assert("BroadcastHashJoin[^\\n]*LeftSemi".r
        .findFirstIn(unhinted).isEmpty,
        s"broadcastAllowed = false still forces a broadcast:\n$unhinted")
      assert(unhinted.contains("LeftSemi"),
        s"above-cap restriction lost its semi-join:\n$unhinted")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("keyword tenant serve: statistics from the tenant's ONE " +
      "gauge row, candidates id-IN-pruned, tenant= pushed to the " +
      "overlay scan — doclens NEVER read, even with zeroFill") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_plant").toString
    KeywordIndex.build(docs, dir)
    KeywordIndex.registerTenants(spark, dir,
      docs.select(col("doc_id"),
        concat(lit("t"), col("doc_id") % 3).as("tenant")))
    val plan = executed(KeywordIndex.probeTopKTenant(spark, dir,
      Seq("data", "query", "shuffle"), topN = 20, "t0",
      zeroFill = true))
    // the scale-honest headline: the scoped-statistics serve touches
    // postings + the (tenant,id)-clustered overlay slice + the
    // 1-row-per-tenant gauge — the per-probe O(live doc count)
    // doclens reduction the ad-hoc filtered serve pays is GONE
    assert(!plan.contains("doclens"),
      s"tenant serve reads doclens in:\n$plan")
    assert("tenants[^\\n]*PushedFilters: \\[[^\\n]*EqualTo\\(tenant".r
      .findFirstIn(plan).isDefined,
      s"tenant= not pushed to the overlay scan in:\n$plan")
    // the tenant's ONE gauge row enters the plan as driver-read
    // LITERAL statistics (r15: no tstats scan, no broadcast-build
    // sub-job) — the plan must not touch the gauge asset at all
    assert(!plan.contains("tstats"),
      s"tenant serve still scans the gauge asset in:\n$plan")
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*In\\(id".r
      .findFirstIn(plan).isDefined,
      s"id IN not pushed to the candidate postings scan in:\n$plan")
    assert(!plan.contains("split(") && !plan.contains("text#"),
      s"tenant serve touches corpus text in:\n$plan")
  }

  test("IVFADC serve: the query side is one row per query — no LUT " +
      "aggregate, no exchange keyed on (qid, mi) (x9 plan)") {
    import graft.ext.AnnIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_planlut").toString + "/ix"
    AnnIndex.build(embs, dir)
    val q = embs.filter(col("vec_id") < 5)
    for (plan <- Seq(
        executed(AnnIndex.probeTopK(spark, dir, q, k = 3)),
        executed(AnnIndex.probeRange(spark, dir, q, threshold = 0.3)))) {
      assert(!plan.contains("ObjectHashAggregate"),
        s"LUT built by an aggregate in:\n$plan")
      assert("Exchange hashpartitioning\\(qid#\\d+L?, mi#".r
        .findFirstIn(plan).isEmpty,
        s"exchange keyed on (qid, mi) in:\n$plan")
    }
  }

  test("dense tenant serve: grant as pushed nid IN literals under " +
      "the cap (no join against the overlay at all), honest " +
      "semi-join above it, tenant= pushed to the overlay scan " +
      "(x21 plan)") {
    import graft.ext.AnnIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_plant").toString + "/ix"
    AnnIndex.build(embs, dir)
    AnnIndex.registerTenants(spark, dir,
      embs.select(col("vec_id"),
        concat(lit("t"), col("vec_id") % 3).as("tenant")))
    val q = embs.filter(col("vec_id") < 5)
    val plan = executed(
      AnnIndex.probeTopKTenant(spark, dir, q, k = 3, tenant = "t0"))
    // under the cap the grant became driver-known literals: the
    // postings scan carries In(nid…) and NOTHING joins the overlay
    // inside the probed plan (its read happened at literal-collect
    // time) — the serve plan touches postings + the two broadcast
    // quantization assets only
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*In\\(nid".r
      .findFirstIn(plan).isDefined,
      s"nid IN not pushed to the postings scan in:\n$plan")
    assert(!plan.contains("LeftSemi"),
      s"semi-join restriction despite a driver-known grant in:\n$plan")
    assert(!plan.contains("tenants"),
      s"overlay scanned inside the probe plan in:\n$plan")
    // above the cap: the overlay slice restricts as an exact keyed
    // semi-join, tenant= pushed to the clustered overlay scan
    val over = executed(AnnIndex.probeTopKTenant(spark, dir, q,
      k = 3, tenant = "t0", pushdownCap = 1))
    assert(over.contains("LeftSemi"),
      s"above-cap fallback must keep the exact semi-join:\n$over")
    assert("tenants[^\\n]*PushedFilters: \\[[^\\n]*EqualTo\\(tenant".r
      .findFirstIn(over).isDefined,
      s"tenant= not pushed to the overlay scan in:\n$over")
  }

  test("dense tenant RANGE serve: same grant posture as x21 — " +
      "nid IN literals on the postings scan under the cap (no " +
      "LeftSemi, no overlay scan in the probe plan), semi-join " +
      "above it — and NO rank window anywhere (x23 plan)") {
    import graft.ext.AnnIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_planrt").toString + "/ix"
    AnnIndex.build(embs, dir)
    AnnIndex.registerTenants(spark, dir,
      embs.select(col("vec_id"),
        concat(lit("t"), col("vec_id") % 3).as("tenant")))
    val q = embs.filter(col("vec_id") < 5)
    val plan = executed(AnnIndex.probeRangeTenant(spark, dir, q,
      threshold = 0.3, tenant = "t0"))
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*In\\(nid".r
      .findFirstIn(plan).isDefined,
      s"nid IN not pushed to the postings scan in:\n$plan")
    assert(!plan.contains("LeftSemi"),
      s"semi-join restriction despite a driver-known grant in:\n$plan")
    assert(!plan.contains("tenants"),
      s"overlay scanned inside the probe plan in:\n$plan")
    // the threshold shape plans NO candidate rank window at all —
    // exactly ONE Window node survives (the nprobe centroid probe;
    // its WindowGroupLimit pre-passes repeat the row_number text,
    // so count Window NODES), where top-k plans two
    assert("Window \\[row_number".r.findAllIn(plan).size == 1,
      s"threshold serve must plan only the centroid window:\n$plan")
    // above the cap: the honest exact semi-join returns
    val over = executed(AnnIndex.probeRangeTenant(spark, dir, q,
      threshold = 0.3, tenant = "t0", pushdownCap = 1))
    assert(over.contains("LeftSemi"),
      s"above-cap fallback must keep the exact semi-join:\n$over")
  }

  test("phrase serve: term IN pushed to the positions scan, keyed " +
      "id joins + array_intersect fold only — no corpus text, no " +
      "doclens, no window anywhere (k26 plan)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_planph").toString
    KeywordIndex.build(docs, dir)
    KeywordIndex.compact(spark, dir)
    val plan = executed(
      KeywordIndex.probePhrase(spark, dir, Seq("data", "query")))
    assert("positions[^\\n]*PushedFilters: \\[[^\\n]*In\\(term".r
      .findFirstIn(plan).isDefined,
      s"term IN not pushed to the positions scan in:\n$plan")
    assert(!plan.contains("doclens"),
      s"phrase serve reads doclens in:\n$plan")
    assert(!plan.contains("split(") && !plan.contains("text#"),
      s"phrase serve touches corpus text in:\n$plan")
    assert(!plan.contains("Window"),
      s"phrase serve plans a window in:\n$plan")
    assert(plan.contains("array_intersect"),
      s"adjacency fold missing from:\n$plan")
  }

  test("keyword batched tenant serve: one tenant-IN-pruned overlay " +
      "slice, union-grant id IN on the postings scan, per-qid gauge " +
      "stats keyed on qid, no doclens, no global window (k20 plan)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_planmt").toString
    KeywordIndex.build(docs, dir)
    KeywordIndex.compact(spark, dir)
    KeywordIndex.registerTenants(spark, dir,
      docs.select(col("doc_id"),
        concat(lit("t"), col("doc_id") % 3).as("tenant")))
    val served = KeywordIndex.probeManyTenant(spark, dir,
      Seq((0L, Seq("data", "query"), "t0"), (1L, Seq("shuffle"), "t1")),
      topN = 10)
    val plan = executed(served)
    assert(!plan.contains("doclens"),
      s"batched tenant serve reads doclens in:\n$plan")
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*In\\(term".r
      .findFirstIn(plan).isDefined,
      s"term IN not pushed to the postings scan in:\n$plan")
    assert("postings[^\\n]*PushedFilters: \\[[^\\n]*In\\(id".r
      .findFirstIn(plan).isDefined,
      s"union-grant id IN not pushed to the postings scan in:\n$plan")
    assert("tenants[^\\n]*PushedFilters: \\[[^\\n]*In\\(tenant".r
      .findFirstIn(plan).isDefined,
      s"tenant IN not pushed to the overlay scan in:\n$plan")
    // per-qid gauge statistics resolve DRIVER-side (r15): the plan
    // must not scan the gauge asset — the qid-keyed stats join reads
    // a LocalRelation, whose broadcast builds without a job
    assert(!plan.contains("tstats"),
      s"batched tenant serve still scans the gauge asset in:\n$plan")
    assert(!graft.plans.PlanGuard.findings(served)
      .exists(_.rule == "global-window"),
      "batched tenant serve plans a global window")
    assert(!plan.contains("split(") && !plan.contains("text#"),
      s"batched tenant serve touches corpus text in:\n$plan")
  }

  test("keyword range serve: join-score-filter only — no rank " +
      "window, no doclens (k12 plan)") {
    import graft.ext.KeywordIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kw_planr").toString
    KeywordIndex.build(docs, dir)
    val plan = executed(KeywordIndex.probeRange(spark, dir,
      Seq("data", "query", "shuffle"), minScore = 0.7))
    assert(!plan.contains("doclens"),
      s"range serve reads doclens in:\n$plan")
    assert(!plan.contains("RunningWindowFunction") &&
      !plan.contains("row_number"),
      s"range serve plans a rank window in:\n$plan")
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan).isDefined,
      s"term IN not pushed in:\n$plan")
  }

  test("nested rollup: one key shuffle builds the array, no Window (n1)") {
    val li = graft.queries.Q.t(spark, sf001, "lineitem")
    val df = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice")))).as("items"))
      .select(col("l_orderkey"), size(col("items")).as("n_items"))
    val plan = executed(df)
    // the nest is ONE exchange on the group key — a Window (the
    // flatten-and-rank alternative) would add a per-partition sort of
    // the whole fact table and a rank filter on top
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected Window in:\n$plan")
  }
}
