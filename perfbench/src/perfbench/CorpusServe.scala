package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{AnnIndex, Relevance}
import graft.streaming.{StreamingCorpusIngest, StreamingDedupIngest}

/** Read-heavy use of the stored-index core. One joint coordinator with
  * keyword serving is seeded, fed a drop of near-duplicate copies (the
  * gate quarantines them) and given tenants on both the keyword and the
  * ANN family. The closed loop then serves, one request at a time:
  * keyword, hybrid, filtered hybrid, tenant hybrid, ANN top-k and tenant
  * ANN top-k pages, each timed as call plus collect. Requests 3 and 6 are
  * mutations instead: a retract of a live document, which adds a
  * tombstone, and a readmit of a quarantined copy.
  */
final class CorpusServe extends Workload {
  import CorpusServe._

  private val serveKinds = Seq("streaming.probeKeywords", "streaming.probeHybrid",
    "streaming.probeHybridFiltered", "streaming.probeHybridTenant", "ext.ann.probeTopK",
    "ext.ann.probeTopKTenant")
  val calls: Seq[String] = serveKinds ++ Seq("streaming.retract", "streaming.readmit")

  private val seedIds: IndexedSeq[Long] = (0L until SeedDocs).toIndexedSeq
  private val dupIds: IndexedSeq[Long] = (SeedDocs until SeedDocs + NearDups).toIndexedSeq
  private var spark: SparkSession = _
  private var root: String = _
  private var embPath: String = _
  private var joint: StreamingCorpusIngest = _
  private var inputBytes = 0L
  private val retracted = mutable.LinkedHashSet.empty[Long]
  private val quarantined = mutable.ArrayBuffer.empty[Long]
  private var qid = 0L
  private val serveMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val mutationMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var ops = 0L
  private var opSeconds = 0.0

  private def annDir = s"$root/ann_index"
  private def embs: DataFrame = spark.read.parquet(embPath)
  private def dupSource(id: Long): Long = java.lang.Math.floorMod(id * 7919L, SeedDocs)

  def setup(ctx: Ctx): Double = {
    spark = ctx.spark
    val docs = seedIds.map(i => i -> Gen.docText(ctx.seed, i)) ++
      dupIds.map(i => i -> Gen.nearDupText(ctx.seed, dupSource(i), i))
    val docPath = s"${ctx.root}/input/docs.parquet"
    embPath = s"${ctx.root}/input/embeddings.parquet"
    Gen.docsFrame(spark, docs).write.parquet(docPath)
    Gen.embFrame(spark, (seedIds ++ dupIds).map(i => i -> Gen.embedding(ctx.seed, i)))
      .write.parquet(embPath)
    inputBytes = Seq(docPath, embPath).map(p => Main.treeBytes(new java.io.File(p))).sum
    val allDocs = spark.read.parquet(docPath)
    val assign = idsFrame(spark, seedIds).withColumn("tenant",
      concat(lit("t"), pmod(col("doc_id") * Hash, lit(Tenants.toLong))))

    val t0 = System.nanoTime()
    root = ctx.freshDir("corpus")
    joint = new StreamingCorpusIngest(spark, root, keywordServing = true)
    ctx.call("streaming.seed")(joint.seed(allDocs.filter(col("doc_id") < SeedDocs), embs))
    StreamingDedupIngest.stage(allDocs.filter(col("doc_id") >= SeedDocs), s"$root/staging", "d1")
    ctx.call("streaming.ingestAvailable")(
      joint.ingestAvailable(s"$root/staging", s"$root/ckpt", embs))
    ctx.call("streaming.registerTenants")(joint.registerTenants(assign))
    ctx.call("ext.ann.registerTenants")(
      AnnIndex.registerTenants(spark, annDir, assign.withColumnRenamed("doc_id", "vec_id")))
    val q = spark.read.parquet(s"$root/quarantine").select("doc_id").collect().map(_.getLong(0)).toSet
    ctx.check(q == dupIds.toSet, s"near-dup gate quarantined ${q.size} of ${dupIds.size} copies")
    quarantined ++= dupIds.filter(q)
    val r = new java.util.SplittableRandom(ctx.seed * 7 + 1)
    // warm-up: every serve kind once
    serveKinds.foreach(k => serve(ctx, k, r))
    serveMs.clear()
    extra("seed_docs") = SeedDocs
    extra("near_dups") = NearDups
    (System.nanoTime() - t0) / 1e9
  }

  private def serve(ctx: Ctx, kind: String, r: java.util.SplittableRandom): Double = {
    qid += 1
    val terms = Gen.QueryTerms(r.nextInt(Gen.QueryTerms.size))
    val qv = queryVec(spark, ctx.seed, seedIds(r.nextInt(seedIds.size)), qid)
    val tenant = s"t${r.nextInt(Tenants)}"
    val allowed = Seq.fill(AllowedIds)(seedIds(r.nextInt(seedIds.size))).distinct
    val t0 = System.nanoTime()
    val rows = ctx.call(kind) {
      val page = kind match {
        case "streaming.probeKeywords" => joint.probeKeywords(terms, 20)
        case "streaming.probeHybrid" => joint.probeHybrid(terms, qv, 10)
        case "streaming.probeHybridFiltered" =>
          joint.probeHybridFiltered(terms, qv, idsFrame(spark, allowed), 10)
        case "streaming.probeHybridTenant" => joint.probeHybridTenant(terms, qv, tenant, 10)
        case "ext.ann.probeTopK" => AnnIndex.probeTopK(spark, annDir, qv, k = 20)
        case "ext.ann.probeTopKTenant" => AnnIndex.probeTopKTenant(spark, annDir, qv, 20, tenant)
      }
      ctx.tracer.span("bench.collect")(page.collect())._1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    serveMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    val ids = rows.toSeq.map(row =>
      row.getAs[Long](if (row.schema.fieldNames.contains("doc_id")) "doc_id" else "nid"))
    val bad = ids.filter(retracted.contains)
    ctx.check(bad.isEmpty, s"$kind served retracted ids ${bad.take(5).mkString(",")}")
    if (kind.endsWith("Tenant"))
      ctx.check(ids.forall(i => i < SeedDocs && tenantOf(i) == tenant),
        s"$kind served ids outside tenant $tenant")
    if (kind == "streaming.probeHybridFiltered")
      ctx.check(ids.forall(allowed.toSet), s"$kind served ids outside the allowed set")
    ms
  }

  private def mutate(ctx: Ctx, retract: Boolean, r: java.util.SplittableRandom): Double = {
    val t0 = System.nanoTime()
    if (retract) {
      var id = seedIds(r.nextInt(seedIds.size))
      while (retracted.contains(id)) id = seedIds(r.nextInt(seedIds.size))
      ctx.call("streaming.retract")(joint.retract(idsFrame(spark, Seq(id))))
      retracted += id
    } else {
      val id = quarantined.remove(0)
      ctx.call("streaming.readmit")(joint.readmit(idsFrame(spark, Seq(id)), embs))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    mutationMs.getOrElseUpdate(if (retract) "retract" else "readmit", mutable.ArrayBuffer.empty) += ms
    ms
  }

  def timed(ctx: Ctx, deadline: Long): Unit = {
    val r = new java.util.SplittableRandom(ctx.seed)
    val t0 = System.nanoTime()
    var mutations = 0
    var serves = 0
    var cycle = serveKinds
    // at least two serves of each kind, however slow the host
    while (System.nanoTime() < deadline || serves < 2 * serveKinds.size) {
      ops += 1
      // requests 3 and 6 mutate, a retract and a readmit: early, so every
      // run times both, and only two, so a run's mix does not depend on
      // how far it got
      val mutation = ops == 3 || ops == 6
      // serve kinds in seeded order, each kind once per cycle of six
      if (!mutation && serves % serveKinds.size == 0)
        cycle = serveKinds.map(k => (r.nextLong(), k)).sortBy(_._1).map(_._2)
      val kind = cycle(serves % serveKinds.size)
      val (ms, traced) = ctx.tracer.request {
        if (mutation) mutate(ctx, mutations == 0, r)
        else serve(ctx, kind, r)
      }
      if (mutation) mutations += 1
      else {
        serves += 1
        ctx.primary += ((kind, ms, traced))
      }
    }
    opSeconds = (System.nanoTime() - t0) / 1e9
  }

  /** Geometric mean over kinds of each kind's median latency, so a run's
    * figure does not depend on how many requests of each kind it drew. */
  private def kindMedian(m: collection.Map[String, mutable.ArrayBuffer[Double]]): Double = {
    val meds = m.values.filter(_.nonEmpty).map(x => Stats.median(x.toSeq))
    math.exp(meds.map(math.log).sum / meds.size)
  }

  def verify(ctx: Ctx): Unit = {
    val all = serveMs.values.flatten.toSeq
    ctx.e2e("throughput_per_s") = ops / opSeconds
    ctx.e2e("read_p50_ms") = kindMedian(serveMs)
    ctx.e2e("write_p50_ms") = kindMedian(mutationMs)
    ctx.e2e("store_bytes_per_input_byte") = Main.treeBytes(new java.io.File(root)).toDouble / inputBytes
    ctx.layer("serve_p50_ms") = Stats.median(all)
    ctx.layer("serve_p90_ms") = Stats.quantile(all, 0.9)
    ctx.layer("ext.tombstones_end") = retracted.size.toDouble
    ctx.layer("ext.part_files_end") = Seq("keyword_index", "ann_index", "dedup_index").map { d =>
      val dir = new java.io.File(s"$root/$d")
      Option(dir.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).map(a =>
        graft.ext.StoredIndex.partFileCount(ctx.spark, dir.getPath, a.getName)).sum
    }.sum.toDouble
    extra("serves") = all.size
    extra("mutations") = mutationMs.values.map(_.size).sum
    extra("retracted") = retracted.size
    verifyPages(ctx)
  }

  /** End-of-run checks: the alignment audit is empty, a sampled keyword
    * page equals the in-query BM25 scorer over the live corpus, and a
    * sampled hybrid page equals that scorer fused with a replayed twin of
    * the ANN index (built on the seed vectors the live index trained on,
    * appended with every later live batch, retracted seed ids removed). */
  private def verifyPages(ctx: Ctx): Unit = {
    val drift = joint.alignment().limit(5).collect()
    ctx.check(drift.isEmpty, s"alignment() not empty: ${drift.mkString(", ")}")
    val corpus = joint.text.corpus().localCheckpoint()
    val r = new java.util.SplittableRandom(ctx.seed * 17 + 3)
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).limit(1).count() == 0 && b.exceptAll(a).limit(1).count() == 0
    val kwTerms = Gen.QueryTerms(r.nextInt(Gen.QueryTerms.size))
    ctx.check(same(joint.probeKeywords(kwTerms, 20, zeroFill = true),
        Relevance.bm25TopDocs(corpus, kwTerms, 20)),
      s"probeKeywords(${kwTerms.mkString(" ")}) != bm25TopDocs over the live corpus")

    val twinDir = ctx.freshDir("twin_ann")
    val seedEmbs = embs.join(idsFrame(spark, seedIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    AnnIndex.build(seedEmbs, twinDir)
    val maxB = joint.vectors.batchLedger().agg(max(col("batch"))).head.getLong(0)
    if (maxB > 0)
      AnnIndex.append(joint.vectors.storeDelta(0L, maxB).select("vec_id", "embedding"), twinDir)
    AnnIndex.remove(seedEmbs.join(idsFrame(spark, retracted.toSeq)
      .withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_semi"), twinDir)
    val terms = Gen.QueryTerms(r.nextInt(Gen.QueryTerms.size))
    val qv = queryVec(spark, ctx.seed, seedIds(r.nextInt(seedIds.size)), 900000L)
    val dense = AnnIndex.probeTopK(spark, twinDir, qv, k = 20).select(col("nid").as("doc_id"), col("rank"))
    ctx.check(same(joint.probeHybrid(terms, qv, 10, pageSize = 20, zeroFill = true),
        Relevance.rrfFuse(Relevance.bm25TopDocs(corpus, terms, 20), dense, 10)),
      s"probeHybrid(${terms.mkString(" ")}) != in-query twin")
  }
}

object CorpusServe {
  val SeedDocs = 800L
  val NearDups = 20L
  val AllowedIds = 200
  val Tenants = 4
  private val Hash = 2654435761L

  def tenantOf(id: Long): String = s"t${java.lang.Math.floorMod(id * Hash, Tenants.toLong)}"

  def idsFrame(spark: SparkSession, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map(i => Row(i)): _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false))))

  /** One query vector: a seeded perturbation of a corpus document's
    * embedding, under an id no document has. */
  def queryVec(spark: SparkSession, seed: Long, like: Long, qid: Long): DataFrame = {
    val r = new java.util.SplittableRandom(seed * 31 + qid)
    val v = Gen.embedding(seed, like).map(x => x + (r.nextDouble() * 0.2 - 0.1).toFloat)
    spark.createDataFrame(java.util.Arrays.asList(Row(-qid, v.toSeq)),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
  }
}
