package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.ext.{KeywordIndex, StoredIndex}
import graft.streaming.StreamingDedupIngest

/** Shared stored-index plumbing: id assets read fail-closed whatever
  * their layout, and the overlap pool runs each task under the Spark
  * context of the thread that submitted it. */
class StoredIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf001/documents.parquet")
    .select("doc_id", "text").localCheckpoint()

  test("id assets in a nested layout fail closed: tombstones and the " +
      "takedown ledger still apply") {
    val root = Files.createTempDirectory("graft_nested_").toString
    // markers only: no data, so no asset
    val empty = s"$root/empty"
    Files.createDirectories(java.nio.file.Paths.get(empty))
    Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    assert(StoredIndex.readIdAsset(spark, empty, "id").isEmpty)
    assert(StoredIndex.readPairAsset(spark, empty).isEmpty)

    // a partitioned deletes/ asset holds no flat parquet file; its
    // ids must still leave every serve
    val ix = s"$root/kw"
    KeywordIndex.build(docs.filter($"doc_id" < 120), ix)
    def page() = KeywordIndex.probe(spark, ix, Seq("data"), 5)
      .as[(Int, Long, Double)].collect().map(_._2).toSeq
    val top = page().head
    Seq(top).toDF("id").withColumn("part", lit(0))
      .write.partitionBy("part").parquet(s"$ix/deletes")
    val dels = StoredIndex.readDeleteIds(spark, ix)
    assert(dels.exists(_.litIds.isEmpty), "nested asset must read as a frame")
    assert(!page().contains(top), "a nested tombstone must stay applied")
    assert(!KeywordIndex.liveIndexedIds(spark, ix).as[Long].collect()
      .contains(top))
    val pairs = s"$root/tdels"
    Seq((top, "t1")).toDF("id", "tenant").write.partitionBy("tenant")
      .parquet(pairs)
    assert(StoredIndex.readPairAsset(spark, pairs).exists(_.isRight))

    // a partitioned takedown ledger: the retracted id is not
    // re-admitted when a drop re-delivers it
    val ingest = new StreamingDedupIngest(spark, s"$root/dix",
      s"$root/corpus", s"$root/quarantine")
    ingest.seed(docs.filter($"doc_id" < 50))
    Seq(60L).toDF("doc_id").withColumn("part", lit(0))
      .write.partitionBy("part").parquet(s"$root/corpus_retracted")
    StreamingDedupIngest.stage(
      docs.filter($"doc_id" >= 55 && $"doc_id" < 65), s"$root/staging", "d1")
    ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
    val kept = ingest.corpus().select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(60L), "a nested ledger must keep its id out")
    assert(kept.contains(61L))
  }

  test("declared asset schemas read what schema inference reads, " +
      "after a build and after an append") {
    val root = Files.createTempDirectory("graft_schemas_").toString
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    graft.ext.AnnIndex.build(embs.filter($"vec_id" < 300), s"$root/ann")
    graft.ext.AnnIndex.append(
      embs.filter($"vec_id" >= 300 && $"vec_id" < 320), s"$root/ann")
    KeywordIndex.build(docs.filter($"doc_id" < 100), s"$root/kw")
    KeywordIndex.append(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 120), s"$root/kw")
    for ((family, dir, asset) <- Seq(
        ("AnnIndex", "ann", "centroids"), ("AnnIndex", "ann", "codebook"),
        ("AnnIndex", "ann", "postings"), ("KeywordIndex", "kw", "postings"),
        ("KeywordIndex", "kw", "doclens"))) {
      val declared = StoredIndex.readAsset(spark, family, s"$root/$dir",
        asset)
      val inferred = spark.read.parquet(s"$root/$dir/$asset")
      assert(declared.schema == inferred.schema,
        s"$family $asset: ${declared.schema} vs ${inferred.schema}")
      assert(declared.collect().toSeq.map(_.toString).sorted ==
        inferred.collect().toSeq.map(_.toString).sorted,
        s"$family $asset: rows differ")
    }
  }

  test("the overlap pool runs each task in its submitter's job group") {
    val sc = spark.sparkContext
    val groups = mutable.ArrayBuffer.empty[String]
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("pool-fence") => fenced.countDown()
          case Some(g) if g.startsWith("pool-") =>
            groups.synchronized(groups += g)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    // one submitter after the other: the second reuses the pool
    // threads the first one's tasks created
    def submitter(group: String): Thread = new Thread(() => {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      StoredIndex.inParallel(
        () => sc.parallelize(1 to 4).count(),
        () => sc.parallelize(1 to 8).count())
    })
    try {
      Seq("pool-a", "pool-b").foreach { g =>
        val t = submitter(g)
        t.start()
        t.join()
      }
      sc.setJobGroup("pool-fence", "fence", interruptOnCancel = false)
      sc.parallelize(1 to 2).count()
      assert(fenced.await(60, TimeUnit.SECONDS))
      val byGroup = groups.synchronized(groups.groupBy(identity)
        .map { case (g, js) => g -> js.size })
      assert(byGroup == Map("pool-a" -> 2, "pool-b" -> 2), byGroup)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
