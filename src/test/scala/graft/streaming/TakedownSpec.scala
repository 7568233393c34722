package graft.streaming

import org.apache.spark.sql.functions._

/** The takedown pushdown split (StoredIndex.holdIds): a
  * compliance-scale id request becomes an IN predicate the parquet
  * reader prunes row groups with (footer-bound discovery over the
  * ingests' id-sorted batch files), while an over-cap request falls
  * back to the semi-join — both paths purging bit-identically — and
  * the fetched keys (Takedown.keysOf) a readmit's refusals read. */
class TakedownSpec extends graft.SparkTestBase {
  import spark.implicits._

  test("id pushdown: literal/fallback split, scan posture, equal purges") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_tkd_").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    def writeStore(dir: String): Unit = {
      docs.filter($"doc_id" < 100).sortWithinPartitions("doc_id")
        .write.parquet(s"$dir/batch=0")
      docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
        .sortWithinPartitions("doc_id").write.parquet(s"$dir/batch=1")
    }
    writeStore(s"$root/a")
    writeStore(s"$root/b")

    // the split itself: small requests collect to literals, over-cap
    // requests return None (semi-join fallback)
    val small = spark.range(5).select(($"id" + 10).as("doc_id"))
    assert(graft.ext.StoredIndex.holdIds(small, "doc_id", 10000).litIds
      .map(_.sorted).contains(Seq(10L, 11L, 12L, 13L, 14L)))
    assert(graft.ext.StoredIndex.holdIds(small, "doc_id", 3).litIds.isEmpty)

    // scan posture of the literal path: the IN predicate reaches the
    // parquet reader (PushedFilters), so the sorted batch files'
    // row-group id stats can exclude unaffected groups on footers
    val probe = spark.read.parquet(s"$root/a")
      .filter($"doc_id".isin(3L, 150L))
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("In(doc_id"),
      s"id predicate must reach the parquet scan:\n$scan")

    // literal purge (default cap) == fallback purge (cap 0 forces
    // the semi-join), bit-identical remainders, ids gone from both
    val want = docs.filter($"doc_id" % 50 === 3 && $"doc_id" < 200)
      .select("doc_id").localCheckpoint()
    assert(want.count() >= 2)
    Takedown.purgeStore(spark, s"$root/a", want, "doc_id", Seq("text"))
    Takedown.purgeStore(spark, s"$root/b", want, "doc_id", Seq("text"),
      pushdownCap = 0)
    val a = spark.read.parquet(s"$root/a").select("doc_id", "text")
    val b = spark.read.parquet(s"$root/b").select("doc_id", "text")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "literal and fallback purges must leave identical stores")
    assert(a.join(want, Seq("doc_id"), "left_semi").isEmpty)
    assert(a.count() == docs.filter($"doc_id" < 200).count() -
      want.count())

    // empty request: no-op on either path
    Takedown.purgeStore(spark, s"$root/a",
      want.limit(0), "doc_id", Seq("text"))
    assert(spark.read.parquet(s"$root/a").count() == a.count())
  }

  test("held ids: a request naming few ids in many rows stays literal") {
    val repeated = Seq(7L, 3L, 7L, 7L, 3L).toDF("doc_id")
    assert(graft.ext.StoredIndex.holdIds(repeated, "doc_id", 3).litIds
      .contains(Seq(3L, 7L)))
    assert(graft.ext.StoredIndex.holdIds(repeated, "doc_id", 1).litIds
      .isEmpty)
  }

  test("readmit refuses a quarantined document re-delivered in a later " +
      "batch, in the literal and the frame form, and changes nothing") {
    import graft.ext.StoredIndex
    import StreamingDedupIngest.stage
    val root = java.nio.file.Files
      .createTempDirectory("graft_tkdre_").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").filter($"doc_id" < 10).localCheckpoint()
    val ingest = new StreamingDedupIngest(spark, s"$root/ix",
      s"$root/corpus", s"$root/q")
    ingest.seed(docs)
    // exact copies of seeded docs under fresh ids quarantine; a later
    // drop re-delivers one of them, and the gate (which checks the
    // index, not the quarantine) quarantines it again
    val copies = docs.filter($"doc_id" < 3)
      .select(($"doc_id" + 5000L).as("doc_id"), $"text")
    stage(copies, s"$root/staging", "d1")
    ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
    stage(copies.filter($"doc_id" === 5001L), s"$root/staging", "d2")
    ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
    def rows(dir: String) = spark.read.parquet(dir)
      .select($"doc_id", $"batch".cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    def state() = (rows(s"$root/corpus"), rows(s"$root/q"),
      spark.read.parquet(s"$root/ix/meta").collect().map(_.toString)
        .sorted.toSeq)
    val before = state()
    assert(before._2.count(_._1 == 5001L) == 2)
    for ((cap, req) <- Seq(StoredIndex.HeldIdCap -> Seq(5001L, 5002L),
                           0 -> Seq(5001L))) {
      val e = intercept[IllegalArgumentException](ingest.readmitHeld(
        StoredIndex.holdIds(req.toDF("doc_id"), "doc_id", cap)))
      assert(e.getMessage.contains("more than one batch"), e.getMessage)
      assert(state() == before, s"refused readmit of $req (cap $cap) wrote")
    }
  }
}
