package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.taxi.TaxiFixtures

/** Golden end-to-end test of the medallion pipeline over deterministic
  * taxi fixtures (SURVEY §5 test plan items 2-3: idempotency property,
  * quarantine routing, dedup, gold aggregates). */
class PipelineSpec extends SparkTestBase {

  private def freshWarehouse(): String =
    Files.createTempDirectory("graft_wh_").toString

  test("full pipeline: ingest 3 months, silver, gold") {
    val wh = freshWarehouse()
    val p = new Pipeline(spark, wh)
    p.run((1 to 3).map(m => () => TaxiFixtures.monthBatch(spark, 2024, m)))

    // bronze got the in-month rows of each batch; quarantine got the
    // next-month stragglers (one row after key-dedup per batch)
    val bronze = spark.read.parquet(s"$wh/bronze/yellow_taxi_raw")
    assert(bronze.count() > 5000)
    assert(bronze.select("pickup_month").distinct().count() >= 3)

    val invalid = p.meta.invalidRecords
    assert(invalid.count() >= 2) // one straggler key per month min
    // quarantine is key-deduplicated: no composite-key duplicates
    import graft.schema.Schemas
    assert(invalid.select(Schemas.invalidRecordsKey.map(col): _*)
      .distinct().count() == invalid.count())

    // ledger: one success row per ingest
    val ledger = p.meta.ledger
    assert(ledger.filter(col("status") === "success").count() == 3)

    // silver fact: deduplicated (generator adds rows/100 exact dups)
    val fact = spark.read.parquet(s"$wh/silver/yellow_taxi")
    assert(fact.count() < bronze.count())
    assert(fact.columns.contains("minute_duration"))
    // negative durations preserved (reference does not filter them)
    assert(fact.filter(col("minute_duration") < 0).count() > 0)

    // dims
    val vendor = spark.read.parquet(s"$wh/silver/vendor")
    assert(vendor.filter(col("vendor").isNull).count() == 1) // unmapped 42

    // gold
    val vm = spark.read.parquet(s"$wh/gold/vendor_metrics")
    assert(vm.count() == vendor.count())
    val mm = spark.read.parquet(s"$wh/gold/monthly_metrics")
    assert(mm.count() >= 3)
    val pm = spark.read.parquet(s"$wh/gold/payment_metrics")
    // payment_type 9 has no dim row → NULL group through the left join
    assert(pm.filter(col("payment_type").isNull).count() == 1)
  }

  test("idempotency: re-ingesting the same month is a no-op (C4)") {
    val wh = freshWarehouse()
    val p = new Pipeline(spark, wh)
    val batch = TaxiFixtures.monthBatch(spark, 2024, 1)

    val r1 = p.bronzeLayer.ingest(batch)
    assert(r1.loaded > 0)
    val countAfterFirst = p.bronzeLayer.bronze.count()
    val invalidAfterFirst = p.meta.invalidRecords.count()

    val r2 = p.bronzeLayer.ingest(batch)
    assert(r2.loaded == 0)
    assert(p.bronzeLayer.bronze.count() == countAfterFirst)
    // quarantine also did not double-insert (key dedup)
    assert(p.meta.invalidRecords.count() == invalidAfterFirst)
    // watermark monotone
    assert(!r2.watermark.before(r1.watermark))
  }

  test("runFromUrls: fetch from a file:// URL template end-to-end (F11/S1)") {
    // publish two monthly files under the reference's naming scheme,
    // then run the pipeline pointed at that file:// "CDN"
    val cdn = Files.createTempDirectory("graft_cdn_")
    (1 to 2).foreach { m =>
      TaxiFixtures.monthBatch(spark, 2024, m).coalesce(1)
        .write.parquet(s"$cdn/stage_$m")
      val part = new java.io.File(s"$cdn/stage_$m").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        cdn.resolve(f"yellow_tripdata_2024-$m%02d.parquet"))
    }

    val wh = freshWarehouse()
    val staging = Files.createTempDirectory("graft_stage_").toString
    val p = new Pipeline(spark, wh)
    p.runFromUrls(Seq((2024, 1), (2024, 2)), staging,
      baseUrl = s"file://$cdn")

    assert(spark.read.parquet(s"$wh/bronze/yellow_taxi_raw").count() > 1000)
    assert(p.meta.ledger.filter(col("status") === "success").count() == 2)
    assert(spark.read.parquet(s"$wh/gold/monthly_metrics").count() >= 2)
  }

  test("Setup wipes and recreates the warehouse tree with seeded dims (S8)") {
    val wh = freshWarehouse()
    // pre-existing junk that a re-setup must remove
    Files.createDirectories(java.nio.file.Paths.get(s"$wh/bronze/stale"))
    Setup.setup(spark, wh)
    Setup.Layers.foreach(l =>
      assert(new java.io.File(s"$wh/$l").isDirectory, s"missing layer $l"))
    assert(!new java.io.File(s"$wh/bronze/stale").exists)
    // static dims seeded (reference db_setup inline VALUES)
    assert(spark.read.parquet(s"$wh/silver/payment_type").count() >= 6)
    assert(spark.read.parquet(s"$wh/silver/ratecode").count() >= 6)
  }

  test("watermark reads ledgers Spark wrote, in each timestamp encoding") {
    import java.sql.Timestamp
    import org.apache.spark.sql.Row
    import graft.meta.MetaStore
    import graft.schema.Schemas
    val key = "spark.sql.parquet.outputTimestampType"
    val previous = spark.conf.get(key)
    val latest = Timestamp.valueOf("2024-03-31 23:59:58.123456")
    try for (enc <- Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      spark.conf.set(key, enc)
      val wh = freshWarehouse()
      val meta = new MetaStore(spark, wh)
      assert(meta.watermark() == meta.defaultWatermark)
      val rows = Seq(Timestamp.valueOf("2024-01-31 10:00:00"), latest, null)
        .map(t => Row(t, "success", 1.0, null))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          Schemas.metadataTable).repartition(2)
        .write.parquet(s"$wh/meta/metadata_table")
      val want = if (enc == "TIMESTAMP_MILLIS") Timestamp.valueOf("2024-03-31 23:59:58.123")
        else latest
      assert(meta.watermark() == want, enc)
    } finally spark.conf.set(key, previous)
  }

  test("failed ingest appends a failed ledger row and rethrows (C2)") {
    val wh = freshWarehouse()
    val p = new Pipeline(spark, wh)
    import spark.implicits._
    val bad = Seq(1).toDF("not_the_schema") // missing pickup column
    intercept[Throwable] { p.bronzeLayer.ingest(bad) }
    assert(p.meta.ledger.filter(col("status") === "failed").count() == 1)
  }

  test("schema evolution: widened batches merge; old rows read as NULL") {
    // a long-lived bronze dir accumulates batches written under
    // successive schema versions; readers must see the union schema
    // with absent columns NULL — the ingest posture that lets a
    // 100 TB table add columns without rewriting history
    val dir = freshWarehouse() + "/evolving"
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/b=1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.parquet(s"$dir/b=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("b", "id", "v1", "v2"))
    val rows = merged.select("id", "v1", "v2")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(9.5))))
    // the default reader (no mergeSchema) takes its schema from one
    // footer, so WHICH columns appear is file-order dependent — the
    // only stable contract is that it never invents columns beyond
    // the union the merged read proves
    val plain = spark.read.parquet(dir)
    assert(plain.columns.toSet.subsetOf(merged.columns.toSet),
      s"plain read invented columns: ${plain.columns.mkString(",")}")
  }
}
