package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.Ops

/** Unit tests per SURVEY §2 operator over tiny in-memory frames
  * (SURVEY §5 test plan item 1). */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowSplit partitions the >lld set disjointly (P2/P3)") {
    val df = Seq(
      ("before", ts("2024-01-05 00:00:00")),
      ("in", ts("2024-01-15 00:00:00")),
      ("in2", ts("2024-01-19 23:59:59")),
      ("after", ts("2024-02-02 00:00:00"))
    ).toDF("tag", "ts")
    val (in, out) = Ops.windowSplit(df, "ts",
      lit("2024-01-10 00:00:00").cast("timestamp"),
      lit("2024-01-01 00:00:00").cast("timestamp"),
      lit("2024-01-20 00:00:00").cast("timestamp"))
    assert(in.select("tag").as[String].collect().sorted.toSeq == Seq("in", "in2"))
    assert(out.select("tag").as[String].collect().toSeq == Seq("after"))
    // completeness: in ∪ out == all rows newer than the watermark
    val all = df.filter($"ts" > lit("2024-01-10 00:00:00").cast("timestamp"))
    assert(in.count() + out.count() == all.count())
  }

  test("bucketedRangeJoin == naive range join; long intervals fail loudly") {
    val points = (0 until 500).map(i =>
      (i.toLong, new Timestamp(1700000000000L + i * 97000L)))
      .toDF("event_id", "ts")
    val wins = (0 until 20).map(i =>
      (1000L + i, new Timestamp(1700000000000L + i * 2500000L),
        new Timestamp(1700000000000L + i * 2500000L + 600000L)))
      .toDF("win_id", "win_start", "win_end")
    val bucketed = Ops.bucketedRangeJoin(points, wins, "ts",
      "win_start", "win_end", maxLenSeconds = 600)
      .select("event_id", "win_id")
    val naive = points.join(wins,
      $"ts" >= $"win_start" && $"ts" < $"win_end")
      .select("event_id", "win_id")
    assert(bucketed.count() > 0 && naive.count() == bucketed.count())
    assert(bucketed.exceptAll(naive).isEmpty &&
      naive.exceptAll(bucketed).isEmpty)
    // an interval longer than maxLenSeconds would silently miss
    // matches in buckets it spans but was never exploded into — the
    // contract is to throw instead
    val ex = intercept[Exception] {
      Ops.bucketedRangeJoin(points, wins, "ts",
        "win_start", "win_end", maxLenSeconds = 300).count()
    }
    assert(ex.getMessage.contains("bucketedRangeJoin") ||
      Option(ex.getCause).exists(_.getMessage.contains("bucketedRangeJoin")))
  }

  test("insertIfAbsent keeps only new keys (J3 / ON CONFLICT DO NOTHING)") {
    val existing = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val incoming = Seq((2, "dup"), (3, "new"), (3, "new2")).toDF("k", "v")
    val out = Ops.insertIfAbsent(incoming, existing, Seq("k"))
    assert(out.select("k").as[Int].collect().toSet == Set(3))
  }

  test("dedupFirst keeps deterministic survivor (W1 row_number)") {
    val df = Seq((1, 2, "b"), (1, 1, "a"), (2, 5, "c")).toDF("k", "ord", "v")
    val out = Ops.dedupFirst(df, Seq("k"), Seq($"ord"))
      .orderBy("k").select("v").as[String].collect().toSeq
    assert(out == Seq("a", "c"))
  }

  test("dedupExact drops exact duplicate rows (W1 whole-row)") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    assert(Ops.dedupExact(df).count() == 2)
  }

  test("minuteDuration floors epoch-second difference (F5)") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:45")),
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 09:45:00")) // negative
    ).toDF("start", "end")
    val out = df.select(Ops.minuteDuration($"end", $"start").as("m"))
      .as[Int].collect().toSeq
    assert(out == Seq(30, -15))
  }

  test("compactPartitioned merges small files, preserves data, survives re-read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val path = s"$dir/events_table"
    val df = spark.range(0, 2000)
      .select($"id", ($"id" % 4).cast("string").as("part"))
    // fragment: 25 writers per partition
    df.repartition(25).write.partitionBy("part").parquet(path)

    val originalRows = spark.read.parquet(path).collect().toSet
    val (before, after) = graft.ops.Maintenance
      .compactPartitioned(spark, path, "part")
    assert(before > after, s"no compaction: $before -> $after")
    assert(after <= 8, s"still fragmented: $after files")
    assert(spark.read.parquet(path).collect().toSet == originalRows)
  }

  test("zorderValue interleaves bit planes (Morton order)") {
    // bits=2 over [0,3]x[0,3]: normalization is the identity, so the
    // z-value is the textbook Morton code (x bits on even planes)
    val df = Seq((0L, 0L), (3L, 0L), (0L, 3L), (3L, 3L), (1L, 2L))
      .toDF("x", "y")
    val z = df.select(graft.ops.Maintenance.zorderValue(
      Seq($"x", $"y"), Seq(lit(0L), lit(0L)), Seq(lit(3L), lit(3L)),
      bits = 2).as("z")).as[Long].collect().toSeq
    assert(z == Seq(0L, 5L, 10L, 15L, 9L))
  }

  test("zorderWrite clusters files into small key-space rectangles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    val path = s"$dir/grid"
    // 64x64 grid in row-major order: an unsorted write would give
    // every file the full x-range and a 1/16 y-band (area 4096/16 in
    // one dim only); the z-curve should cut BOTH dims per file
    val grid = spark.range(0, 64L * 64L)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    graft.ops.Maintenance.zorderWrite(grid, path, Seq("x", "y"),
      numFiles = 16)

    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    assert(files.size == 16)
    val areas = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min($"x"), max($"x"), min($"y"), max($"y")).head
      (r.getLong(1) - r.getLong(0) + 1) * (r.getLong(3) - r.getLong(2) + 1)
    }
    // ideal: 16 files x 256 cells; range-boundary files may straddle
    // two quadrants, so allow 4x — far below the 4096-cell full extent
    assert(areas.max <= 2048, s"file spans too much key space: $areas")
    assert(areas.sum / areas.size <= 1024, s"weak clustering: $areas")
    // and the rewrite is lossless
    assert(spark.read.parquet(path).collect().toSet ==
      grid.collect().toSet)
  }

  test("decodeByMap maps known ids, NULL for unmapped (F6)") {
    val df = Seq(1, 2, 42).toDF("id")
    val out = df.select(Ops.decodeByMap($"id", Seq(1 -> "one", 2 -> "two"))
      .as("name")).as[Option[String]].collect().toSeq
    assert(out == Seq(Some("one"), Some("two"), None))
  }

  test("castTextToInt handles float-ish text and NULL (F7)") {
    val df = Seq("1", "1.0", "99", null).toDF("s")
    val out = df.select(Ops.castTextToInt($"s").as("i"))
      .as[Option[Int]].collect().toSeq
    assert(out == Seq(Some(1), Some(1), Some(99), None))
  }

  test("sumMoney is exact and order-independent (F9 at scale)") {
    // doubles chosen so naive FP summation order matters
    val vals = Seq.fill(1000)(0.1) ++ Seq(1e9, -1e9)
    val df = vals.toDF("x").repartition(7)
    val got = df.agg(Ops.sumMoney($"x").as("s")).as[Double].first()
    assert(got == 100.0)
  }

  test("monthName gives full English month (F4, unpadded)") {
    val df = Seq(ts("2024-05-15 00:00:00")).toDF("t")
    assert(df.select(Ops.monthName($"t")).as[String].first() == "May")
  }

  test("TopKAgg keeps the k best with deterministic ties, any layout") {
    import graft.ops.TopKAgg
    val df = Seq(
      ("a", 5.0, 1L), ("a", 5.0, 0L), ("a", 9.0, 2L), ("a", 1.0, 3L),
      ("b", 2.0, 4L),
      ("c", 7.0, 5L), ("c", 7.0, 6L), ("c", 7.0, 7L), ("c", 7.0, 8L)
    ).toDF("g", "score", "id").repartition(7) // force partial+merge
    val out = df.groupBy($"g")
      .agg(TopKAgg.topK(2)($"score", $"id").as("top"))
      .select($"g", $"top")
      .as[(String, Array[(Double, Long)])].collect()
      .map { case (g, a) => g -> a.toSeq }.toMap
    assert(out("a") == Seq((9.0, 2L), (5.0, 0L))) // tie → lower id
    assert(out("b") == Seq((2.0, 4L)))            // under-full group
    assert(out("c") == Seq((7.0, 5L), (7.0, 6L))) // all-tied group
  }

  test("TopKAgg matches the window form on real data (o4 contract)") {
    import graft.ops.TopKAgg
    import org.apache.spark.sql.expressions.Window
    val docs = graft.queries.Q.t(spark, sf001, "documents")
    val agg = docs.groupBy($"lang")
      .agg(TopKAgg.topK(3)($"n_chars".cast("double"), $"doc_id").as("top"))
      .select($"lang", explode($"top").as("s"))
      .select($"lang", $"s.id".as("doc_id"))
      .as[(String, Long)].collect().toSet
    val win = docs.withColumn("rn", row_number().over(Window
        .partitionBy($"lang").orderBy($"n_chars".desc, $"doc_id".asc)))
      .filter($"rn" <= 3).select($"lang", $"doc_id")
      .as[(String, Long)].collect().toSet
    assert(agg == win)
  }

  test("alongside runs both sides at once and joins the side before any failure escapes") {
    // each side waits for the other to start: true on both only if they overlap
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val mainStarted, sideStarted = new CountDownLatch(1)
    val both = Ops.alongside {
      sideStarted.countDown(); mainStarted.await(10, TimeUnit.SECONDS)
    } { mainStarted.countDown(); sideStarted.await(10, TimeUnit.SECONDS) }
    assert(both == ((true, true)))
    val sideDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val m = intercept[IllegalStateException] {
      Ops.alongside { Thread.sleep(200); sideDone.set(true) } {
        throw new IllegalStateException("main")
      }
    }
    assert(m.getMessage == "main" && sideDone.get)
    val s = intercept[IllegalArgumentException] {
      Ops.alongside[Int, Int](throw new IllegalArgumentException("side"))(1)
    }
    assert(s.getMessage == "side")
  }
}
