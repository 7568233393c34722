package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

/** Core relational operator library.
  *
  * Each function re-expresses one operator of the reference pipeline
  * (see SURVEY.md §2; reference = Blackbeard23/python-nyc-taxi-data-pipeline
  * at /root/reference) as a composable, Catalyst-friendly Spark op. All
  * ops are declarative DataFrame transformations — no collect(), no
  * driver-side loops — so Catalyst gets predicate pushdown, column
  * pruning, partial aggregation and AQE for free at any scale.
  */
object Ops {

  /** Decimal type used to make money aggregations bit-deterministic.
    *
    * Summing IEEE doubles is order-dependent; with 32+ shuffle partitions
    * the result differs run-to-run in the low bits, which breaks both
    * hash-exact oracle comparison and reproducibility at 100 TB. Casting
    * to decimal first makes the sum exact and order-independent (the PG
    * reference sums NUMERIC — src/sql/gold_aggregate_layer.sql:7 — which
    * has the same exactness property).
    */
  val MoneyDec: DecimalType = DecimalType(28, 10)

  /** Deterministic cross-engine rounding: floor(x·10^scale + 0.5) /
    * 10^scale, pure IEEE-double ops only, so any engine evaluating the
    * same double input produces the same bits. Built-in `round`
    * implementations differ on exact ties (Spark routes through
    * BigDecimal's exact expansion; DuckDB rounds the scaled double),
    * which breaks hash-exact oracle comparison roughly once per few
    * thousand "nice fraction" values. Ties round toward +∞ (half-up
    * for positives — matching PG ROUND where the reference uses it,
    * gold_aggregate_layer.sql:8). */
  def roundDet(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Exact, order-independent SUM of a double column, rounded to 2dp,
    * returned as DOUBLE. Mirrors PG `SUM(numeric)` + `ROUND(…, 2)`
    * (reference src/sql/gold_aggregate_layer.sql:7-8).
    *
    * DOUBLE is deliberately the only emission type for compared money
    * columns. Externally-compared output columns must stay inside
    * {BIGINT, DOUBLE, TIMESTAMP, VARCHAR}: a DECIMAL(38,2) emission
    * route existed here and was empirically refuted — every
    * decimal-emitting compared column hash-mismatched downstream while
    * every roundDet double (30+ queries, including streaming sums) was
    * bit-exact. The exact decimal accumulation stays INTERNAL (the
    * `cast(MoneyDec)` below); only the final rounded double leaves. */
  def sumMoney(c: Column): Column =
    roundDet(sum(c.cast(MoneyDec)).cast("double"), 2)

  /** Exact, order-independent AVG of a double column, rounded to 2dp.
    * Computed as exact-decimal-sum / non-null-count so the only FP ops
    * (one divide, one round) are order-independent. Mirrors PG
    * `ROUND(AVG(x), 2)` (reference src/sql/gold_aggregate_layer.sql:8). */
  def avgMoney(c: Column): Column =
    roundDet(sum(c.cast(MoneyDec)).cast("double") / count(c), 2)

  /** Watermark + window split (reference
    * src/sql/bronze_incremental_load.sql:30-62, SURVEY §2.2 P2/P3).
    *
    * One logical scan, two complementary filters: rows strictly after the
    * high-water-mark that fall inside [winStart, winEnd) go to the first
    * frame (bronze append); rows after the watermark but outside the
    * window go to the second (quarantine). Catalyst pushes both predicate
    * sets to the parquet scan; at scale the two branches prune to
    * disjoint partition/row-group sets instead of double-scanning.
    *
    * All three bounds are inclusive/exclusive exactly as the reference:
    * `ts > lowWater AND ts >= winStart AND ts < winEnd`.
    */
  def windowSplit(df: DataFrame, tsCol: String, lowWater: Column,
                  winStart: Column, winEnd: Column): (DataFrame, DataFrame) = {
    val newRows  = col(tsCol) > lowWater
    val inWindow = col(tsCol) >= winStart && col(tsCol) < winEnd
    (df.filter(newRows && inWindow), df.filter(newRows && !inWindow))
  }

  /** `MAX(c)` over `df` in one Spark job: a top-1 ordered take keeps a
    * per-partition top row and merges on the driver, where a global
    * aggregate's single-partition exchange costs adaptive execution a
    * second job. NULLs sort last, so the result is NULL only when every
    * value is NULL or `df` is empty, as with `MAX`. */
  def maxOf(df: DataFrame, c: String): Any =
    df.select(col(c)).orderBy(col(c).desc_nulls_last).limit(1)
      .collect().headOption.map(_.get(0)).orNull

  /** Runs `side` on a thread of its own while `main` runs on the
    * caller's, and returns (main's result, side's result) once both
    * are done — for two Spark actions that share no output, so their
    * driver-side planning and commits overlap. The thread is joined
    * before this returns, also when `main` throws, so no work outlives
    * the call; main's failure wins, then side's. A fresh thread
    * inherits the caller's Spark local properties (job group, call
    * site) as they are now; it is kept here rather than routed through
    * `StoredIndex.async`'s pool because `graft.ops` sits below
    * `graft.ext` and does not depend on it. */
  def alongside[A, B](side: => A)(main: => B): (B, A) = {
    var sideResult: Either[Throwable, A] = null
    val t = new Thread(() => sideResult =
      try Right(side) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    val m = try main finally t.join()
    (m, sideResult.fold(e => throw e, identity))
  }

  /** Insert-if-absent, i.e. PG `ON CONFLICT (keys) DO NOTHING`
    * (reference src/sql/bronze_incremental_load.sql:61-62 with the
    * 7-column composite PK of src/db_setup.py:129-137; SURVEY §2.3 J3).
    *
    * Returns the subset of `newRows` whose key tuple does not already
    * exist in `existing` — a left-anti join, the one join type the
    * reference uses without writing JOIN. `existing` is typically small
    * relative to `newRows` (a bounded quarantine table): hint broadcast
    * when it fits; otherwise Catalyst/AQE picks shuffled hash. At 100 TB
    * keep `existing` partitioned by the same time key as `newRows` so
    * the anti-join touches one partition (SURVEY §7.5 risk 3).
    */
  def insertIfAbsent(newRows: DataFrame, existing: DataFrame,
                     keys: Seq[String], broadcastExisting: Boolean = false): DataFrame = {
    val ex = existing.select(keys.map(col): _*).distinct()
    newRows.join(if (broadcastExisting) broadcast(ex) else ex, keys, "left_anti")
  }

  /** Keyed dedup keeping the first row per key under `order` — the
    * ROW_NUMBER() OVER (PARTITION BY … ORDER BY …) = 1 pattern
    * (reference src/sql/silver_full_refresh_transformation.sql:40-49,72;
    * SURVEY §2.5 W1). Use when the survivor must be deterministic.
    * When the partition key is the whole row, prefer
    * [[dedupExact]] — no sort, no skew. */
  def dedupFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full-row dedup — semantically what the reference's all-19-column
    * ROW_NUMBER partition reduces to (SURVEY §2.5 W1: partition key =
    * whole row makes ORDER BY vacuous). A hash aggregate, not a window:
    * one shuffle, partial map-side dedup, no global sort. */
  def dedupExact(df: DataFrame): DataFrame = df.distinct()

  /** Derived minute-duration column (reference
    * src/sql/silver_full_refresh_transformation.sql:54, SURVEY §2.7 F5):
    * `EXTRACT(EPOCH FROM (end - start)) / 60` cast to int. Pinned to
    * floor semantics (documented divergence: PG casts with round-half-even;
    * we floor, and the oracle SQL floors too — SURVEY §7.2). */
  def minuteDuration(end: Column, start: Column): Column =
    floor((unix_timestamp(end) - unix_timestamp(start)) / 60.0).cast(IntegerType)

  /** CASE-chain decode of an id column to names, unmapped → NULL
    * (reference src/sql/silver_full_refresh_transformation.sql:4-9,
    * SURVEY §2.7 F6). Constant-folds into codegen — no join, no UDF. */
  def decodeByMap(c: Column, mapping: Seq[(Any, String)]): Column =
    mapping.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(c === lit(k), lit(v)).otherwise(acc)
    }

  /** Full English month name of a timestamp (reference
    * `TO_CHAR(ts,'Month')`, src/sql/gold_aggregate_layer.sql:17;
    * SURVEY §2.7 F4 — we use unpadded semantics, 'FMMonth'). */
  def monthName(c: Column): Column = date_format(c, "MMMM")

  /** Skew-safe two-phase aggregation: pre-aggregate on (keys, salt)
    * — the salt spreads one hot key over `buckets` reducers — then
    * combine partials on the true keys. Same result as a direct
    * groupBy (decimal sums are exact, counts associative), but the
    * first shuffle has no partition larger than 1/buckets of the hot
    * key. This is the manual fallback for skew that AQE's runtime
    * skew-join splitting doesn't cover (single-stage aggregations).
    * The salt is a deterministic hash of the value column, keeping
    * results reproducible run-to-run. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     buckets: Int = 16): DataFrame = {
    val partial = df
      .withColumn("__salt", pmod(xxhash64(col(valueCol)), lit(buckets)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol).cast(MoneyDec)).as("__psum"),
           count(lit(1)).as("__pcnt"))
    partial.groupBy(keys.map(col): _*)
      .agg(roundDet(sum(col("__psum")).cast("double"), 2).as(s"sum_$valueCol"),
           sum(col("__pcnt")).as("n_rows"))
  }

  /** `broadcast` when `hint` is true, identity otherwise — the opt-out
    * knob for verification joins whose "small" side can pathologically
    * outgrow broadcast memory (LSH candidate sets on a corpus the hash
    * family separates poorly). */
  def maybeBroadcast(hint: Boolean): DataFrame => DataFrame =
    if (hint) broadcast else identity

  /** Skew-safe equi-join: the left (large, possibly skewed) side gets
    * a deterministic salt derived from `saltSrc`, the right (small
    * dimension) side is replicated once per salt bucket, and the join
    * runs on (key, salt) — so one hot key spreads over `buckets`
    * reducers instead of stalling a single task. Same rows as the
    * plain inner join (each left row matches exactly the replica
    * carrying its salt). This is the manual fallback for join skew
    * that AQE's runtime splitting doesn't cover (e.g. when the hot
    * key hides behind stale statistics); prefer a plain join +
    * broadcast/AQE when the dimension fits in memory. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltSrc: String, buckets: Int = 16): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(xxhash64(col(saltSrc)), lit(buckets)).cast(IntegerType))
    val r = right.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** As-of join: for every left row, attach the single right row with
    * the greatest `rightTs <= leftTs` within the same key (ties on
    * rightTs broken by the greatest `tieBreak`) — or, per
    * `direction`, the pandas merge_asof family's other members:
    * `"forward"` (smallest `rightTs >= leftTs`) and `"nearest"`
    * (whichever of the two is closer in time; exact ties go
    * backward, the pandas rule). Equal-rightTs candidates resolve
    * to the greatest tieBreak in backward and forward mode; in
    * nearest mode the forward LEG takes the smallest instead — the
    * DELIBERATE published contract, pinned by PropertySpec's
    * constructed-fixture case: equal-distance→backward matches
    * pandas `merge_asof(direction="nearest")`, while the per-leg
    * tieBreak rule is this library's own total order (pandas has no
    * tie column — it keeps whichever candidate is last in input
    * order, which is not reproducible on a distributed shuffle) —
    * the price of sharing one sort between both legs (first() reads the
    * tie-ascending order the backward last() needs) — encoded
    * identically in the j10 oracle. The classic point-in-time
    * enrichment (trades→quotes, events→dimensions).
    *
    * `toleranceSeconds` mirrors pandas merge_asof's `tolerance`:
    * candidates farther than the band (in ts seconds, inclusive) are
    * excluded, and a left row with no in-band candidate keeps null
    * payloads. Because the band is symmetric, excluding-then-picking
    * equals picking-then-nulling in EVERY direction (the nearest
    * candidate is out of band only if all are), so the guard wraps
    * the already-selected leg; each leg's guard uses its own
    * distance, which in nearest mode also keeps an out-of-band side
    * from absorbing the pick (PropertySpec pins the constructed
    * cases).
    *
    * Nullable right payloads are handled faithfully: payloads ride
    * the union inside single-field structs, so a matched right row
    * whose payload IS null yields null (pandas takes the matched
    * row's value) instead of the carry skipping to an older right
    * row — the structural-null marker and the data null cannot be
    * confused (PropertySpec pins this too).
    *
    * Implemented by composing built-ins (preference (a) of the
    * project brief — no custom SparkPlan needed): tag and union both
    * sides, ONE shuffle keyed on `key`, sort within partitions by
    * (ts, side, tieBreak), then carry the right payload across the
    * left rows with `last(_, ignoreNulls)` over an
    * unbounded-preceding frame (backward), `first(_, ignoreNulls)`
    * over an unbounded-following frame (forward), or both at once
    * plus a distance compare (nearest — still one sort: rights at
    * EQUAL ts sort before the left row, so the following frame sees
    * only strictly-later rights, and the equal-ts match arrives via
    * the backward leg, which also wins the tie). Cost: one shuffle +
    * per-partition sort in every direction — the plan a hand-written
    * SortMergeAsofJoinExec would produce, with AQE and codegen
    * intact. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               payloadCols: Seq[String], tieBreak: String,
               direction: String = "backward",
               toleranceSeconds: Option[Long] = None): DataFrame = {
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got '$direction'")
    require(toleranceSeconds.forall(_ >= 0L),
      s"toleranceSeconds must be >= 0, got $toleranceSeconds")
    val leftCols = left.columns.toSeq
    // side flag: rights sort first at equal ts for backward/nearest
    // (`<=` semantics); lefts sort first for forward (`>=` semantics)
    val (rightSide, leftSide) =
      if (direction == "forward") (1, 0) else (0, 1)
    // payloads ride inside a single-field STRUCT: the union uses a
    // null payload column as the structural "this is a left row"
    // marker, and the ignoreNulls carries below skip those — so a
    // bare nullable payload would be indistinguishable from the
    // marker and the carry would silently skip past the matched
    // right row to an OLDER one. struct(payload) is non-null for
    // every right row regardless of the payload value, so a
    // genuinely-null right payload carries as null (the pandas
    // semantics, and what the j4/j9/j10 oracles compute).
    def structType(c: String) = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField(
        "v", right.schema(c).dataType)))
    val taggedRight = right.select(
      (col(key) +: col(rightTs).as("__ts") +: lit(rightSide).as("__side") +:
        col(tieBreak).cast("long").as("__tie") +:
        payloadCols.map(c => struct(col(c).as("v")).as(c))) ++
        leftCols.filterNot(_ == key).map(c => lit(null).cast(
          left.schema(c).dataType).as(c)): _*)
    val taggedLeft = left.select(
      (col(key) +: col(leftTs).as("__ts") +: lit(leftSide).as("__side") +:
        lit(if (direction == "forward") Long.MinValue else Long.MaxValue)
          .as("__tie") +:
        payloadCols.map(c => lit(null).cast(structType(c)).as(c))) ++
        leftCols.filterNot(_ == key).map(col): _*)
    val union = taggedRight.unionByName(taggedLeft)

    // greatest tieBreak wins in every direction: backward reads the
    // LAST right in (ts, tie) order; forward reads the FIRST right
    // in (ts, tie DESC) order
    val ord =
      if (direction == "forward")
        Seq(col("__ts"), col("__side"), col("__tie").desc)
      else Seq(col("__ts").asc, col("__side").asc, col("__tie").asc)
    val wBack = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wFwd = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(0, Window.unboundedFollowing)

    // right-row ts carried through both legs: the nearest distance
    // compare, and the tolerance guard in every direction (see the
    // scaladoc — symmetric band, so guarding the selected leg equals
    // pandas' restrict-before-pick)
    val rts = when(col("__side") === rightSide, col("__ts"))
    val backTs = last(rts, ignoreNulls = true).over(wBack)
    val fwdTs = first(rts, ignoreNulls = true).over(wFwd)
    val backDist = col("__ts").cast("double") - backTs.cast("double")
    val fwdDist = fwdTs.cast("double") - col("__ts").cast("double")
    val tolOk: Column => Column = dist => toleranceSeconds match {
      case None => lit(true)
      case Some(t) => dist <= lit(t.toDouble)
    }
    val backOk = backTs.isNotNull && tolOk(backDist)
    val fwdOk = fwdTs.isNotNull && tolOk(fwdDist)
    // each branch carries the struct, then unwraps .v — getField on
    // a null struct is null, so unmatched rows stay null payloads
    val attached = direction match {
      case "backward" if toleranceSeconds.isEmpty =>
        payloadCols.map(c => last(col(c), ignoreNulls = true).over(wBack)
          .getField("v").as(c))
      case "forward" if toleranceSeconds.isEmpty =>
        payloadCols.map(c => first(col(c), ignoreNulls = true).over(wFwd)
          .getField("v").as(c))
      case "backward" =>
        payloadCols.map(c => when(backOk,
          last(col(c), ignoreNulls = true).over(wBack))
          .getField("v").as(c))
      case "forward" =>
        payloadCols.map(c => when(fwdOk,
          first(col(c), ignoreNulls = true).over(wFwd))
          .getField("v").as(c))
      case "nearest" =>
        val useBack = backOk && (!fwdOk || backDist <= fwdDist)
        payloadCols.map(c => when(useBack,
            last(col(c), ignoreNulls = true).over(wBack))
          .when(fwdOk, first(col(c), ignoreNulls = true).over(wFwd))
          .getField("v").as(c))
    }
    union.select((col(key) +: col("__side") +:
        leftCols.filterNot(_ == key).map(col)) ++ attached: _*)
      .filter(col("__side") === leftSide)
      .drop("__side")
  }

  /** Range join WITHOUT an equi-key — point-in-interval lookups
    * (calendar windows, IP ranges, price tiers). Spark plans the bare
    * `l.ts BETWEEN r.start AND r.end` join as
    * BroadcastNestedLoopJoin: every left row against every interval,
    * O(|L|·|R|) — the quadratic cliff at 100 TB. The standard rewrite
    * buckets time by `maxLenSeconds` (an upper bound on interval
    * length): a point in bucket b can only hit intervals that touch
    * bucket b, so exploding each interval to the ≤ 2 buckets it spans
    * and equi-joining on the bucket id turns the plan into a keyed
    * shuffle join + residual filter — O(|L| + |R| + matches), AQE and
    * codegen intact.
    *
    * Semantics: half-open `[start, end)`. Intervals longer than
    * `maxLenSeconds` would silently miss matches in unspanned buckets,
    * so they fail loudly instead (`raise_error` in the explode path).
    */
  def bucketedRangeJoin(left: DataFrame, right: DataFrame,
                        leftTs: String, rightStart: String,
                        rightEnd: String,
                        maxLenSeconds: Long): DataFrame = {
    require(!left.columns.contains("__b") && !right.columns.contains("__b"),
      "bucketedRangeJoin: inputs must not carry a '__b' column " +
        "(it would be silently overwritten and dropped)")
    val w = lit(maxLenSeconds * 1000000L)
    def bucket(c: Column): Column = floor(unix_micros(c) / w)
    val lb = left.withColumn("__b", bucket(col(leftTs)))
    // the length check lives INSIDE the evaluated bucket expression
    // (an independent check column would be pruned as unused and the
    // error never raised)
    val endBucket = when(
      unix_micros(col(rightEnd)) - unix_micros(col(rightStart)) <=
        maxLenSeconds * 1000000L, bucket(col(rightEnd)))
      .otherwise(raise_error(concat(lit("bucketedRangeJoin: interval " +
        s"longer than maxLenSeconds=$maxLenSeconds at start="),
        col(rightStart).cast("string"))).cast("long"))
    val rb = right.withColumn("__b",
      explode(sequence(bucket(col(rightStart)), endBucket)))
    lb.join(rb, Seq("__b"))
      .filter(col(leftTs) >= col(rightStart) &&
        col(leftTs) < col(rightEnd))
      .drop("__b")
  }

  /** Text-string → numeric → int cast chain (reference
    * src/sql/silver_full_refresh_transformation.sql:57, SURVEY §2.7 F7):
    * handles values like "1.0". Floor-pinned like [[minuteDuration]]. */
  def castTextToInt(c: Column): Column =
    floor(c.cast("double")).cast(IntegerType)
}
