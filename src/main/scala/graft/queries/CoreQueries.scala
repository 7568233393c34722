package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Ops, TopKAgg}

/** One driver-checkable query: a Spark implementation over the
  * /root/testdata tables plus (when SQL-expressible) a DuckDB oracle
  * producing the identical result — same column names, same
  * deterministic row order, same (bit-exact where possible) values.
  */
final case class Q(name: String,
                   fn: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

object Q {
  /** Load one driver testdata table.
    *
    * `events.parquet` has shipped `ts` in two physical forms across
    * fixture generations: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read as raw longs under
    * legacy.parquet.nanosAsLong and truncated to microseconds, the
    * same truncation DuckDB applies coercing TIMESTAMP_NS to its
    * microsecond TIMESTAMP) and plain microsecond TIMESTAMP with
    * isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ and
    * DuckDB as its naive TIMESTAMP). [[normalizeEventsTs]] maps both
    * to session-zone TimestampType — the session zone is pinned UTC,
    * so the NTZ→LTZ cast is value-identical to DuckDB's naive read
    * and every downstream query sees one stable ts type. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Normalize the events `ts` column to microsecond TimestampType
    * regardless of which physical fixture form was read (see [[t]]). */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP_NS as raw nanos
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType => // micros, naive
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df // already session-zone TimestampType
    }

  /** Timestamp literal parsed in the session time zone (UTC), matching
    * DuckDB's naive `TIMESTAMP '…'` literal. Avoids
    * java.sql.Timestamp.valueOf, which uses the JVM default zone. */
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** Oracle-side twin of [[graft.ops.Ops.roundDet]]: deterministic
    * rounding from pure double ops (see the scaladoc there for why
    * built-in ROUND diverges between engines on ties). */
  def sqlRoundDet(x: String, scale: Int): String = {
    val p = math.pow(10, scale)
    s"FLOOR(($x) * $p + 0.5) / $p"
  }

  /** Oracle-side exact SUM of a double column rounded to 2dp — the SQL
    * twin of [[graft.ops.Ops.sumMoney]]. */
  def sqlSum(c: String): String =
    sqlRoundDet(s"CAST(SUM(CAST($c AS DECIMAL(28,10))) AS DOUBLE)", 2)

  /** Oracle-side exact AVG — the SQL twin of [[graft.ops.Ops.avgMoney]]. */
  def sqlAvg(c: String): String =
    sqlRoundDet(s"CAST(SUM(CAST($c AS DECIMAL(28,10))) AS DOUBLE) / COUNT($c)", 2)

  /** Integer SUM pinned to BIGINT — DuckDB's SUM over an integer
    * column returns HUGEINT (int128), a type outside the compared-
    * output set {BIGINT, DOUBLE, TIMESTAMP, VARCHAR} that the hash
    * compare is proven green on (Spark emits LongType for the same
    * sum). Wrap every oracle-side integer SUM in this. */
  def sqlSumBigint(x: String): String = s"CAST(SUM($x) AS BIGINT)"
}

/** Core relational queries: every operator in SURVEY.md §2 expressed
  * over the driver's TPC-H-ish testdata tables, with a DuckDB oracle.
  * Query keys embed the SURVEY §2 operator ids (S*, P*, J*, A*, W*,
  * O*, F*) they cover, so the inventory can be checked line by line.
  */
object CoreQueries {
  import Q._

  // Watermark/window constants for the `events` table (all sfs span
  // 2024-01-01 .. 2024-01-31): high-water-mark mid-month, window
  // [Jan 1, Jan 20) so both the in-window and quarantine branches are
  // non-empty. Mirrors reference src/sql/bronze_incremental_load.sql:17-24.
  private val LLD      = "2024-01-10 12:00:00"
  private val WIN_LO   = "2024-01-01 00:00:00"
  private val WIN_HI   = "2024-01-20 00:00:00"
  private val TS_DEF   = "2024-01-01 00:00:00"

  val all: Seq[Q] = Seq(

    // S1 + P1: parquet scan with projection + pushed filter
    // (reference src/incremental_ingestion.py:30; bronze select lists).
    Q("s1_scan_projection",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("2001-01-01 00:00:00"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        // (l_orderkey, l_linenumber) is not unique in the synthetic
        // data: total-order on every output column
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
              FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
              ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""")),

    // P2: watermark + window filter (bronze_incremental_load.sql:42-43).
    Q("p2_window_filter_in",
      (s, dir) => {
        val (in, _) = Ops.windowSplit(t(s, dir, "events"), "ts",
          ts(LLD), ts(WIN_LO), ts(WIN_HI))
        in.select("event_id", "ts", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, ts, user_id, event_type, value FROM events
               WHERE ts > TIMESTAMP '$LLD'
                 AND ts >= TIMESTAMP '$WIN_LO' AND ts < TIMESTAMP '$WIN_HI'
               ORDER BY event_id""")),

    // P3: complement filter — quarantine routing
    // (bronze_incremental_load.sql:58-60).
    Q("p3_window_filter_out",
      (s, dir) => {
        val (_, out) = Ops.windowSplit(t(s, dir, "events"), "ts",
          ts(LLD), ts(WIN_LO), ts(WIN_HI))
        out.select("event_id", "ts", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, ts, user_id, event_type, value FROM events
               WHERE ts > TIMESTAMP '$LLD'
                 AND NOT (ts >= TIMESTAMP '$WIN_LO' AND ts < TIMESTAMP '$WIN_HI')
               ORDER BY event_id""")),

    // A1 + A2 + F1: scalar MAX watermark with COALESCE default
    // (bronze_incremental_load.sql:18-20, 64-65).
    Q("a1_watermark_coalesce_max",
      (s, dir) => t(s, dir, "events")
        .filter(col("ts") > ts(LLD) &&
                col("ts") >= ts(WIN_LO) && col("ts") < ts(WIN_HI))
        .agg(coalesce(max(col("ts")), ts(TS_DEF)).as("watermark")),
      Some(s"""SELECT COALESCE(MAX(ts), TIMESTAMP '$TS_DEF') AS watermark
               FROM events
               WHERE ts > TIMESTAMP '$LLD'
                 AND ts >= TIMESTAMP '$WIN_LO' AND ts < TIMESTAMP '$WIN_HI'""")),

    // A3: DISTINCT dim-source (silver_full_refresh_transformation.sql:10).
    Q("a3_distinct_dim",
      (s, dir) => t(s, dir, "customer")
        .select(col("c_mktsegment").as("segment")).distinct()
        .orderBy("segment"),
      Some("""SELECT DISTINCT c_mktsegment AS segment FROM customer
              ORDER BY segment""")),

    // S6 + J1: inline VALUES dim broadcast-joined to an aggregate
    // (silver_full_refresh_transformation.sql:14-31).
    Q("s6_inline_values_dim",
      (s, dir) => {
        import s.implicits._
        val dim = Seq(("A", "Accepted"), ("N", "InFlight"), ("R", "Returned"))
          .toDF("flag", "flag_name")
        t(s, dir, "lineitem")
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
          .join(broadcast(dim), col("l_returnflag") === col("flag"), "left")
          .select("l_returnflag", "flag_name", "n_rows")
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, flag_name, n_rows
              FROM (SELECT l_returnflag, COUNT(*) AS n_rows
                    FROM lineitem GROUP BY l_returnflag) g
              LEFT JOIN (VALUES ('A','Accepted'),('N','InFlight'),('R','Returned'))
                        AS d(flag, flag_name) ON g.l_returnflag = d.flag
              ORDER BY l_returnflag""")),

    // J1 + A4 + F9 + O1: fact × broadcast dim, group-agg, round, sort —
    // the gold.vendor_metrics shape (gold_aggregate_layer.sql:3-12).
    Q("j1_dim_join_agg",
      (s, dir) => t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer").select("c_custkey", "c_mktsegment")),
              col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("total_orders"),
             Ops.sumMoney(col("o_totalprice")).as("total_revenue"),
             Ops.avgMoney(col("o_totalprice")).as("avg_price"))
        .orderBy(desc("total_revenue"), asc("c_mktsegment")),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS total_orders,
                      ${sqlSum("o_totalprice")} AS total_revenue,
                      ${sqlAvg("o_totalprice")} AS avg_price
               FROM orders LEFT JOIN customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment
               ORDER BY total_revenue DESC, c_mktsegment NULLS FIRST""")),

    // A5 + F2 + F4: group by computed month-name key — the
    // gold.monthly_metrics shape (gold_aggregate_layer.sql:15-23).
    Q("a5_monthly_agg",
      (s, dir) => t(s, dir, "orders")
        .groupBy(Ops.monthName(col("o_orderdate")).as("month_name"))
        .agg(count(lit(1)).as("total_orders"),
             Ops.avgMoney(col("o_totalprice")).as("avg_price"))
        .orderBy(desc("total_orders"), asc("month_name")),
      Some(s"""SELECT strftime(o_orderdate, '%B') AS month_name,
                      COUNT(*) AS total_orders,
                      ${sqlAvg("o_totalprice")} AS avg_price
               FROM orders GROUP BY 1
               ORDER BY total_orders DESC, month_name""")),

    // A6: multi-key group metrics — the gold.payment_metrics shape
    // (gold_aggregate_layer.sql:29-38).
    Q("a6_group_metrics",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
             Ops.sumMoney(col("l_quantity")).as("sum_qty"),
             Ops.avgMoney(col("l_extendedprice")).as("avg_price"),
             Ops.avgMoney(col("l_discount")).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
                      ${sqlSum("l_quantity")} AS sum_qty,
                      ${sqlAvg("l_extendedprice")} AS avg_price,
                      ${sqlAvg("l_discount")} AS avg_disc
               FROM lineitem GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")),

    // W1: keyed ROW_NUMBER dedup, deterministic survivor
    // (silver_full_refresh_transformation.sql:40-49,72).
    Q("w1_dedup_rownum",
      (s, dir) => Ops.dedupFirst(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_suppkey"),
          // full tie-break chain: the survivor must be deterministic
          // even though (l_orderkey, l_suppkey, l_linenumber) can repeat
          Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity")))
        .select("l_orderkey", "l_suppkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_suppkey, l_linenumber, l_quantity
              FROM (SELECT l_orderkey, l_suppkey, l_linenumber, l_quantity,
                           ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_suppkey
                                              ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
                    FROM lineitem) t
              WHERE rn = 1 ORDER BY l_orderkey, l_suppkey""")),

    // W1 (whole-row form): full-row dedup as hash aggregate — what the
    // reference's partition-by-all-19-columns window reduces to.
    Q("w1_dedup_exact",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // (l_orderkey, l_linenumber) is not unique in the synthetic
        // data, so order by every column for a deterministic result.
        Ops.dedupExact(li).orderBy(li.columns.map(col).toIndexedSeq: _*)
      },
      Some("""SELECT DISTINCT * FROM lineitem
              ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
                       l_quantity, l_extendedprice, l_discount, l_tax,
                       l_returnflag, l_linestatus, l_shipdate""")),

    // J3: insert-if-absent / ON CONFLICT DO NOTHING as left-anti join
    // (bronze_incremental_load.sql:61-62).
    Q("j3_insert_if_absent",
      (s, dir) => {
        val existing = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("l_orderkey"))
        Ops.insertIfAbsent(t(s, dir, "lineitem"), existing,
            Seq("l_orderkey"), broadcastExisting = true)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          // (l_orderkey, l_linenumber) is NOT unique in the synthetic
          // data (see w1's comment) — order by every output column so
          // remaining ties are between identical rows
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey
                                  AND o.o_orderstatus = 'F')
              ORDER BY l_orderkey, l_linenumber, l_extendedprice""")),

    // F5: derived minute-duration over a join
    // (silver_full_refresh_transformation.sql:54).
    Q("f5_minute_duration",
      (s, dir) => t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "orders").select("o_orderkey", "o_orderdate")),
              col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
                Ops.minuteDuration(col("l_shipdate"), col("o_orderdate"))
                  .as("minute_duration"))
        .orderBy("l_orderkey", "l_linenumber", "minute_duration"),
      Some("""SELECT l_orderkey, l_linenumber,
                     CAST(FLOOR((date_diff('second', TIMESTAMP '1970-01-01 00:00:00', l_shipdate)
                               - date_diff('second', TIMESTAMP '1970-01-01 00:00:00', o_orderdate))
                               / 60.0) AS INTEGER) AS minute_duration
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              ORDER BY l_orderkey, l_linenumber, minute_duration""")),

    // F6 + A7: CASE decode with unmapped → NULL, NULL kept as group key
    // (silver_full_refresh_transformation.sql:4-9; gold join NULL groups).
    Q("f6_case_decode_nullgroup",
      (s, dir) => t(s, dir, "orders")
        .select(Ops.decodeByMap(col("o_orderpriority"),
          Seq("1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium"))
          .as("priority_class"))
        .groupBy("priority_class").agg(count(lit(1)).as("n"))
        .orderBy(asc("priority_class")),
      Some("""SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
                          WHEN o_orderpriority = '2-HIGH' THEN 'high'
                          WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                     END AS priority_class, COUNT(*) AS n
              FROM orders GROUP BY 1
              ORDER BY priority_class NULLS FIRST""")),

    // F7 + F8: text → numeric → int cast chain, fed by JSON extraction
    // (silver_full_refresh_transformation.sql:57,61).
    Q("f7_cast_chain",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
                Ops.castTextToInt(get_json_object(col("props"), "$.k")).as("k_int"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
                     CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS DOUBLE))
                          AS INTEGER) AS k_int
              FROM events ORDER BY event_id""")),

    // O1-O3 + top-k: global sort + limit → TakeOrderedAndProject
    // (gold_aggregate_layer.sql:12,23,38).
    Q("o1_topk",
      (s, dir) => t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // Per-group bounded top-k via the typed Aggregator — the
    // aggregation-shaped alternative to the window cap (e4): map-side
    // partials forward at most k rows per group per partition, so the
    // shuffle carries ≤ k·partitions·groups rows instead of |corpus|,
    // and no single task ever sorts a hot group (see TopKAgg scaladoc
    // for when the window form still wins). Top 3 longest docs per
    // lang, exploded back to ranked rows; both orders are total
    // (n_chars desc, doc_id asc), so the window oracle is identical.
    Q("o4_grouped_topk",
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"))
        // the Scored input encoder flattens to (score, id) arguments
        .agg(TopKAgg.topK(3)(col("n_chars").cast("double"), col("doc_id"))
          .as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("i", "s")))
        .select(col("lang"), (col("i") + 1).cast("long").as("rank"),
          col("s.id").as("doc_id"), col("s.score").cast("long").as("n_chars"))
        .orderBy("lang", "rank"),
      Some("""SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id, n_chars
              FROM (SELECT lang, doc_id, n_chars, ROW_NUMBER() OVER (
                      PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
                    FROM documents)
              WHERE rn <= 3 ORDER BY lang, rank""")),

    // Split completeness as a set operation: the union of the window
    // split's two branches is exactly the >watermark set (the closest
    // thing the reference has to a set op, SURVEY §2.6).
    Q("p6_union_split",
      (s, dir) => {
        val (in, out) = Ops.windowSplit(t(s, dir, "events"), "ts",
          ts(LLD), ts(WIN_LO), ts(WIN_HI))
        in.unionByName(out)
          .select("event_id", "ts", "event_type")
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, ts, event_type FROM events
               WHERE ts > TIMESTAMP '$LLD' ORDER BY event_id""")),

    // Exact COUNT(DISTINCT) — the scale-out form of the reference's
    // DISTINCT dim build (A3); approx_count_distinct is the 100 TB
    // variant (engine-specific sketch, so no oracle for it).
    Q("a8_count_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
                     COUNT(*) AS n_rows
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ROLLUP: hierarchical subtotals (beyond the reference — standard
    // OLAP surface; Catalyst expands to a single Expand + aggregate).
    Q("a9_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
             Ops.sumMoney(col("l_quantity")).as("sum_qty"))
        .orderBy(asc("l_returnflag"), asc("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
                      ${sqlSum("l_quantity")} AS sum_qty
               FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
               ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // Skew-safe salted aggregation: same answer as the direct
    // groupBy, hot keys spread over 16 reducers first (SURVEY §4:
    // salting is the manual lever AQE doesn't pull for single-stage
    // aggregations).
    Q("a10_salted_agg",
      (s, dir) => Ops.saltedSumCount(t(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_extendedprice")
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
                      ${sqlSum("l_extendedprice")} AS sum_l_extendedprice,
                      COUNT(*) AS n_rows
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // J5: FK referential validation (reference src/db_setup.py:185,
    // 191,195 — parquet can't enforce constraints, so the check is an
    // anti-join that must come back empty).
    Q("j5_fk_check",
      (s, dir) => Ops.insertIfAbsent(
          t(s, dir, "lineitem").select(col("l_orderkey")).distinct(),
          t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), broadcastExisting = true)
        .orderBy("l_orderkey"),
      Some("""SELECT DISTINCT l_orderkey FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)
              ORDER BY l_orderkey""")),

    // CUBE: all grouping combinations (beyond the reference; same
    // Expand + single-aggregate plan family as a9_rollup).
    Q("a12_cube",
      (s, dir) => t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(asc("l_returnflag"), asc("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
              FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // As-of join (beyond the reference): each event enriched with the
    // latest order of the same user at event time — composed from
    // built-ins as one keyed shuffle + window (Ops.asofJoin). Oracle:
    // the equivalent windowed left join with the same deterministic
    // tie rule (latest o_orderdate, then highest o_orderkey).
    Q("j4_asof_join",
      (s, dir) => {
        val events = t(s, dir, "events")
          .select("event_id", "ts", "user_id")
        val orders = t(s, dir, "orders")
          .select(col("o_custkey").as("user_id"), col("o_orderdate"),
                  col("o_orderkey"), col("o_totalprice"))
        Ops.asofJoin(events, orders, key = "user_id",
            leftTs = "ts", rightTs = "o_orderdate",
            payloadCols = Seq("o_orderkey", "o_totalprice"),
            tieBreak = "o_orderkey")
          .select("event_id", "ts", "user_id", "o_orderkey", "o_totalprice")
          .orderBy("event_id")
      },
      Some("""WITH o AS (SELECT o_custkey AS user_id, o_orderdate, o_orderkey,
                                o_totalprice FROM orders),
                   e AS (SELECT event_id, ts, user_id FROM events),
                   m AS (SELECT e.event_id, e.ts, e.user_id, o.o_orderkey,
                                o.o_totalprice,
                                ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                         FROM e LEFT JOIN o
                           ON e.user_id = o.user_id AND o.o_orderdate <= e.ts)
              SELECT event_id, ts, user_id, o_orderkey, o_totalprice
              FROM m WHERE rn = 1 ORDER BY event_id""")),

    // merge_asof direction family, completing j4's backward join:
    // forward = the next order at-or-after the event; nearest = the
    // closer of the two, exact ties backward (the pandas rule).
    // Same one-shuffle union-sort-carry plan in every direction.
    Q("j9_asof_forward",
      (s, dir) => {
        val events = t(s, dir, "events")
          .select("event_id", "ts", "user_id")
        val orders = t(s, dir, "orders")
          .select(col("o_custkey").as("user_id"), col("o_orderdate"),
                  col("o_orderkey"), col("o_totalprice"))
        Ops.asofJoin(events, orders, key = "user_id",
            leftTs = "ts", rightTs = "o_orderdate",
            payloadCols = Seq("o_orderkey", "o_totalprice"),
            tieBreak = "o_orderkey", direction = "forward")
          .select("event_id", "ts", "user_id", "o_orderkey", "o_totalprice")
          .orderBy("event_id")
      },
      Some("""WITH o AS (SELECT o_custkey AS user_id, o_orderdate, o_orderkey,
                                o_totalprice FROM orders),
                   e AS (SELECT event_id, ts, user_id FROM events),
                   m AS (SELECT e.event_id, e.ts, e.user_id, o.o_orderkey,
                                o.o_totalprice,
                                ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
                         FROM e LEFT JOIN o
                           ON e.user_id = o.user_id AND o.o_orderdate >= e.ts)
              SELECT event_id, ts, user_id, o_orderkey, o_totalprice
              FROM m WHERE rn = 1 ORDER BY event_id""")),

    // nearest: rank candidates by |ts − o_orderdate| (seconds as
    // double — identical arithmetic both engines), backward wins
    // exact distance ties; within a side at equal distance the tie
    // rule is direction-asymmetric by construction of the one-sort
    // plan (backward = greatest orderkey, forward = smallest), so
    // the oracle encodes exactly that.
    Q("j10_asof_nearest",
      (s, dir) => {
        val events = t(s, dir, "events")
          .select("event_id", "ts", "user_id")
        val orders = t(s, dir, "orders")
          .select(col("o_custkey").as("user_id"), col("o_orderdate"),
                  col("o_orderkey"), col("o_totalprice"))
        Ops.asofJoin(events, orders, key = "user_id",
            leftTs = "ts", rightTs = "o_orderdate",
            payloadCols = Seq("o_orderkey", "o_totalprice"),
            tieBreak = "o_orderkey", direction = "nearest")
          .select("event_id", "ts", "user_id", "o_orderkey", "o_totalprice")
          .orderBy("event_id")
      },
      Some("""WITH o AS (SELECT o_custkey AS user_id, o_orderdate, o_orderkey,
                                o_totalprice FROM orders),
                   e AS (SELECT event_id, ts, user_id FROM events),
                   m AS (SELECT e.event_id, e.ts, e.user_id, o.o_orderkey,
                                o.o_totalprice,
                                ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY ABS(epoch(e.ts) - epoch(o.o_orderdate)),
                                    CASE WHEN o.o_orderdate <= e.ts
                                      THEN 0 ELSE 1 END,
                                    CASE WHEN o.o_orderdate <= e.ts
                                      THEN -o.o_orderkey
                                      ELSE o.o_orderkey END) AS rn
                         FROM e LEFT JOIN o ON e.user_id = o.user_id)
              SELECT event_id, ts, user_id, o_orderkey, o_totalprice
              FROM m WHERE rn = 1 ORDER BY event_id""")),

    // j11: as-of with a tolerance band (pandas merge_asof
    // `tolerance`) — j4's backward join, but an order older than 30
    // days is NOT a candidate (restrict-first; see Ops.asofJoin
    // scaladoc — for backward this equals nulling the out-of-band
    // pick, the form the oracle uses in its join condition).
    Q("j11_asof_tolerance",
      (s, dir) => {
        val events = t(s, dir, "events")
          .select("event_id", "ts", "user_id")
        val orders = t(s, dir, "orders")
          .select(col("o_custkey").as("user_id"), col("o_orderdate"),
                  col("o_orderkey"), col("o_totalprice"))
        Ops.asofJoin(events, orders, key = "user_id",
            leftTs = "ts", rightTs = "o_orderdate",
            payloadCols = Seq("o_orderkey", "o_totalprice"),
            tieBreak = "o_orderkey", direction = "backward",
            toleranceSeconds = Some(30L * 86400L))
          .select("event_id", "ts", "user_id", "o_orderkey", "o_totalprice")
          .orderBy("event_id")
      },
      Some("""WITH o AS (SELECT o_custkey AS user_id, o_orderdate, o_orderkey,
                                o_totalprice FROM orders),
                   e AS (SELECT event_id, ts, user_id FROM events),
                   m AS (SELECT e.event_id, e.ts, e.user_id, o.o_orderkey,
                                o.o_totalprice,
                                ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                         FROM e LEFT JOIN o
                           ON e.user_id = o.user_id AND o.o_orderdate <= e.ts
                              AND o.o_orderdate >= e.ts - INTERVAL 30 DAY)
              SELECT event_id, ts, user_id, o_orderkey, o_totalprice
              FROM m WHERE rn = 1 ORDER BY event_id""")),

    // Approximate COUNT(DISTINCT) — the HLL sketch path for 100 TB
    // cardinalities. Sketch bits are engine-specific → rows-only check.
    Q("a11_approx_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag"),
      None),

    // a11 contract check: the HLL estimate is within ±5% of the exact
    // COUNT(DISTINCT) per group (rsd=0.02 ⇒ 5% is +2.5σ; the sketch is
    // deterministic for fixed data, so this is a stable bound, not a
    // flaky probabilistic one). Violations are provably empty, so the
    // oracle is the empty set with the same schema — the same
    // contract-not-bits pattern as the d2/d3/x3 precision queries.
    Q("a11_bounds",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val approx = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        approx.join(exact, Seq("l_returnflag"))
          .filter(abs(col("approx_parts") - col("exact_parts")) >
            col("exact_parts") * lit(0.05))
          .orderBy("l_returnflag")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS l_returnflag,
                     CAST(NULL AS BIGINT) AS approx_parts,
                     CAST(NULL AS BIGINT) AS exact_parts
              WHERE FALSE""")),

    // a24: the CROSS-ENGINE-DETERMINISTIC cardinality sketch — KMV
    // bottom-k over xxhash64 (graft.ext.Sketches.kmvDistinct), the
    // designed contrast to a11's HLL: the same O(1)-state mergeable
    // estimate class, but every step replayable, so the ESTIMATE is
    // hash-exact against DuckDB (the XxhSql hashLong cascade), not
    // bounds-checked. 15k distinct orderkeys at k=256 ⇒ ~6% expected
    // relative error, same sketch regardless of corpus scale.
    Q("a24_kmv_distinct",
      (s, dir) => graft.ext.Sketches.kmvDistinct(
        t(s, dir, "lineitem"), col("l_orderkey"), k = 256),
      Some(SqlKmvOrderkeyOracle)),

    // a25: the STORED mergeable form of a24's sketch — the state (the
    // bottom-k hash set itself) persisted as a durable corpus gauge
    // and FOLDED per batch (bottom-k of stored ∪ batch state, O(k +
    // batch keys)) plus a shard-state merge, the way an ingest's
    // datacard maintains a distinct-count without ever re-scanning
    // the corpus. bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    // bottom-k(B)) EXACTLY, so the oracle is literally a24's one-shot
    // SQL: the lifecycle must be invisible in the report, hash-exact.
    Q("a25_kmv_stored_lifecycle",
      (s, dir) => {
        import graft.ext.Sketches
        val li = t(s, dir, "lineitem")
        val key = col("l_orderkey")
        val root = java.nio.file.Files
          .createTempDirectory("graft_a25_").toString
        // seed + one incremental fold, then a merge with an
        // independently-built shard state — all three maintenance
        // paths on a 3-way key split whose union is the full table
        Sketches.kmvWrite(
          Sketches.kmvState(li.filter(key % 3 === 0), key),
          s"$root/gauge")
        Sketches.kmvFold(s, s"$root/gauge", li.filter(key % 3 === 1),
          key)
        Sketches.kmvWrite(Sketches.kmvMergedState(Seq(
          s.read.parquet(s"$root/gauge"),
          Sketches.kmvState(li.filter(key % 3 === 2), key)), 256),
          s"$root/merged")
        // the report is 1 row — materialize it off the scratch
        // parquet, then drop the temp root so repeated verify/bench
        // runs don't accrete gauge state on disk (ADVICE r12)
        val report = Sketches.kmvReport(s, s"$root/merged")
          .localCheckpoint()
        val rootPath = new org.apache.hadoop.fs.Path(root)
        rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(rootPath, true)
        report
      },
      Some(SqlKmvOrderkeyOracle)),

    // a26: the DETERMINISTIC uniform sample gauge — KMV's bottom-k
    // construction keeping the ROWS, not just the hashes
    // (graft.ext.Sketches.sampleState): the k hash-smallest keys are
    // a uniform without-replacement draw, mergeable/foldable EXACTLY
    // by the bottom-k union identity, and — the step past a25 — a
    // retraction purges sampled rows leaving exactly the bottom-k′
    // of the live population (every live key outside the stored
    // prefix hashes above it). The full lifecycle in-query: seed +
    // fold + shard merge on a 3-way key split, then REMOVE every
    // 7th key — the report must equal one-shot SQL (bottom-256 of
    // all distinct orderkeys via the XxhSql cascade, survivors of
    // the removal predicate), hash-exact: the lifecycle is invisible.
    Q("a26_sample_gauge_lifecycle",
      (s, dir) => {
        import graft.ext.Sketches
        val keys = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("key_val"))
        val kc = col("key_val")
        val root = java.nio.file.Files
          .createTempDirectory("graft_a26_").toString
        Sketches.sampleWrite(
          Sketches.sampleState(keys.filter(kc % 3 === 0), "key_val"),
          s"$root/gauge")
        Sketches.sampleFold(s, s"$root/gauge",
          keys.filter(kc % 3 === 1), "key_val")
        Sketches.sampleWrite(Sketches.sampleMergedState(Seq(
          s.read.parquet(s"$root/gauge"),
          Sketches.sampleState(keys.filter(kc % 3 === 2), "key_val")),
          "key_val", 256), s"$root/merged")
        Sketches.sampleRemove(s, s"$root/merged",
          keys.filter(kc % 7 === 0), "key_val")
        // ≤ 256 rows — materialize off the scratch parquet, then
        // drop the temp root (a25's cleanup posture)
        val report = Sketches.sampleReport(s, s"$root/merged",
          "key_val").localCheckpoint()
        val rootPath = new org.apache.hadoop.fs.Path(root)
        rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(rootPath, true)
        report
      },
      Some(s"""WITH klv AS (SELECT DISTINCT l_orderkey AS key_val
                            FROM lineitem),
                  ${XxhSql.hashLongCtes("kh", "CAST(key_val AS HUGEINT)",
                    "CAST(42 AS HUGEINT)", "hxx", "klv",
                    Seq("key_val"))},
                  kbot AS (SELECT key_val, hxx FROM khe
                           ORDER BY hxx, key_val LIMIT 256)
              SELECT key_val,
                     CAST(hxx - 9223372036854775808 AS BIGINT) AS hf
              FROM kbot
              WHERE NOT (key_val % 7 = 0)
              ORDER BY hxx, key_val""")),

    // a27: the EXACT histogram gauge — the additive member of the
    // stored-gauge family (Sketches.histState): binned value counts
    // fold/merge by addition (bit-identical to one-shot) and, unlike
    // any sketch, SUBTRACT on retraction exactly (a bin driven
    // negative fails loudly — removing rows never folded is
    // corruption, not drift). Full lifecycle in-query: seed + fold +
    // shard merge on a 3-way orderkey split of lineitem quantities,
    // then REMOVE every 7th orderkey's rows — the stored bins must
    // equal one-shot SQL over the live predicate, hash-exact.
    Q("a27_hist_gauge_lifecycle",
      (s, dir) => {
        import graft.ext.Sketches
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
        val key = col("l_orderkey")
        val v = col("l_quantity")
        val root = java.nio.file.Files
          .createTempDirectory("graft_a27_").toString
        Sketches.histWrite(
          Sketches.histState(li.filter(key % 3 === 0), v, 5L),
          s"$root/gauge")
        Sketches.histFold(s, s"$root/gauge", li.filter(key % 3 === 1),
          v, 5L)
        Sketches.histWrite(Sketches.histMergedState(Seq(
          s.read.parquet(s"$root/gauge"),
          Sketches.histState(li.filter(key % 3 === 2), v, 5L))),
          s"$root/merged")
        Sketches.histRemove(s, s"$root/merged",
          li.filter(key % 7 === 0), v, 5L)
        val report = Sketches.histReport(s, s"$root/merged")
          .localCheckpoint()
        val rootPath = new org.apache.hadoop.fs.Path(root)
        rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(rootPath, true)
        report
      },
      Some("""SELECT CAST(FLOOR(CAST(l_quantity AS DOUBLE) / 5.0)
                       * 5 AS BIGINT) AS bin,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM lineitem
              WHERE NOT (l_orderkey % 7 = 0)
              GROUP BY 1 ORDER BY 1""")),

    // a28: EXACT discrete quantiles served from the stored histogram
    // gauge — p50/p95/p99 at bin resolution read from O(bins) stored
    // rows (the population never re-scanned), the datacard read the
    // a16 approx-percentile row can only bounds-check. Convention
    // pinned cross-engine: the q-quantile is the first bin whose
    // cumulative count reaches ceil(q·N) (discrete lower quantile) —
    // the oracle mirrors the identical cumulative-window SQL, so the
    // VALUES are hash-exact, not an envelope.
    Q("a28_hist_quantiles",
      (s, dir) => {
        import graft.ext.Sketches
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_a28_").toString
        Sketches.histWrite(Sketches.histState(li, col("l_quantity"),
          5L), s"$root/gauge")
        Sketches.histRemove(s, s"$root/gauge",
          li.filter(col("l_orderkey") % 7 === 0),
          col("l_quantity"), 5L)
        val report = Sketches.histQuantile(s, s"$root/gauge",
          Seq(0.5, 0.95, 0.99)).localCheckpoint()
        val rootPath = new org.apache.hadoop.fs.Path(root)
        rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(rootPath, true)
        report
      },
      Some("""WITH hb AS (
                SELECT CAST(FLOOR(CAST(l_quantity AS DOUBLE) / 5.0)
                         * 5 AS BIGINT) AS bin,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM lineitem
                WHERE NOT (l_orderkey % 7 = 0)
                GROUP BY 1),
              hc AS (
                SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum
                FROM hb),
              qq AS (SELECT CAST(0.5 AS DOUBLE) AS q
                     UNION ALL SELECT CAST(0.95 AS DOUBLE)
                     UNION ALL SELECT CAST(0.99 AS DOUBLE))
              SELECT q, MIN(bin) AS value
              FROM qq, hc
              WHERE hc.cum >= GREATEST(CAST(CEIL(
                      q * (SELECT SUM(n) FROM hb)) AS BIGINT), 1)
              GROUP BY q ORDER BY q""")),

    // Multiway join (TPC-H Q3 shape, beyond the reference's 2-table
    // joins): filtered fact × orders × broadcast customer dim, group
    // to per-order revenue, deterministic top-20. Catalyst gets
    // pushdown of all three filters to the scans and picks
    // broadcast/shuffled hash per side; revenue is an exact decimal
    // sum of identically-computed double products, emitted as a
    // roundDet DOUBLE (the only hash-proven money emission — see
    // Ops.sumMoney).
    Q("q3_multiway_join",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          // pin the long-expansion double product to 4dp (portable
          // double ops) before the exact decimal sum, then emit the
          // rounded DOUBLE (Ops.sumMoney route)
          .agg(Ops.roundDet(sum(Ops.roundDet(
              col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .cast(Ops.MoneyDec)).cast("double"), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(20)
      },
      Some {
        val prod4 = sqlRoundDet("l_extendedprice * (1 - l_discount)", 4)
        val rev = sqlRoundDet(
          s"CAST(SUM(CAST($prod4 AS DECIMAL(28,10))) AS DOUBLE)", 2)
        s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
                     $rev AS revenue
              FROM customer, orders, lineitem
              WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
                AND l_orderkey = o_orderkey
                AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY l_orderkey, o_orderdate, o_orderpriority
              ORDER BY revenue DESC, l_orderkey LIMIT 20"""
      }),

    // Skew-safe salted JOIN (the join twin of a10's salted agg):
    // identical rows to the plain inner join, verified by the oracle
    // running the plain join.
    Q("j6_salted_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey").as("p_partkey"), col("l_orderkey"),
            col("l_quantity"))
        val part = t(s, dir, "part").select("p_partkey", "p_brand")
        Ops.saltedJoin(li, part, "p_partkey", saltSrc = "l_orderkey",
            buckets = 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_rows"),
            Ops.sumMoney(col("l_quantity")).as("sum_qty"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n_rows,
                     ${sqlSum("l_quantity")} AS sum_qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand ORDER BY p_brand""")),

    // Set operations: purchasers present in BOTH January halves
    // (INTERSECT) and first-half-only purchasers (EXCEPT) in one
    // output, tagged. Spark intersect/except = INTERSECT/EXCEPT
    // DISTINCT — hash-aggregate + hash-join plans, no sorts.
    Q("s9_set_ops",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
        val h1 = ev.filter(col("ts") < ts("2024-01-16 00:00:00"))
          .select("user_id")
        val h2 = ev.filter(col("ts") >= ts("2024-01-16 00:00:00"))
          .select("user_id")
        h1.intersect(h2).withColumn("cohort", lit("both_halves"))
          .unionByName(h1.except(h2).withColumn("cohort", lit("first_only")))
          .orderBy("cohort", "user_id")
      },
      Some("""WITH h1 AS (SELECT user_id FROM events
                          WHERE event_type = 'purchase'
                            AND ts < TIMESTAMP '2024-01-16 00:00:00'),
                   h2 AS (SELECT user_id FROM events
                          WHERE event_type = 'purchase'
                            AND ts >= TIMESTAMP '2024-01-16 00:00:00')
              SELECT user_id, 'both_halves' AS cohort
              FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
              UNION ALL
              SELECT user_id, 'first_only' AS cohort
              FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
              ORDER BY cohort, user_id""")),

    // Pivot: per-day event counts spread into one column per event
    // type (fixed value list → static output schema; Catalyst compiles
    // this to a single aggregate with one conditional counter per
    // type, exactly what the oracle spells out).
    Q("a15_pivot",
      (s, dir) => t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day"),
      // DuckDB SUM(int) returns HUGEINT — pin every counter to BIGINT
      // (sqlSumBigint) to match Spark's LongType
      Some(s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     ${sqlSumBigint("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")} AS click,
                     ${sqlSumBigint("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END")} AS error,
                     ${sqlSumBigint("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")} AS purchase,
                     ${sqlSumBigint("CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END")} AS signup,
                     ${sqlSumBigint("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")} AS view
              FROM events GROUP BY 1 ORDER BY day""")),

    // Conditional aggregation (TPC-H Q12 shape): SUM(CASE WHEN …)
    // pivots a predicate into per-group counters in a single pass —
    // one scan, one aggregate, no joins or unions.
    Q("q12_conditional_agg",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
               .otherwise(0L)).as("high_line_count"),
             sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
               .otherwise(0L)).as("low_line_count"))
        .orderBy("o_orderstatus"),
      Some(s"""SELECT o_orderstatus,
                     ${sqlSumBigint("""CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END""")} AS high_line_count,
                     ${sqlSumBigint("""CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END""")} AS low_line_count
              FROM orders GROUP BY o_orderstatus
              ORDER BY o_orderstatus""")),

    // Full outer join: customers × per-customer order rollup — rows
    // survive from BOTH unmatched sides (customers who never ordered,
    // and any order keyed outside the customer table). Completes the
    // join-type family (inner/left/anti/semi are covered elsewhere).
    Q("j7_full_outer_join",
      (s, dir) => {
        val perCust = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
          .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(col("c_custkey"), col("o_custkey"), col("c_mktsegment"),
            col("n_orders"))
          .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_custkey"))
      },
      Some("""SELECT c_custkey, o_custkey, c_mktsegment, n_orders
              FROM customer
              FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                               FROM orders GROUP BY o_custkey) o
                ON c_custkey = o_custkey
              ORDER BY c_custkey NULLS FIRST, o_custkey NULLS FIRST""")),

    // approx_percentile contract (the a11_bounds pattern for the GK
    // quantile sketch): with accuracy a, the sketch guarantees the
    // returned value's RANK is within n/a of the target rank. The
    // check recomputes each group's true rank interval of the
    // approximate median ([rows < v, rows ≤ v]) and emits groups
    // where target rank 0.5·n falls outside that interval widened by
    // n/a + 1 — provably empty, empty-set oracle. (The sketch value
    // itself is merge-order-dependent, so only the BOUND is
    // driver-checkable — exact percentiles are a13.)
    Q("a16_approx_percentile_bounds",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_quantity").as("q"))
        val ap = li.groupBy("flag")
          .agg(expr("approx_percentile(q, 0.5, 1000)").as("v"),
            count(lit(1)).as("n"))
        li.join(ap, Seq("flag"))
          .groupBy("flag")
          .agg(first(col("n")).as("n"),
            sum(when(col("q") < col("v"), 1L).otherwise(0L)).as("rank_lo"),
            sum(when(col("q") <= col("v"), 1L).otherwise(0L)).as("rank_hi"))
          .withColumn("__err", col("n").cast("double") / 1000.0 + 1.0)
          .withColumn("__target", col("n").cast("double") * 0.5)
          .filter(col("__target") < col("rank_lo").cast("double") - col("__err") ||
            col("__target") > col("rank_hi").cast("double") + col("__err"))
          .select("flag", "n", "rank_lo", "rank_hi")
          .orderBy("flag")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS flag,
                     CAST(NULL AS BIGINT) AS n,
                     CAST(NULL AS BIGINT) AS rank_lo,
                     CAST(NULL AS BIGINT) AS rank_hi
              WHERE FALSE""")),

    // Sliding (overlapping) windows — the window-variant tumbling
    // (p2/a5/st1) doesn't cover: window('1 day', slide '6 hours')
    // assigns every event to 4 overlapping windows. The oracle
    // replays Spark's epoch-aligned assignment exactly: starts are
    // the multiples of the slide in (ts − length, ts], generated with
    // range(0,4) and filtered half-open.
    Q("a17_sliding_window",
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Ops.sumMoney(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type"),
      Some(s"""WITH w AS (
                 SELECT event_type, value,
                        to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600
                                          - k * 21600 AS BIGINT))
                          AS window_start
                 FROM events, (SELECT unnest(range(0, 4)) AS k)
                 WHERE floor(epoch(ts) / 21600) * 21600 - k * 21600
                       > epoch(ts) - 86400)
               SELECT CAST(window_start AS TIMESTAMP) AS window_start,
                      event_type, COUNT(*) AS n_events,
                      ${sqlSum("value")} AS sum_value
               FROM w GROUP BY 1, 2
               ORDER BY window_start, event_type""")),

    // GROUPING SETS — the general form a9's ROLLUP and a12's CUBE
    // specialize (one Expand + single aggregate; the OLAP report
    // staple of "totals by A, totals by B, grand total" without
    // three scans). Uses the SQL surface (the DataFrame-side
    // groupingSets landed in 4.0 but SQL is the stable spelling).
    Q("a19_grouping_sets",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("__li_gs")
        s.sql("""SELECT l_returnflag, l_linestatus,
                        COUNT(*) AS n_rows
                 FROM __li_gs
                 GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                 ORDER BY l_returnflag NULLS FIRST,
                          l_linestatus NULLS FIRST""")
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
              FROM lineitem
              GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              ORDER BY l_returnflag NULLS FIRST,
                       l_linestatus NULLS FIRST""")),

    // NTILE decile bucketing — the quantile-assignment staple
    // (spend tiers, score deciles). Partitioned by order year so
    // the rank window shuffles by a real key instead of collapsing
    // to one partition (the global form is what w4's audit is for);
    // ties broken by o_orderkey so both engines bucket identically.
    Q("a20_ntile_deciles",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("yr"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .select(year(col("o_orderdate")).as("yr"), col("o_orderkey"),
            col("o_totalprice"))
          .withColumn("decile", ntile(10).over(w))
          .groupBy("yr", "decile")
          .agg(count(lit(1)).as("n_orders"),
            Ops.sumMoney(col("o_totalprice")).as("sum_price"))
          .orderBy("yr", "decile")
      },
      Some(s"""WITH d AS (
                 SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                        o_totalprice,
                        CAST(NTILE(10) OVER (PARTITION BY year(o_orderdate)
                          ORDER BY o_totalprice DESC, o_orderkey)
                          AS INTEGER) AS decile
                 FROM orders)
               SELECT yr, decile, COUNT(*) AS n_orders,
                      ${sqlSum("o_totalprice")} AS sum_price
               FROM d GROUP BY yr, decile ORDER BY yr, decile""")),

    // Time-RANGE window frame — trailing 1-hour count/sum per user,
    // a frame defined by ORDER-value bounds rather than row offsets
    // (a17's sliding window() is the overlapping-bucket operator;
    // a14/a17 ROWS frames count rows). The range key is epoch
    // MICROseconds on both engines — unix_timestamp would truncate
    // to seconds and could disagree inside a second. RANGE includes
    // ties (peers) by value on both engines; output order pins on
    // the unique event_id.
    Q("a21_time_range_frame",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600L * 1000000L, 0L)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            count(lit(1)).over(w).as("n_1h"),
            Ops.roundDet(sum(col("value").cast(Ops.MoneyDec)).over(w)
              .cast("double"), 2).as("sum_1h"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, ts,
                      CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
                      ${sqlRoundDet(
                        """CAST(SUM(CAST(value AS DECIMAL(28,10)))
                           OVER w AS DOUBLE)""", 2)} AS sum_1h
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 3600000000 PRECEDING
                              AND CURRENT ROW)
               ORDER BY event_id""")),

    // a22: UNPIVOT/melt — the inverse of a15's pivot: the wide
    // per-flag aggregate becomes (flag, measure, value) long form,
    // the shape metric/chart pipelines consume. Measures share a
    // double type (unpivot's common-type contract), so the count
    // casts up front on both sides.
    Q("a22_unpivot",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Ops.sumMoney(col("l_quantity")).as("sum_qty"),
          Ops.sumMoney(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n_rows")),
          "measure", "value")
        .orderBy("l_returnflag", "measure"),
      Some(s"""WITH w AS (SELECT l_returnflag,
                    ${sqlSum("l_quantity")} AS sum_qty,
                    ${sqlSum("l_extendedprice")} AS sum_price,
                    CAST(COUNT(*) AS DOUBLE) AS n_rows
                  FROM lineitem GROUP BY l_returnflag)
               SELECT l_returnflag, measure, value
               FROM w UNPIVOT (value FOR measure IN
                 (sum_qty, sum_price, n_rows))
               ORDER BY l_returnflag, measure""")),

    // a23: LOCF gap-fill (last observation carried forward) — only
    // purchase events carry an observed amount; every event reads
    // the user's most recent one. IGNORE-NULLS last() over a
    // user-keyed running frame; the fill copies doubles VERBATIM (no
    // arithmetic), so both engines agree bit-for-bit. Frame order
    // pins on the unique event_id tie-break.
    Q("a23_gap_fill_locf",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(W.unboundedPreceding, 0)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            when(col("event_type") === "purchase", col("value"))
              .as("observed"))
          .withColumn("filled",
            last(col("observed"), ignoreNulls = true).over(w))
          .orderBy("event_id")
      },
      Some("""WITH o AS (SELECT event_id, user_id, ts,
                    CASE WHEN event_type = 'purchase' THEN value END
                      AS observed
                  FROM events)
              SELECT event_id, user_id, ts, observed,
                     last_value(observed IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS filled
              FROM o ORDER BY event_id""")),

    // Range join with NO equi-key (point-in-interval lookup): naive
    // Spark plans this as BroadcastNestedLoopJoin — O(|L|·|R|). The
    // bucketized rewrite (Ops.bucketedRangeJoin) turns it into a keyed
    // equi-join on time buckets + residual filter; PlanSpec locks the
    // nested loop out of the plan. Windows are derived
    // deterministically from the events table (every 499th event
    // opens a 37-minute window), the oracle runs the naive join —
    // same matches, different plan.
    Q("j8_range_join_bucketed",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_id"), col("ts"))
        val wins = t(s, dir, "events")
          .filter(col("event_id") % 499 === 0)
          .select(col("event_id").as("win_id"), col("ts").as("win_start"),
            (col("ts") + expr("interval 37 minutes")).as("win_end"))
        Ops.bucketedRangeJoin(ev, wins, "ts", "win_start", "win_end",
            maxLenSeconds = 37 * 60)
          .select(col("event_id"), col("win_id"))
          .orderBy("event_id", "win_id")
      },
      Some("""WITH w AS (SELECT event_id AS win_id, ts AS win_start,
                           ts + INTERVAL 37 MINUTE AS win_end
                         FROM events WHERE event_id % 499 = 0)
              SELECT e.event_id, w.win_id
              FROM events e JOIN w
                ON e.ts >= w.win_start AND e.ts < w.win_end
              ORDER BY e.event_id, w.win_id""")),

    // Running total over an explicit ROWS frame (window-frame coverage
    // beyond w2's internal running sum): per-customer cumulative spend
    // in order-key order. The sum is exact decimal per frame — each
    // output value is an independent exact prefix sum, so no FP
    // accumulation order can drift — emitted via the portable
    // double-round route (see Ops.sumMoney).
    Q("a14_running_total",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("o_orderkey")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        t(s, dir, "orders")
          .filter(col("o_custkey") < 50)
          .select(col("o_custkey"), col("o_orderkey"),
            Ops.roundDet(
              sum(col("o_totalprice").cast(Ops.MoneyDec)).over(w)
                .cast("double"), 2).as("running_spend"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some {
        val run = sqlRoundDet(
          """CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)""", 2)
        s"""SELECT o_custkey, o_orderkey, $run AS running_spend
            FROM orders WHERE o_custkey < 50
            ORDER BY o_custkey, o_orderkey"""
      }),

    // Exact interpolated percentile (ordered-set aggregate — beyond
    // the reference's agg surface). Spark `percentile` and DuckDB
    // `quantile_cont` share the lower+(upper-lower)*frac interpolation
    // on the sorted values, so the doubles oracle-compare exactly.
    Q("a13_percentile",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(Ops.roundDet(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50"),
             Ops.roundDet(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
                      ${sqlRoundDet("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
                      ${sqlRoundDet("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90
               FROM lineitem GROUP BY l_returnflag
               ORDER BY l_returnflag""")),

    // P5 + A2: partition-scoped MAX within the month window
    // (bronze_incremental_load.sql:64-65).
    Q("p5_partition_max",
      (s, dir) => t(s, dir, "events")
        .filter(col("ts") >= ts(WIN_LO) && col("ts") < ts("2024-02-01 00:00:00"))
        .groupBy("event_type")
        .agg(max(col("value")).as("max_value"), count(lit(1)).as("n_events"))
        .orderBy("event_type"),
      Some(s"""SELECT event_type, MAX(value) AS max_value, COUNT(*) AS n_events
               FROM events
               WHERE ts >= TIMESTAMP '$WIN_LO' AND ts < TIMESTAMP '2024-02-01 00:00:00'
               GROUP BY event_type ORDER BY event_type""")),

    // TPC-H Q5 shape: region-gated six-table join. The dimension chain
    // region → nation → supplier collapses to two tiny broadcast
    // tables before touching a fact row; customer⋈orders⋈lineitem are
    // the only shuffled joins (keyed on their own join columns, the
    // partitioning a 1000-executor plan wants). The n_name group key
    // arrives via the broadcast side — no second pass over facts.
    Q("q5_region_revenue",
      (s, dir) => {
        val asianNations = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val supp = t(s, dir, "supplier")
          .join(broadcast(asianNations),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_nationkey", "n_name")
        val cust = t(s, dir, "customer")
          .join(broadcast(asianNations.select(col("n_nationkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_nationkey")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
                  col("o_orderdate") < ts("1998-01-01 00:00:00"))
          .select("o_orderkey", "o_custkey")
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp),
            col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(Ops.roundDet(sum(Ops.roundDet(
              col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .cast(Ops.MoneyDec)).cast("double"), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some {
        val prod4 = sqlRoundDet("l_extendedprice * (1 - l_discount)", 4)
        val rev = sqlRoundDet(
          s"CAST(SUM(CAST($prod4 AS DECIMAL(28,10))) AS DOUBLE)", 2)
        s"""SELECT n_name, $rev AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY n_name ORDER BY revenue DESC, n_name"""
      }),

    // TPC-H Q18 shape: HAVING over a big aggregate, then the
    // qualifying keys rejoin the facts. The heavy groupBy runs on
    // lineitem alone (partial agg shuffles pre-reduced rows keyed by
    // l_orderkey); the survivors are a tiny set that broadcasts into
    // the orders/customer joins. The HAVING compares exact decimal
    // sums on both engines — no FP boundary flicker at the threshold.
    Q("q18_big_spenders",
      (s, dir) => {
        val big = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast(Ops.MoneyDec)).as("qty_dec"))
          .filter(col("qty_dec") > lit(250).cast(Ops.MoneyDec))
          .select(col("l_orderkey"),
            Ops.roundDet(col("qty_dec").cast("double"), 2).as("total_qty"))
        t(s, dir, "orders")
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            Ops.roundDet(col("o_totalprice"), 2).as("o_price"),
            col("total_qty"))
          .orderBy(col("total_qty").desc, col("o_orderkey"))
      },
      Some(s"""SELECT c_name, o_orderkey, o_orderdate,
                      ${sqlRoundDet("o_totalprice", 2)} AS o_price,
                      ${sqlRoundDet(
                        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE)", 2)}
                        AS total_qty
               FROM customer, orders, lineitem
               WHERE o_orderkey = l_orderkey AND c_custkey = o_custkey
               GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
               HAVING SUM(CAST(l_quantity AS DECIMAL(28,10))) > 250
               ORDER BY total_qty DESC, o_orderkey""")),

    // TPC-H Q4 shape: EXISTS correlated subquery → left-semi join with
    // a non-equi conjunct (late shipment: any lineitem shipped after
    // the order date). The semi join shuffles each side once on the
    // order key and never materializes matches — the plan EXISTS
    // should produce, declared directly.
    Q("q4_priority_semi",
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
                  col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        ord.join(li,
            col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                AND EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey
                              AND l_shipdate > o_orderdate)
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // The medallion transform chain END TO END as one driver-checkable
    // row (not just its operators): a bronze-shaped taxi frame derived
    // deterministically from `events`, pushed through the REAL
    // silver transform (full-row dedup W1, text→int cast F7, floored
    // minute_duration F5) and the REAL gold vendor aggregate (A3 dim +
    // F6 decode + broadcast left join J1/A7 + exact money sums F9) —
    // the same code GoldenSpec pins with exact values on the taxi
    // fixtures. vendorid 42 decodes to NULL, so the NULL group is
    // exercised; the oracle replays the identical chain in SQL.
    Q("g1_gold_vendor_e2e",
      (s, dir) => {
        val bronze = t(s, dir, "events").select(
          element_at(array(lit(1), lit(2), lit(6), lit(7), lit(42)),
            (col("event_id") % 5).cast("int") + 1).as("vendorid"),
          col("ts").as("tpep_pickup_datetime"),
          timestamp_micros(unix_micros(col("ts")) +
            (col("event_id") % 90 + 1) * 60L * 1000000L)
            .as("tpep_dropoff_datetime"),
          lit("1").as("passenger_count"),
          lit(0.0).as("trip_distance"),
          lit("1.0").as("ratecodeid"),
          lit("N").as("store_and_fwd_flag"),
          lit(1).as("pulocationid"), lit(1).as("dolocationid"),
          (col("event_id") % 8).cast("int").as("payment_type"),
          lit(0.0).as("fare_amount"), lit(0.0).as("extra"),
          lit(0.0).as("mta_tax"), lit(0.0).as("tip_amount"),
          lit(0.0).as("tolls_amount"), lit(0.0).as("improvement_surcharge"),
          Ops.roundDet(col("value"), 2).as("total_amount"),
          lit(0.0).as("congestion_surcharge"), lit(0.0).as("airport_fee"))
        val fact = graft.silver.SilverRefresh.transformFact(bronze)
        val dim = fact.select("vendorid").distinct()
          .withColumn("vendor", Ops.decodeByMap(col("vendorid"),
            graft.silver.SilverRefresh.VendorNames))
        graft.gold.GoldViews.vendorMetrics(fact, dim)
          .orderBy(desc("total_revenue"), asc_nulls_first("vendor"))
      },
      Some(s"""WITH bronze AS (
                 SELECT list_extract([1,2,6,7,42],
                          CAST(event_id % 5 AS INTEGER) + 1) AS vendorid,
                        ts AS tpep_pickup_datetime,
                        ts + to_minutes(CAST(event_id % 90 + 1 AS BIGINT))
                          AS tpep_dropoff_datetime,
                        '1' AS passenger_count, 0.0 AS trip_distance,
                        '1.0' AS ratecodeid, 'N' AS store_and_fwd_flag,
                        1 AS pulocationid, 1 AS dolocationid,
                        CAST(event_id % 8 AS INTEGER) AS payment_type,
                        0.0 AS fare_amount, 0.0 AS extra, 0.0 AS mta_tax,
                        0.0 AS tip_amount, 0.0 AS tolls_amount,
                        0.0 AS improvement_surcharge,
                        ${sqlRoundDet("value", 2)} AS total_amount,
                        0.0 AS congestion_surcharge, 0.0 AS airport_fee
                 FROM events),
               fact AS (SELECT DISTINCT * FROM bronze),
               f2 AS (SELECT *,
                        CAST(FLOOR(date_diff('second', tpep_pickup_datetime,
                               tpep_dropoff_datetime) / 60.0) AS INTEGER)
                          AS minute_duration
                      FROM fact),
               dim AS (SELECT DISTINCT vendorid,
                         CASE vendorid
                           WHEN 1 THEN 'Creative Mobile Technologies, LLC'
                           WHEN 2 THEN 'Curb Mobility, LLC'
                           WHEN 6 THEN 'Myle Technologies Inc'
                           WHEN 7 THEN 'Helix' END AS vendor
                       FROM f2)
               SELECT d.vendor, CAST(COUNT(*) AS BIGINT) AS total_trips,
                      ${sqlSum("total_amount")} AS total_revenue,
                      ${sqlAvg("minute_duration")} AS avg_trip_duration
               FROM f2 LEFT JOIN dim d ON f2.vendorid = d.vendorid
               GROUP BY d.vendor
               ORDER BY total_revenue DESC, vendor ASC NULLS FIRST""")),

    // ---- nested / semi-structured columns ------------------------------

    // Array-of-struct round trip: nest each order's lines into a
    // linenumber-sorted array<struct>, then consume the nested column
    // itself — element count, an exact decimal total folded with a
    // higher-order aggregate lambda, positional head access, and a
    // transform+array_max projection. This is the shape multimodal /
    // document metadata ships in at 100 TB (one row per asset, nested
    // per-part records), so the engine must build and consume it
    // without re-flattening. One shuffle (groupBy orderkey), map-side
    // partial collect. sort_array orders structs lexicographically by
    // field position — (linenumber, quantity, price) — so head access
    // is deterministic even though (orderkey, linenumber) is not
    // unique in the fixture; the oracle mirrors that exact tie-break.
    // Scale note: the higher-order lambdas evaluate interpreted (no
    // codegen), but over per-order arrays (≤7 elements) bounded by
    // the group — the data-sized work (shuffle, sort) stays codegen'd.
    Q("n1_nested_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice")))).as("items"))
        .select(col("l_orderkey"),
          size(col("items")).cast("long").as("n_items"),
          Ops.roundDet(aggregate(col("items"),
              lit(BigDecimal(0)).cast(Ops.MoneyDec),
              (acc, x) => (acc + x.getField("l_extendedprice")
                .cast(Ops.MoneyDec)).cast(Ops.MoneyDec))
            .cast("double"), 2).as("total_price"),
          element_at(col("items"), 1).getField("l_quantity").as("first_qty"),
          array_max(transform(col("items"),
            _.getField("l_quantity"))).as("max_qty"))
        .orderBy("l_orderkey"),
      Some(s"""WITH r AS (SELECT l_orderkey, l_quantity, l_extendedprice,
                       ROW_NUMBER() OVER (PARTITION BY l_orderkey
                         ORDER BY l_linenumber, l_quantity,
                                  l_extendedprice) AS rn
                     FROM lineitem)
               SELECT l_orderkey,
                      COUNT(*) AS n_items,
                      ${sqlSum("l_extendedprice")} AS total_price,
                      MAX(CASE WHEN rn = 1 THEN l_quantity END) AS first_qty,
                      MAX(l_quantity) AS max_qty
               FROM r GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // Map-typed per-entity profile: per user, an event_type→count map
    // built with map_from_entries over grouped counts, consumed via
    // element_at lookups and size — the sparse feature-bundle shape
    // that carries per-key stats in ONE column instead of exploding
    // the schema one-column-per-key (key domains at corpus scale are
    // unbounded; schemas are not). Two keyed shuffles, both with
    // map-side partial aggregation; the lookups are expression-level,
    // no joins. The map column itself never leaves the plan — the
    // compared output stays inside the proven {BIGINT, VARCHAR} set.
    Q("n2_map_rollup",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("n"))))).as("profile"))
        .select(col("user_id"),
          size(col("profile")).cast("long").as("n_types"),
          coalesce(element_at(col("profile"), lit("click")), lit(0L))
            .as("n_click"),
          coalesce(element_at(col("profile"), lit("purchase")), lit(0L))
            .as("n_purchase"))
        .orderBy("user_id"),
      Some(s"""SELECT user_id,
                      COUNT(DISTINCT event_type) AS n_types,
                      ${sqlSumBigint(
                        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")}
                        AS n_click,
                      ${sqlSumBigint(
                        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")}
                        AS n_purchase
               FROM events GROUP BY user_id ORDER BY user_id""")),

    // C4/J3 at scale — the reference's one observed pathology (proc
    // 3.2 s → 83.5 s as meta.invalid_records grew, BASELINE.md) as a
    // registered, per-round-measured pair: seed a month-partitioned
    // quarantine over orders' 80-month history, then anti-join ONE
    // month's candidate batch against it. The probe's scan is
    // partition-pruned (PlanSpec locks PartitionFilters), so its
    // bench time stays flat however long the history grows — the
    // curve the reference couldn't flatten. See
    // graft.ops.QuarantineStore.
    Q("p7_quarantine_seed",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        graft.ops.QuarantineStore.build(orders,
          graft.ops.QuarantineStore.dirFor(dir))
        graft.ops.QuarantineStore.monthSummary(s,
          graft.ops.QuarantineStore.dirFor(dir))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
                     COUNT(*) AS n
              FROM orders WHERE o_orderkey % 3 = 0
              GROUP BY 1 ORDER BY order_month""")),

    Q("p8_quarantine_probe",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val store = graft.ops.QuarantineStore.dirFor(dir)
        graft.ops.QuarantineStore.ensure(orders, store)
        graft.ops.QuarantineStore.probe(s, store, orders)
          .select("o_orderkey", "o_custkey", "o_orderdate",
            "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
                     o.o_totalprice
              FROM orders o
              WHERE strftime(o.o_orderdate, '%Y-%m') = '1997-03'
                AND NOT EXISTS (
                  SELECT 1 FROM orders q
                  WHERE q.o_orderkey % 3 = 0
                    AND q.o_orderkey = o.o_orderkey
                    AND q.o_custkey = o.o_custkey
                    AND q.o_orderdate = o.o_orderdate)
              ORDER BY o.o_orderkey""")),

    // p9: p8's anti-join through the ZERO-LISTING path — probeDirect
    // reads the candidate month's partition directory itself
    // (basePath read) instead of pruning a root listing, so probe
    // cost is pinned to the candidate month at ANY history depth
    // (p8's PartitionFilters posture still lists every partition dir
    // to discover them — metadata-cheap under a metastore, O(months)
    // on bare paths; QuarantineStore.probeDirect quotes the split).
    // Identical result by construction (the key contains
    // o_orderdate), so the oracle is p8's NOT EXISTS verbatim.
    Q("p9_quarantine_probe_direct",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val store = graft.ops.QuarantineStore.dirFor(dir)
        graft.ops.QuarantineStore.ensure(orders, store)
        graft.ops.QuarantineStore.probeDirect(s, store, orders)
          .select("o_orderkey", "o_custkey", "o_orderdate",
            "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
                     o.o_totalprice
              FROM orders o
              WHERE strftime(o.o_orderdate, '%Y-%m') = '1997-03'
                AND NOT EXISTS (
                  SELECT 1 FROM orders q
                  WHERE q.o_orderkey % 3 = 0
                    AND q.o_orderkey = o.o_orderkey
                    AND q.o_custkey = o.o_custkey
                    AND q.o_orderdate = o.o_orderdate)
              ORDER BY o.o_orderkey"""))
  )

  /** The one-shot KMV oracle over lineitem's distinct orderkeys —
    * shared VERBATIM by a24 (in-query sketch) and a25 (stored gauge
    * lifecycle): the fold/merge algebra must be invisible in the
    * report, so both rows pin against the identical SQL. Mirrors
    * Sketches.kmvReportOf bit-for-bit: exact-integer (u_k - 2^63) →
    * one int64→double cast → + 2^63, a second identically-rounded
    * IEEE add in both engines (valid in the k..2k regime where u_k
    * itself > 2^63); the addend is the exact decimal spelling of
    * 2^63, so the oracle text rests only on DuckDB parsing an
    * exactly-representable literal. A def, not a val: the `all` Seq
    * initializes first and would read a val as null. */
  private def SqlKmvOrderkeyOracle: String =
    s"""WITH klv AS (SELECT DISTINCT l_orderkey AS lv
                     FROM lineitem),
        ${XxhSql.hashLongCtes("kh", "CAST(lv AS HUGEINT)",
          "CAST(42 AS HUGEINT)", "hxx", "klv", Seq("lv"))},
        kbot AS (SELECT DISTINCT hxx FROM khe
                 ORDER BY hxx LIMIT 256)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(MAX(hxx) - CASE
                   WHEN MAX(hxx) >= 9223372036854775808
                   THEN 18446744073709551616 ELSE 0 END
                 AS BIGINT) AS kth_hash,
               ${sqlRoundDet(
                 s"""CASE WHEN COUNT(*) < 256
                    THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE 255.0 * 18446744073709551616.0
                         / (CAST(CAST(MAX(hxx)
                              - 9223372036854775808 AS BIGINT)
                             AS DOUBLE)
                            + 9223372036854775808.0) END""", 4)}
                 AS n_distinct_est
        FROM kbot"""
}
