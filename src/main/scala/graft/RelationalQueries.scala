package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.{T, Tpar}
import graft.operators.AsOfJoin

/**
 * Classical relational + streaming-window operators the reference lacks
 * (SURVEY.md §2.6 "engine adds"): window functions, rollup, top-k, set
 * operations, as-of join, and event-time windows (tumbling / sliding /
 * session) expressed so the same query runs batch (oracle-checkable)
 * and over a stream.
 */
object RelationalQueries {

  /** Shuffle parallelism for the scoped streaming-harness sessions.
   * Every stateful operator opens + commits one state store per shuffle
   * partition per micro-batch, so at bench SF the per-store overhead
   * dominates wall time and a handful of partitions is fastest. That is
   * a HARNESS property, not an operator property — at production scale
   * the right number comes from state volume / executor count — so the
   * per-query value is only a default, overridable on the parent
   * session via `spark.graft.stream.shufflePartitions`. */
  private def streamShuffle(parent: SparkSession, default: Int): String =
    parent.conf.getOption("spark.graft.stream.shufflePartitions")
      .getOrElse(default.toString)

  /** Q3: ranking + analytic window functions — top-3 customers per
   * market segment by balance, with running segment totals. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val byBal = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(byBal).as("rn"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).over(
          byBal.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_bal"),
        lag(col("c_custkey"), 1).over(byBal).as("prev_custkey"))
      .filter(col("rn") <= 3)
      .orderBy("c_mktsegment", "rn")
  }

  /** Q4: ROLLUP aggregation with grouping ids (partial+final agg via
   * Catalyst; Expand feeds one shuffle). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** Q14: CUBE — all 4 grouping sets of (priority, status) in one
   * Expand + one shuffle (completes the rollup/grouping-sets/cube
   * family next to q4 and x13). */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("o_orderpriority"), col("o_orderstatus"))

  /** Q5: global top-k with total tie-break — plans as
   * TakeOrderedAndProject (no full sort, no single-node shuffle). */
  def topK(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)

  /** Q6: set operations — semi/anti join as the source<->sink diff tool
   * (SURVEY.md §2.6), INTERSECT/EXCEPT over key sets. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val custKeys = T(s, dir, "customer").select(col("c_custkey").as("k"))
    val orderCust = T(s, dir, "orders").select(col("o_custkey").as("k"))
    def n(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).withColumn("op", lit(name))
    n("customers_with_orders", custKeys.intersect(orderCust))
      .unionByName(n("customers_without_orders", custKeys.except(orderCust)))
      .unionByName(n("semi", custKeys.join(orderCust, Seq("k"), "left_semi")))
      .unionByName(n("anti", custKeys.join(orderCust, Seq("k"), "left_anti")))
      .select("op", "n").orderBy("op")
  }

  /** Q17: MULTISET set operations — INTERSECT ALL / EXCEPT ALL keep
   * duplicate cardinality (q6's variants collapse to sets): the
   * reconciliation tool when row COUNTS matter, e.g. detecting
   * double-applied batches between a source and a sink. Catalyst plans
   * both as one aggregation of per-side counts + a generate — no join
   * explosion on duplicate-heavy keys. */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val a = T(s, dir, "orders").select((col("o_custkey") % 100).as("k"))
    val b = T(s, dir, "customer").select((col("c_custkey") % 100).as("k"))
    def n(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).withColumn("op", lit(name))
    n("intersect_all", a.intersectAll(b))
      .unionByName(n("except_all", a.exceptAll(b)))
      .select("op", "n").orderBy("op")
  }

  /** Q7: as-of join — each event matched to the customer's most recent
   * order at event time (union-tag implementation, one shuffle). */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = T(s, dir, "events")
      .select("event_id", "user_id", "ts", "event_type")
    // dedup right side to one row per (key, ts) for determinism
    val orders = T(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("o_orderkey"))
    AsOfJoin.asof(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof.o_orderkey").as("o_orderkey"),
        col("asof.o_orderdate").as("o_orderdate"))
      .orderBy("event_id")
  }

  /** Q8: range (point-in-interval) join — events matched to the
   * half-open maintenance window [hour+10min, hour+40min) containing
   * them, via the binned equi-join (no nested-loop blowup). */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select("event_id", "ts")
    val intervals = ev.select(date_trunc("hour", col("ts")).as("h")).distinct()
      .select((col("h") + expr("INTERVAL 10 MINUTES")).as("w_start"),
        (col("h") + expr("INTERVAL 40 MINUTES")).as("w_end"))
    graft.operators.RangeJoin.pointInInterval(
        ev, intervals, "ts", "w_start", "w_end",
        binWidthMicros = 30L * 60 * 1000000)
      .groupBy(col("range.w_start").as("interval_start"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("interval_start")
  }

  /** J1: JSON functions — extract from the events.props JSON column via
   * both `get_json_object` (path probe) and `from_json` (typed parse),
   * then aggregate. The props column is deliberately parsed TWICE (k and
   * k2) to exercise both APIs side by side — coverage, not the plan
   * you'd write in production (one `from_json` serves both). */
  def jsonFunctions(s: SparkSession, dir: String): DataFrame =
    // Tpar: the double JSON parse is compute-heavy and narrow; the
    // single-row-group testdata would pin it to one task (measured
    // 21.7× at the 10× ladder rung purely from the unsplittable scan)
    Tpar(s, dir, "events")
      .select(
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k2"))
      .groupBy(pmod(col("k"), lit(10)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k2").as("max_k"))
      .orderBy("bucket")

  /** Q9: pivot — event counts per user-id bucket, one column per event
   * type, as conditional aggregates over DECLARED values. Two deliberate
   * plan choices for scale: declared values (an undiscovered `.pivot`
   * runs an eager distinct job at plan time and makes the schema
   * data-dependent), and `count(when(...))` instead of `.pivot(...)`
   * (whose pivotfirst compiles to TWO shuffles — (bucket, type) agg then
   * bucket agg; conditionals are one map-side-combined shuffle). */
  def pivotAgg(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cols = types.map(t =>
      count(when(col("event_type") === t, 1)).as(t))
    T(s, dir, "events")
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .agg(cols.head, cols.tail: _*)
      .orderBy("user_bucket")
  }

  /** Q19: UNPIVOT — the inverse reshape of q9, melting the wide
   * per-type count columns back to (user_bucket, event_type, n) rows
   * through Spark's native `unpivot` (the Expand-based Unpivot logical
   * node — one pass, no join, output rows = input rows × value
   * columns). Round-tripping q9's pivot keeps the zero cells a plain
   * GROUP BY would drop — exactly what distinguishes unpivot-of-pivot
   * from re-aggregation, and what the oracle's left join replays. */
  def unpivotCounts(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cols = types.map(t =>
      count(when(col("event_type") === t, 1)).as(t))
    T(s, dir, "events")
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .agg(cols.head, cols.tail: _*)
      .unpivot(Array(col("user_bucket")), types.map(col).toArray,
        "event_type", "n")
      .orderBy("user_bucket", "event_type")
  }

  /** Q20: EXACT percentile aggregation — quartiles of l_quantity per
   * return flag via Spark's sort-based `percentile` (not the t-digest
   * `approx_percentile`: the oracle is exact, so the engine side must
   * be too). Interpolation positions (n−1)·{¼,½,¾} and the whole-number
   * quantity domain are both binary-exact, so Spark's and DuckDB's
   * linear interpolation agree bit-for-bit — no DECIMAL detour needed.
   * At 100 TB exact percentiles are a sort-per-group; the per-flag
   * groups here shuffle once and sort within partitions (the same
   * shape as q3's windows) — switch to approx_percentile only when the
   * group cardinality makes that sort the bottleneck. */
  def percentileAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Q10: TPC-H Q3 shape through the SQL STRING entry point — temp
   * views + `spark.sql` — proving the engine's tables are consumable
   * from plain SQL, not just the DataFrame API. Catalyst compiles this
   * to the identical plan the DataFrame version would get (broadcast or
   * shuffled joins by size, partial+final agg, TakeOrdered top-k). */
  def tpchQ3Sql(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "customer").createOrReplaceTempView("v_customer")
    T(s, dir, "orders").createOrReplaceTempView("v_orders")
    T(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    s.sql("""
      SELECT l_orderkey,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
          AS DOUBLE) AS revenue,
        o_orderdate, o_orderpriority
      FROM v_customer
      JOIN v_orders ON c_custkey = o_custkey
      JOIN v_lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""")
  }

  /** Q18: LATERAL correlated subquery — the per-row "top-2 orders for
   * THIS customer" loop a procedural engine would nest-and-re-execute.
   * Catalyst DECORRELATES it: the lateral subquery with its correlated
   * predicate + ORDER BY + LIMIT compiles to `WindowGroupLimit` (the
   * rank-k pushdown that thins each partition BEFORE the shuffle, same
   * physical shape as q5's top-k) followed by ONE equi-join — per-row
   * re-execution never happens, which is the difference between
   * O(customers × orders-scan) and two scans at 100 TB. */
  def lateralTopN(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "customer").createOrReplaceTempView("v_customer")
    T(s, dir, "orders").createOrReplaceTempView("v_orders")
    s.sql("""
      SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
      FROM v_customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM v_orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""")
  }

  /** Q11: TPC-H Q5 shape — the 6-table star join. The dimension chain
   * region→nation→supplier broadcasts as one small build side (no
   * shuffle for any dimension); only the fact-side lineitem⋈orders⋈
   * customer joins shuffle, each on its own key with the date filter
   * pushed to the orders scan. Revenue aggregates through DECIMAL for
   * engine-exact doubles. */
  def tpchQ5Join(s: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      T(s, dir, "supplier")
        .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey")))
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" &&
                  col("o_orderdate") < "1997-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(dims, col("l_suppkey") === col("s_suppkey") &&
                  col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q12: TPC-H Q4 shape — correlated EXISTS through the SQL entry
   * point. Catalyst decorrelates the subquery into a left SEMI join on
   * l_orderkey (the plan never materializes per-order lineitem lists),
   * which is the 100 TB shape: one shuffle on the join key, early-out
   * on first match. */
  def existsSemiJoinSql(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "orders").createOrReplaceTempView("v_orders")
    T(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    s.sql("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM v_orders
      WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        AND EXISTS (SELECT 1 FROM v_lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > date_add(o_orderdate, 60))
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  }

  /** Q15: TPC-H Q22 shape — a scalar subquery (global average balance)
   * gating the rows AND a correlated NOT EXISTS. Catalyst compiles the
   * scalar subquery to one tiny broadcast-reused subquery result (never
   * per-row) and decorrelates NOT EXISTS into a left ANTI join on
   * o_custkey — one shuffle, early-out on first match, the inverse of
   * q12's SEMI (the anti side carries a pushed-down date filter, so the
   * build input is the recent-orders slice, not the full history). The
   * threshold is sum/count over DECIMAL (exact) divided in DOUBLE, so
   * both engines compare against the identical bits. The business shape:
   * high-balance customers DORMANT since 2000 — Q22's "positive balance,
   * no orders" per country. */
  def notExistsAntiSql(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "customer").createOrReplaceTempView("v_customer")
    T(s, dir, "orders").createOrReplaceTempView("v_orders")
    s.sql("""
      SELECT c_nationkey AS cntry, count(*) AS numcust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      FROM v_customer
      WHERE c_acctbal > (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          FROM v_customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM v_orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= '2000-01-01')
      GROUP BY c_nationkey
      ORDER BY cntry""")
  }

  /** Q13: window FRAMES — lag deltas and a 7-row moving sum over a
   * deterministic (date, key) order. One shuffle on the partition key;
   * frame evaluation is a single sorted pass per partition (no
   * self-join, no re-sort between the two frames since they share the
   * ordering). Money math stays in DECIMAL until the final projection. */
  def windowFrames(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val w7 = w.rowsBetween(-6, Window.currentRow)
    T(s, dir, "orders")
      .filter(col("o_orderdate") >= "1997-01-01" &&
              col("o_orderdate") < "1997-02-01")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("_p"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("_p") - coalesce(lag(col("_p"), 1).over(w),
          lit(0).cast(DecimalType(18, 2)))).cast(DoubleType).as("delta_prev"),
        sum(col("_p")).over(w7).cast(DoubleType).as("sum_7"),
        count(lit(1)).over(w7).cast(IntegerType).as("n_7"),
        row_number().over(w).as("rn"))
      .orderBy("o_orderpriority", "rn")
  }

  /** Q21: RANGE window frames — the TIME-based moving aggregate q13's
   * ROWS frames can't express: "sum of the last hour" is a frame over
   * VALUES (all events within 3.6e9 µs of this one, ties included as
   * peers), not over a row count. The frame key is epoch micros on
   * both engines — numeric RANGE, so Spark's `rangeBetween` and
   * DuckDB's `RANGE BETWEEN n PRECEDING` agree exactly, with no
   * interval-arithmetic edge to drift; sums ride DECIMAL until the
   * final projection (the q13 discipline). One shuffle on the
   * partition key, one sorted pass, frame bounds advanced by two
   * pointers — the same plan shape as every window gate. */
  def rangeIntervalWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts").cast(TimestampType)).as("us"),
        col("value").cast(DecimalType(18, 6)).as("_v"))
      .select(col("event_id"), col("event_type"),
        sum(col("_v")).over(w).cast(DoubleType).as("sum_1h"),
        count(lit(1)).over(w).cast(IntegerType).as("n_1h"))
      .orderBy("event_id")
  }

  /** Q22: null-aware NOT IN — the tri-state trap q15's NOT EXISTS
   * doesn't cover: one NULL in the subquery makes `x NOT IN (...)`
   * UNKNOWN for every non-matching row, so the result is EMPTY — the
   * semantics Spark implements as a null-aware anti join (a different
   * physical operator from the plain LeftAnti NOT EXISTS compiles to).
   * The gate pins BOTH legs in one row: the null-free subquery keeps
   * the out-of-range parts (n_clean > 0), the same subquery with a
   * planted NULL keeps none (n_nullaware = 0) — so an engine that
   * silently rewrote NOT IN to NOT EXISTS would mismatch. */
  def notInNullAware(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "part").createOrReplaceTempView("v_part_q22")
    T(s, dir, "orders").createOrReplaceTempView("v_orders_q22")
    s.sql("""
      SELECT
        (SELECT count(*) FROM v_part_q22
         WHERE p_size NOT IN (SELECT o_orderkey % 40 FROM v_orders_q22
                              WHERE o_orderkey % 100 < 50)) AS n_clean,
        (SELECT count(*) FROM v_part_q22
         WHERE p_size NOT IN (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
                                          ELSE o_orderkey % 40 END
                              FROM v_orders_q22
                              WHERE o_orderkey % 100 < 50)) AS n_nullaware""")
  }

  /** Q16: the DISTRIBUTION window family — ntile quartiles, cume_dist
   * and percent_rank over a deterministic (balance, key) order per
   * segment: completes the window-function coverage next to q3's
   * ranking and q13's frames. One shuffle on the partition key; all
   * three functions share the single sorted pass. The rank fractions
   * are exact divisions of integers, so doubles compare bit-exact. */
  def distributionWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    T(s, dir, "customer")
      .filter(col("c_custkey") <= 200)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cd"),
        percent_rank().over(w).as("pr"))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
  }

  /** W1: tumbling event-time window (1 hour) — the `window()` operator;
   * with `withWatermark` this exact plan runs on a stream. */
  def tumblingWindow(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** W2: sliding window (2h length, 1h slide) — each event lands in two
   * windows (Expand: no self-join, single shuffle). */
  def slidingWindow(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
      .orderBy("window_start")

  /** W3: session window (10-minute gap) per user — `session_window`
   * merges events closer than the gap; the batch plan is oracle-checked
   * against an islands computation. */
  def sessionWindow(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** W4: a RUNNING stream-stream interval join (not a batch plan of
   * one): two watermarked file streams over the events table — views on
   * one side, purchases on the other — joined per user within
   * `[view_ts, view_ts + 4h)`, written through a streaming sink and
   * read back. All rows arrive in one micro-batch here, so watermark
   * state eviction never drops a match and the result equals the static
   * interval join the oracle computes; on an unbounded stream the same
   * plan bounds its join state by the watermark delay — that state
   * bound is what a 100 TB/day stream needs from this operator. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = s"target/tmp/w4_${new java.io.File(dir).getName}"
    graft.util.Fs.deleteRecursive(Paths.get(base)) // idempotent re-runs
    // the file source wants a DIRECTORY; stage the normalized events
    // frame into one (encoding-proof, and never touches the testdata
    // inode — see Tables.stageFile)
    val in = Paths.get(base, "in")
    Files.createDirectories(in)
    graft.Tables.stageFileCached(
      s"events_${graft.Tables.dirTag(dir)}", graft.Tables.readEvents(s, dir),
      in.resolve("events.parquet"), 1000000000000L)
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "UTC")
    // stateful join: one state store PER shuffle partition PER side —
    // see streamShuffle for why the default is small at bench SF
    scoped.conf.set("spark.sql.shuffle.partitions", streamShuffle(s, 8))
    def side(tpe: String, tsAs: String) = scoped.readStream
      .schema(graft.Tables.eventsStreamSchema)
      .parquet(in.toString)
      .filter(col("event_type") === tpe)
      .select(col("user_id"), col("ts").cast(TimestampType).as(tsAs))
      .withWatermark(tsAs, "1 hour")
    val views = side("view", "view_ts")
    val buys = side("purchase", "buy_ts").withColumnRenamed("user_id", "buyer_id")
    val joined = views.join(buys,
      col("user_id") === col("buyer_id") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") < col("view_ts") + expr("INTERVAL 4 HOURS"))
    val q = joined.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out").format("parquet").start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$base/out")
      .select(col("user_id"),
        col("view_ts").cast(TimestampNTZType).as("view_ts"),
        col("buy_ts").cast(TimestampNTZType).as("buy_ts"))
      .orderBy("user_id", "view_ts", "buy_ts")
  }

  /** W8: a RUNNING stream-stream LEFT OUTER interval join — w4's shape
   * plus the semantics that make outer joins STATEFUL in a new way:
   * an unmatched left row may only emit (with nulls) once the
   * watermark proves no match can still arrive, i.e. strictly LATER
   * than the matching inner rows. The harness drives that path for
   * real: the events land as micro-batch 1, then a second batch
   * carries one far-future sentinel per side (filtered from the
   * output) whose only job is to advance BOTH sides' watermarks —
   * the global watermark is their MIN, so one-sided progress would
   * hold every outer row hostage — and the trailing no-data batch
   * flushes the evicted non-matches as null-extended rows. At 100 TB
   * the same plan's state is bounded by the watermark delay, and
   * outer-emission latency ≈ the join window + delay — the price of
   * proving a negative on a stream. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = s"target/tmp/w8_${new java.io.File(dir).getName}"
    graft.util.Fs.deleteRecursive(Paths.get(base)) // idempotent re-runs
    val in = Paths.get(base, "in")
    Files.createDirectories(in)
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "UTC")
    // outer joins keep TWO state stores per shuffle partition and this
    // query commits them across three micro-batches (data, sentinel,
    // no-data flush) — see streamShuffle for the default/override split
    scoped.conf.set("spark.sql.shuffle.partitions", streamShuffle(s, 4))
    // one sentinel per SIDE at 2100-01-01, mtime-ordered after the data
    // file so it lands as its own micro-batch
    val farFuture = java.time.LocalDateTime.of(2100, 1, 1, 0, 0)
    graft.Tables.stageFileCached(
      s"events_${graft.Tables.dirTag(dir)}", graft.Tables.readEvents(s, dir),
      in.resolve("events.parquet"), 1000000000000L)
    graft.Tables.stageFileCached("w8_sentinel",
      scoped.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(-1L, farFuture, -1L, "view", 0.0, "{}"),
          org.apache.spark.sql.Row(-2L, farFuture, -2L, "purchase", 0.0, "{}")),
        graft.Tables.eventsStreamSchema),
      in.resolve("zz-sentinel.parquet"), 1000060000L * 1000L)

    def side(tpe: String, tsAs: String) = scoped.readStream
      .schema(graft.Tables.eventsStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
      .filter(col("event_type") === tpe)
      .select(col("user_id"), col("ts").cast(TimestampType).as(tsAs))
      .withWatermark(tsAs, "1 hour")
    val views = side("view", "view_ts")
    val buys = side("purchase", "buy_ts").withColumnRenamed("user_id", "buyer_id")
    val joined = views.join(buys,
      col("user_id") === col("buyer_id") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") < col("view_ts") + expr("INTERVAL 4 HOURS"),
      "left_outer")
    val q = joined.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out").format("parquet").start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$base/out")
      .filter(col("user_id") >= 0) // the watermark sentinels are not data
      .select(col("user_id"),
        col("view_ts").cast(TimestampNTZType).as("view_ts"),
        col("buy_ts").cast(TimestampNTZType).as("buy_ts"),
        col("buy_ts").isNotNull.as("matched"))
      .orderBy("user_id", "view_ts", "buy_ts")
  }

  /** W9: LATE DATA past the watermark is DROPPED — the streaming
   * semantic the other w-gates only imply, driven explicitly: batch 1
   * carries the on-time events plus one far-future sentinel whose only
   * job is to advance the watermark beyond every data window; batch 2
   * then delivers the "late" slice (event_id % 10 == 3) whose windows
   * the watermark has already closed, so the stateful aggregation must
   * discard every row of it. The oracle is w1's tumbling rollup over
   * the on-time events ONLY — if even one late row were counted, the
   * hashes diverge. The sentinels' own windows never finalize (the
   * watermark never passes the max event), so they cannot leak into
   * the append-mode output. At 100 TB this drop bound IS the state
   * bound: without it, stragglers would keep every window open forever.
   *
   * Staging detail (measured on Spark 4.1): the watermark a batch uses
   * to FILTER its input lags one batch behind the one it commits —
   * batch N filters with the max event time through batch N−2. The
   * late file therefore lands TWO batches after the first sentinel
   * (with a second sentinel batch in between), so its rows meet an
   * already-advanced filter watermark; with only one batch of gap the
   * late rows would merge into still-live state and the gate would
   * catch exactly that regression. */
  def lateDataDrop(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = s"target/tmp/w9_${new java.io.File(dir).getName}"
    graft.util.Fs.deleteRecursive(Paths.get(base)) // idempotent re-runs
    val in = Paths.get(base, "in")
    Files.createDirectories(in)
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "UTC")
    scoped.conf.set("spark.sql.shuffle.partitions", streamShuffle(s, 4))
    val events = graft.Tables.readEvents(s, dir)
    def sentinel(ts: java.time.LocalDateTime) = scoped.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        -1L, ts, -1L, "sentinel", 0.0, "{}")),
      graft.Tables.eventsStreamSchema)
    val farFuture = java.time.LocalDateTime.of(2100, 1, 1, 0, 0)
    def stage(df: DataFrame, i: Int): Unit =
      graft.Tables.stageFileCached(s"w9_${graft.Tables.dirTag(dir)}_$i", df,
        in.resolve(f"wave$i%02d.parquet"), 1000000000000L + i * 60000L)
    stage(events.filter(col("event_id") % 10 =!= 3), 0)    // on time
    stage(sentinel(farFuture), 1)                          // advances wm
    stage(sentinel(farFuture.plusHours(2)), 2)             // propagates wm
    stage(events.filter(col("event_id") % 10 === 3), 3)    // arrives LATE

    val agg = scoped.readStream.schema(graft.Tables.eventsStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
      .select(col("event_type"), col("value"),
        col("ts").cast(TimestampType).as("ts"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
    val q = agg.writeStream
      .outputMode("append") // emit only watermark-finalized windows
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out").format("parquet").start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$base/out")
      .filter(col("event_type") =!= "sentinel") // defense; never finalizes
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** W5: a RUNNING stream-STATIC enrichment join — the streaming side of
   * every CDC/event pipeline that decorates a stream with dimension
   * attributes: the events file-stream joins a static customer dim on
   * user_id and writes enriched rows through a streaming parquet sink.
   * Stream-static inner joins are STATELESS (each micro-batch joins
   * against the batch plan — no state store, no watermark needed). The
   * dim join stays threshold-decided: customer is fact-proportional
   * (grows with SF), so a forced broadcast would ship a multi-GB table
   * per micro-batch at 100×; under the threshold Spark broadcasts it
   * anyway, above it the join degrades to the batch join's
   * per-micro-batch shuffle — exactly the degradation we want. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = s"target/tmp/w5_${new java.io.File(dir).getName}"
    graft.util.Fs.deleteRecursive(Paths.get(base)) // idempotent re-runs
    val in = Paths.get(base, "in")
    Files.createDirectories(in)
    graft.Tables.stageFileCached(
      s"events_${graft.Tables.dirTag(dir)}", graft.Tables.readEvents(s, dir),
      in.resolve("events.parquet"), 1000000000000L)
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "UTC")
    val stream = scoped.readStream
      .schema(graft.Tables.eventsStreamSchema).parquet(in.toString)
      .select("event_id", "user_id", "event_type")
    val dim = T(scoped, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = streamStaticEnrich(stream, dim)
    val q = enriched.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out").format("parquet").start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$base/out")
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"))
      .orderBy("event_id")
  }

  /** The w5 enrichment join, hint-free by design: the customer dim is
   * fact-proportional, so the broadcast-vs-shuffle choice belongs to the
   * size threshold / AQE, per micro-batch. Exposed for PlanQualitySpec. */
  private[graft] def streamStaticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(dim, col("user_id") === col("c_custkey"))

  /** W6: a RUNNING watermarked windowed aggregation in APPEND mode —
   * the streaming half of w1's batch-checked plan: hourly event counts
   * emit only when the watermark passes the window end, so the sink
   * receives each window exactly once, finalized. After the data
   * batches, the no-data micro-batch advances the watermark to
   * max(event time) − 1h and flushes every closed window; the windows
   * still open at stream end stay in state (exactly what a restart
   * would resume) — the oracle applies the same cutoff. At 100 TB/day
   * this is THE shape for continuous rollups: state is bounded by open
   * windows × keys, and emission is append-only (no sink rewrites). */
  def streamWindowedAgg(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = s"target/tmp/w6_${new java.io.File(dir).getName}"
    graft.util.Fs.deleteRecursive(Paths.get(base)) // idempotent re-runs
    val in = Paths.get(base, "in")
    Files.createDirectories(in)
    graft.Tables.stageFileCached(
      s"events_${graft.Tables.dirTag(dir)}", graft.Tables.readEvents(s, dir),
      in.resolve("events.parquet"), 1000000000000L)
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "UTC")
    scoped.conf.set("spark.sql.shuffle.partitions", streamShuffle(s, 8))
    val agg = scoped.readStream
      .schema(graft.Tables.eventsStreamSchema).parquet(in.toString)
      .select(col("ts").cast(TimestampType).as("ts"), col("event_type"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out").format("parquet").start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$base/out")
      .select(col("window_start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
  }

  /** W3b: a RUNNING session-window aggregation — the streaming half of
   * w3's batch-checked plan, through the state store's SESSION-MERGE
   * path (the one windowed shape whose state is not a fixed grid: a new
   * event can extend, or bridge, existing sessions). The harness drives
   * the merge for real: the events split CHRONOLOGICALLY into two
   * micro-batches, so every session straddling the cut sits half-built
   * in state when its second half arrives and must merge rather than
   * re-aggregate. Append mode + watermark give the emission contract:
   * a session emits exactly once, when the watermark passes its end
   * (last event + gap); sessions still open at stream end stay in
   * state — the oracle applies the same cutoff. The chronological split
   * also proves the safety property that makes this exact on a real
   * stream: a session that already emitted can never be extended,
   * because any later event lies beyond the watermark that closed it,
   * i.e. > gap past the session's last event — so streaming and batch
   * islands agree by construction, not by luck. At 100 TB state is
   * bounded by OPEN sessions × keys (watermark-evicted), and the merge
   * is per-key local to the shuffle partition — no cross-key traffic. */
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = s"target/tmp/w3b_${new java.io.File(dir).getName}"
    graft.util.Fs.deleteRecursive(Paths.get(base)) // idempotent re-runs
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "UTC")
    scoped.conf.set("spark.sql.shuffle.partitions", streamShuffle(s, 8))
    // chronological midpoint: wave 1 = older half, wave 2 = newer half —
    // wave-2 rows can never be late (their ts exceeds every watermark
    // wave 1 can have set), so nothing drops and sessions merge across
    // the batch boundary. Derivation (incl. the midpoint agg) runs once
    // per JVM; later invocations byte-copy (r18 stage cache).
    LlmQueries.stagedWaveFiles(s"w3b_${graft.Tables.dirTag(dir)}", {
      val ev = graft.Tables.T(scoped, dir, "events")
        .select("event_id", "ts", "user_id")
      val cut = ev.select(unix_micros(col("ts").cast("timestamp")).as("t"))
        .agg(((min("t") + max("t")) / 2).cast("long")).head().getLong(0)
      Seq(
        ev.filter(unix_micros(col("ts").cast("timestamp")) <= cut),
        ev.filter(unix_micros(col("ts").cast("timestamp")) > cut))
    }).zipWithIndex.foreach { case (src, i) =>
      graft.Tables.stageCopy(src, Paths.get(in, f"wave$i%02d.parquet"),
        1000000000000L + i * 60000L)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType)))
    val sessions = scoped.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"), col("n_events"))
    val q = sessions.writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out").format("parquet").start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$base/out")
      .select(col("user_id"),
        col("session_start").cast(TimestampNTZType).as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** W7: RUNNING bounded-state streaming dedup — `dropDuplicates
   * WithinWatermark` over two real micro-batches: batch 1 delivers the
   * first half of the events, batch 2 delivers the second half PLUS
   * replays of every 10th batch-1 row (at-least-once delivery). The
   * replays arrive within the watermark horizon, so state still holds
   * their keys and they drop; the sink receives every event exactly
   * once. State is bounded by the watermark delay — the property that
   * makes exactly-once dedup affordable on an unbounded stream (the
   * TTL-bounded custom-state variant is spec-covered in
   * `StreamingSpec`). */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = s"target/tmp/w7_${new java.io.File(dir).getName}"
    graft.util.Fs.deleteRecursive(Paths.get(base)) // idempotent re-runs
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "UTC")
    scoped.conf.set("spark.sql.shuffle.partitions", streamShuffle(s, 8))
    val t0 = 1000000000000L
    // wave derivation (incl. the midpoint-cut agg) runs once per JVM;
    // later invocations byte-copy the staged files (r18 stage cache)
    LlmQueries.stagedWaveFiles(s"w7_${graft.Tables.dirTag(dir)}", {
      val ev = graft.Tables.T(scoped, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val cut = ev.agg(max("event_id")).head().getLong(0) / 2
      Seq(
        ev.filter(col("event_id") <= cut),
        ev.filter(col("event_id") > cut)
          .unionByName(ev.filter(col("event_id") <= cut &&
            col("event_id") % 10 === 0))) // replayed rows
    }).zipWithIndex.foreach { case (src, i) =>
      graft.Tables.stageCopy(src, Paths.get(in, f"wave$i%02d.parquet"),
        t0 + i * 60000L)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val deduped = scoped.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out").format("parquet").start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$base/out")
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w4_stream_stream_join" -> (streamStreamJoin _),
    "w8_stream_outer_join" -> (streamOuterJoin _),
    "w9_late_data_drop" -> (lateDataDrop _),
    "w7_stream_dedup" -> (streamDedup _),
    "w5_stream_static_join" -> (streamStaticJoin _),
    "w6_stream_windowed_agg" -> (streamWindowedAgg _),
    "w3b_stream_session_window" -> (streamSessionWindow _),
    "q3_window_rank" -> (windowRank _),
    "q4_rollup" -> (rollupAgg _),
    "q5_topk" -> (topK _),
    "q6_set_ops" -> (setOps _),
    "q7_asof_join" -> (asofJoin _),
    "q8_range_join" -> (rangeJoin _),
    "j1_json_functions" -> (jsonFunctions _),
    "q9_pivot" -> (pivotAgg _),
    "q19_unpivot" -> (unpivotCounts _),
    "q20_percentile" -> (percentileAgg _),
    "q10_tpch_q3_sql" -> (tpchQ3Sql _),
    "q11_tpch_q5" -> (tpchQ5Join _),
    "q12_exists_semijoin" -> (existsSemiJoinSql _),
    "q15_not_exists_anti" -> (notExistsAntiSql _),
    "q13_window_frames" -> (windowFrames _),
    "q21_range_window" -> (rangeIntervalWindow _),
    "q22_notin_nullaware" -> (notInNullAware _),
    "q14_cube" -> (cubeAgg _),
    "q16_distribution_windows" -> (distributionWindows _),
    "q17_set_ops_all" -> (setOpsAll _),
    "q18_lateral_topn" -> (lateralTopN _),
    "w1_tumbling_window" -> (tumblingWindow _),
    "w2_sliding_window" -> (slidingWindow _),
    "w3_session_window" -> (sessionWindow _)
  )

  val oracleSql: Map[String, String] = Map(
    "q3_window_rank" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn, running_bal, prev_custkey
        |FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER w AS rn,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) OVER
        |      (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_bal,
        |    lag(c_custkey, 1) OVER w AS prev_custkey
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)) t
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,
    "q4_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  grouping(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q14_cube" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n,
        |  grouping(o_orderpriority, o_orderstatus) AS gid
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin,
    "q5_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,
    "q6_set_ops" ->
      """WITH ck AS (SELECT c_custkey AS k FROM customer),
        |ok AS (SELECT o_custkey AS k FROM orders)
        |SELECT 'anti' AS op, count(*) AS n FROM (SELECT k FROM ck EXCEPT SELECT k FROM ok)
        |UNION ALL
        |SELECT 'customers_with_orders', count(*) FROM (SELECT k FROM ck INTERSECT SELECT k FROM ok)
        |UNION ALL
        |SELECT 'customers_without_orders', count(*) FROM (SELECT k FROM ck EXCEPT SELECT k FROM ok)
        |UNION ALL
        |SELECT 'semi', count(*) FROM (SELECT k FROM ck INTERSECT SELECT k FROM ok)
        |ORDER BY op""".stripMargin,
    "q7_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_orderdate
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q8_range_join" ->
      """WITH iv AS (
        |  SELECT DISTINCT date_trunc('hour', ts) + INTERVAL 10 MINUTE AS s,
        |                  date_trunc('hour', ts) + INTERVAL 40 MINUTE AS e
        |  FROM events)
        |SELECT s AS interval_start, count(*) AS n_events
        |FROM events, iv WHERE ts >= s AND ts < e
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j1_json_functions" ->
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 10 AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER)) AS BIGINT) AS sum_k,
        |  max(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER)) AS max_k
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q9_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin,
    "q21_range_window" ->
      """SELECT event_id, event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h,
        |  CAST(count(*) OVER w AS INTEGER) AS n_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q22_notin_nullaware" ->
      """SELECT
        |  (SELECT count(*) FROM part
        |   WHERE p_size NOT IN (SELECT o_orderkey % 40 FROM orders
        |                        WHERE o_orderkey % 100 < 50)) AS n_clean,
        |  (SELECT count(*) FROM part
        |   WHERE p_size NOT IN (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
        |                                    ELSE o_orderkey % 40 END
        |                        FROM orders
        |                        WHERE o_orderkey % 100 < 50)) AS n_nullaware""".stripMargin,
    "q19_unpivot" ->
      """WITH p AS (SELECT user_id % 10 AS user_bucket, event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT DISTINCT user_id % 10 AS user_bucket FROM events),
        |t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type)
        |SELECT user_bucket, event_type, coalesce(n, 0) AS n
        |FROM b CROSS JOIN t LEFT JOIN p USING (user_bucket, event_type)
        |ORDER BY user_bucket, event_type""".stripMargin,
    "q20_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q10_tpch_q3_sql" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "q11_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q12_exists_semijoin" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q15_not_exists_anti" ->
      """SELECT c_nationkey AS cntry, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY cntry""".stripMargin,
    "q13_window_frames" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(p - coalesce(lag(p, 1) OVER w, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS delta_prev,
        |  CAST(sum(p) OVER w7 AS DOUBLE) AS sum_7,
        |  CAST(count(*) OVER w7 AS INTEGER) AS n_7,
        |  CAST(row_number() OVER w AS INTEGER) AS rn
        |FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
        |        CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |      FROM orders
        |      WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-02-01')
        |WINDOW
        |  w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey),
        |  w7 AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, rn""".stripMargin,
    // DuckDB runs the same LATERAL; both engines must produce the
    // identical deterministic top-2 (price desc, orderkey tiebreak)
    "q18_lateral_topn" ->
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin,
    "q17_set_ops_all" ->
      """WITH a AS (SELECT o_custkey % 100 AS k FROM orders),
        |b AS (SELECT c_custkey % 100 AS k FROM customer)
        |SELECT 'except_all' AS op, count(*) AS n
        |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        |UNION ALL
        |SELECT 'intersect_all', count(*)
        |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
        |ORDER BY op""".stripMargin,
    // exactly-once after replayed delivery: every event id survives once
    "w7_stream_dedup" ->
      """SELECT event_id, user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q16_distribution_windows" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  ntile(4) OVER w AS quartile,
        |  cume_dist() OVER w AS cd,
        |  percent_rank() OVER w AS pr
        |FROM customer WHERE c_custkey <= 200
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin,
    // append-mode emission: only windows the final watermark closed
    // (watermark = max event time - 1h; a window emits when its END is
    // at or below the watermark)
    "w6_stream_windowed_agg" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n
        |FROM events, wm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "w5_stream_static_join" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY event_id""".stripMargin,
    "w4_stream_stream_join" ->
      """SELECT a.user_id, a.ts AS view_ts, b.ts AS buy_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 4 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,
    // the static left join the watermark-driven outer emission must
    // converge to once every in-window match is provably in or out
    "w8_stream_outer_join" ->
      """SELECT a.user_id, a.ts AS view_ts, b.ts AS buy_ts,
        |  b.ts IS NOT NULL AS matched
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 4 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,
    "w1_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // the tumbling rollup over ON-TIME events only: every event_id%10==3
    // row arrived after the watermark closed its window and must be gone
    "w9_late_data_drop" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 10 <> 3
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "w2_sliding_window" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS w FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events)
        |SELECT w AS window_start, count(*) AS n
        |FROM e GROUP BY 1 ORDER BY window_start""".stripMargin,
    // w3's islands computation, restricted to the sessions the stream
    // has FINALIZED: a session emits once the watermark (max ts − 1h)
    // passes its end (last event + the 10-minute gap); later sessions
    // are still open in state at stream end, exactly what a restart
    // would resume from
    "w3b_stream_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           < INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |HAVING max(ts) + INTERVAL 10 MINUTE <=
        |  (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    "w3_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           < INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
  )
}
