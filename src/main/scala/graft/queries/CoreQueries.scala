package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{StringFns, TimeFns}
import graft.operators.Dedup
import graft.sources.Tables

/** Core operator queries over the TESTDATA corpus, each paired with a
  * DuckDB oracle in [[Oracles]]. Every operator class from SURVEY.md §2
  * (scan/filter/projection/join/agg/window/sort/function) is exercised by
  * at least one entry.
  *
  * Determinism rules for the oracle hash-compare:
  *   - double aggregates go through exact decimal(18,2) sums, cast to
  *     double at the end (sum order then cannot matter);
  *   - every output is fully ordered by its key columns;
  *   - all computed columns are aliased identically here and in the SQL.
  */
object CoreQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def sumDbl(c: Column): Column = sum(dec(c)).cast("double")

  /** events with `ts` normalized to micro-precision TimestampType — see
    * [[graft.sources.Tables.events]].
    */
  def events(s: SparkSession, d: String): DataFrame = Tables.events(s, d)

  /** S1: scan with predicate pushdown + column pruning. */
  def s1ScanPushdown(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") && col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** S2: point lookup by key. */
  def s2PointLookup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).where(col("o_orderkey") === 999)

  /** O1/O2: global sort + limit (top-k by price). */
  def o1SortLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** P1–P5: the wide issue-style projection re-expressed over
    * orders ⋈ broadcast(customer): key synthesis, snake_casing,
    * derived booleans, null-safe lowering, date derivations — the same
    * column-expression shapes as the tracker projection
    * (reference models/issue.py:74-107).
    */
  def p1WideProjection(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = broadcast(Tables.customer(s, d))
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .select(
        concat(lit("ORD-"), col("o_orderkey").cast("string")).as("issue_key"),
        graft.plans.GraftExtensions.snakeCaseExpr(col("o_orderpriority")).as("queue"),
        graft.plans.GraftExtensions.snakeCaseExpr(col("o_orderstatus")).as("status"),
        (col("o_orderstatus") === "F").as("is_closed"),
        col("o_orderstatus").isin("F", "P").as("is_resolved"),
        lower(regexp_replace(col("c_name"), " ", ".")).as("assignee"),
        StringFns.lowerSafe(col("c_mktsegment")).as("title"),
        col("o_orderdate").cast("timestamp").as("created_at"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("created_date"),
        floor(col("o_totalprice") / 1000.0).cast("long").as("story_points"))
      .orderBy(col("issue_key"))
  }

  /** P6/P7: chained event filters (type whitelist, null guards, range). */
  def p6EventFilters(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .where(col("event_type").isin("click", "view"))
      .where(col("value").isNotNull && col("ts").isNotNull)
      .where(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      .orderBy(col("event_id"))

  /** P9-ish + F9: semi-structured JSON field extraction from props. */
  def p9JsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("k"))
      .where(col("k").isNotNull)
      .orderBy(col("event_id"))

  /** J1: multi-way broadcast dimension join (revenue rollup by region/nation). */
  def j1BroadcastJoin(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val sup = broadcast(Tables.supplier(s, d))
    val nat = broadcast(Tables.nation(s, d))
    val reg = broadcast(Tables.region(s, d))
    l.join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J2: explode keeping parent columns (word counts from documents). */
  def j2Explode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("word"))

  /** Per-event status intervals: from-status attribution via lag with
    * first-interval anchoring — the W2 window pattern
    * (reference models/issue.py:185: `from or createdAt`).
    */
  def intervalCols(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d).select(
      col("user_id"), col("event_id"), col("ts"), col("event_type"),
      coalesce(lag(col("event_type"), 1).over(w), lit("created")).as("from_status"),
      TimeFns.timedeltaSeconds(col("ts"), coalesce(lag(col("ts"), 1).over(w), col("ts"))).as("duration_s"))
  }

  /** W2: the raw interval rows. */
  def w2LagIntervals(s: SparkSession, d: String): DataFrame =
    intervalCols(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("from_status"), col("duration_s"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))

  /** A1: the core per-(entity, from-status) duration aggregation —
    * transitions count, summed wall seconds, set-once last_seen
    * (reference models/issue.py:212-224; last_seen = end time of the
    * first event that created the group = min(ts) in event order).
    */
  def a1StatusMetrics(s: SparkSession, d: String): DataFrame =
    intervalCols(s, d)
      .groupBy(col("user_id"), col("from_status"))
      .agg(
        count(lit(1)).as("status_transitions_count"),
        sum(col("duration_s")).as("duration"),
        min(col("ts")).as("last_seen"))
      .orderBy(col("user_id"), col("from_status"))

  /** A2: count-only pre-aggregation. */
  def a2CountByType(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("event_type")).agg(count(lit(1)).as("n")).orderBy(col("event_type"))

  /** A3: watermark aggregation — max(updated) + row count. */
  def a3Watermark(s: SparkSession, d: String): DataFrame =
    events(s, d).agg(max(col("ts")).as("watermark"), count(lit(1)).as("n_rows"))

  /** A4: latest-version dedup per key (ReplacingMergeTree-FINAL semantics)
    * via [[Dedup.latestByKey]]'s sort-based aggregate, not a window. Each
    * `user_id` has many events, so the partial pass before the exchange
    * shuffles one row per user and partition instead of every event.
    */
  def a4DedupLatest(s: SparkSession, d: String): DataFrame =
    Dedup.latestByKey(
      events(s, d).select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("value")),
      keys = Seq("user_id"), versionCols = Seq("ts", "event_id"))
      .orderBy(col("user_id"))

  /** A5: run statistics (exact distinct + counters). */
  def a5RunStats(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sumDbl(col("value")).as("total_value"))
      .orderBy(col("event_type"))

  /** Q1-style pricing summary (wide hash aggregate, decimal-exact). */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumDbl(col("l_quantity")).as("sum_qty"),
        sumDbl(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q5 shape (local-supplier revenue): the 6-table star join
    * with a region filter and an order-date window, revenue per nation
    * where the supplying and buying nation coincide. The plan the
    * engine must produce at scale: date + region predicates pushed into
    * the scans, the four dimension tables broadcast, the two fact
    * tables (lineitem, orders) meeting in the only real shuffle, and
    * DECIMAL revenue sums keeping the aggregate order-independent.
    */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(s, d).where(col("r_name") === "ASIA")
      .select(col("r_regionkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** F1: Cyrillic-aware snake_case over part attributes. */
  def f1SnakeCase(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        StringFns.snakeCase(col("p_name")).as("sn_name"),
        StringFns.snakeCase(col("p_type")).as("sn_type"),
        StringFns.snakeCase(col("p_brand")).as("sn_brand"))
      .orderBy(col("p_partkey"))

  /** F1 via the native one-pass Catalyst expression
    * ([[graft.plans.SnakeCase]]) — same oracle as f1_snake_case, so the
    * driver verifies the custom expression end-to-end against DuckDB.
    */
  def f1SnakeCaseNative(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        graft.plans.GraftExtensions.snakeCaseExpr(col("p_name")).as("sn_name"),
        graft.plans.GraftExtensions.snakeCaseExpr(col("p_type")).as("sn_type"),
        graft.plans.GraftExtensions.snakeCaseExpr(col("p_brand")).as("sn_brand"))
      .orderBy(col("p_partkey"))

  /** F2: emoji strip (emoji appended then removed — result must equal the
    * plain prefix).
    */
  def f2StripEmoji(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        StringFns.stripEmoji(concat(substring(col("text"), 1, 20), lit("😎🚀"))).as("clean"))
      .orderBy(col("doc_id"))

  /** F3: timezone-aware datetime formatting (tracker wire format). */
  def f3DatetimeConvert(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        TimeFns.formatTracker(col("ts").cast("timestamp"), "Europe/Moscow").as("msk"),
        TimeFns.formatTrackerDate(col("ts").cast("timestamp"), "UTC").as("utc_date"))
      .orderBy(col("event_id"))

  /** F4: whole-second timedeltas against an epoch anchor. */
  def f4Timedelta(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        TimeFns.timedeltaSeconds(col("ts"), lit("2024-01-01 00:00:00").cast("timestamp")).as("secs"))
      .orderBy(col("event_id"))

  /** F6: human-readable durations as a pure column expression. */
  def f6HumanTime(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), ((col("event_id") * 7919) % 10000000).as("s"))
      .select(col("event_id"), col("s"), TimeFns.toHumanTime(col("s"), 2).as("human"))
      .orderBy(col("event_id"))

  /** F9: changelog-value stringification rules (long-text truncation +
    * null→empty normalization; reference utils/helpers.py:261-298).
    */
  def f9Stringify(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        when(length(col("text")) > 100, lit("text too long, see history in UI"))
          .otherwise(col("text")).as("changed_to"),
        coalesce(col("lang"), lit("")).as("lang_str"))
      .orderBy(col("doc_id"))

  /** F12: JSON serialization of a struct. */
  def f12ToJson(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey"), to_json(struct(col("n_nationkey"), col("n_name"))).as("js"))
      .orderBy(col("n_nationkey"))

  /** F13: array transform / slice / join. */
  def f13ArrayOps(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        array_join(transform(slice(split(col("text"), " "), 1, 5), x => upper(x)), ", ").as("head5"))
      .orderBy(col("doc_id"))

  /** Streaming-equivalent tumbling-window aggregation (batch form; the same
    * plan runs under Structured Streaming with a watermark).
    */
  def streamWindowCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumDbl(col("value")).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("ws"), col("event_type"))

  /** Batch twin of [[graft.streaming.EventStream.attributionPairs]]:
    * click→purchase attribution as a user-keyed equi-join with the
    * 30-minute range residual — one exchange per side on `user_id`,
    * per-user fan-out bounded by the window, never a time-only
    * cross product. The streaming form adds watermarks and is
    * row-identical after AvailableNow (EventStreamSpec).
    */
  def streamAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("ts", col("ts").cast("timestamp"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    purchases.join(clicks,
      col("c_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Attribution-window sensitivity sweep — the measurement behind
    * choosing [[streamAttribution]]'s 30-minute window (and the
    * streaming join's state-retention bound): per candidate window,
    * how many purchases would attribute to a preceding click. ONE pair
    * generation bounded by the LARGEST window, one per-purchase min-gap
    * aggregate, then the sweep reads that bounded table per window —
    * the `dedup_threshold_sweep` discipline applied to time. Gaps are
    * exact micros; the rate is one float division per window row.
    */
  def attributionWindowSweep(s: SparkSession, d: String): DataFrame = {
    val windows = Seq(1, 5, 15, 30, 60)
    val ev = events(s, d).withColumn("ts", col("ts").cast("timestamp"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val gaps = purchases.join(clicks,
        col("c_user") === col("user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL ${windows.max} MINUTES"))
      .groupBy(col("purchase_id"))
      .agg(min(unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("min_gap_us"))
    val total = purchases.agg(count(lit(1)).as("n_purchases"))
    gaps
      .select(explode(array(windows.map(lit): _*)).as("window_min"), col("min_gap_us"))
      .groupBy(col("window_min"))
      .agg(sum(when(col("min_gap_us") <= col("window_min").cast("long") * 60000000L, 1L)
        .otherwise(0L)).as("n_attributed"))
      .crossJoin(broadcast(total))
      .select(col("window_min"), col("n_purchases"), col("n_attributed"),
        (col("n_attributed").cast("double") / col("n_purchases").cast("double")).as("rate"))
      .orderBy(col("window_min"))
  }

  /** Session-gap threshold sweep
    * ([[graft.operators.Sessionize.gapSweep]]): session counts at
    * 5/30/60/240-minute gaps from ONE lag pass + ONE aggregate — the
    * measurement behind `sessionize`'s 30-minute default.
    */
  def sessionGapSweep(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize.gapSweep(events(s, d), Seq("user_id"), "ts",
      gapsMinutes = Seq(5, 30, 60, 240), tieCols = Seq("event_id"))

  /** LEFT OUTER twin of [[streamAttribution]]: every purchase, with a
    * null click when no click preceded it within the 30-minute window —
    * the "conversion without attributable touchpoint" report. Batch
    * here; the streaming twin is
    * [[graft.streaming.EventStream.attributionPairsOuter]], whose
    * outer rows emit on watermark eviction (EventStreamSpec pins
    * row-parity after a watermark-flushing sentinel).
    */
  def streamAttributionOuter(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("ts", col("ts").cast("timestamp"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    purchases.join(clicks,
      col("c_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** §2.9: incremental watermark scan — filter above the committed
    * watermark, then aggregate the new high-water mark.
    */
  def incrementalScan(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .where(col("ts") > lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"), max(col("ts")).as("new_watermark"))
      .orderBy(col("event_type"))

  /** As-of (point-in-time) join: each purchase event enriched with the
    * same user's most recent click at or before it
    * ([[graft.operators.AsOfJoin]] — union + one key exchange + one
    * carry-forward window, no range-join explosion). The oracle uses
    * DuckDB's NATIVE `ASOF LEFT JOIN`, so the union-window re-expression
    * is verified against an independent first-class implementation of
    * the operator, not a mirrored query.
    */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
      rightPayload = Seq("ts", "event_id", "value"))
      .withColumn("secs_since_click", TimeFns.timedeltaSeconds(col("ts"), col("asof_ts")))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** The NATIVE-operator twin of [[asofJoin]]
    * ([[graft.operators.AsOfJoin.asOfNative]] →
    * [[graft.plans.AsOfMergeJoinExec]]): same purchases×clicks shape,
    * same DuckDB ASOF oracle — but executed by the custom physical
    * merge operator, so the one driver row exercises the whole-plan
    * extension tier (LogicalPlan + SparkStrategy + SparkPlan) end to
    * end against an independent native implementation.
    */
  def asofNative(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOfNative(purchases, clicks, "user_id", "ts", "ts",
      rightPayload = Seq("ts", "event_id", "value"))
      .withColumn("secs_since_click", TimeFns.timedeltaSeconds(col("ts"), col("asof_ts")))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** FORWARD as-of ([[graft.operators.AsOfJoin.asOfForward]], pandas
    * `merge_asof(direction="forward")`): each purchase annotated with
    * the NEXT click — the "did the user come back" question, where
    * [[asofJoin]] asks what led to the purchase. Oracle: DuckDB's
    * native `ASOF LEFT JOIN` with the comparison reversed
    * (`p.ts <= c.ts`), so the mirrored-window re-expression is again
    * verified against an independent first-class implementation.
    */
  def asofForward(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOfForward(purchases, clicks, Seq("user_id"), "ts", "ts",
      rightPayload = Seq("ts", "event_id", "value"))
      .withColumn("secs_until_click", TimeFns.timedeltaSeconds(col("asof_ts"), col("ts")))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** NEAREST as-of ([[graft.operators.AsOfJoin.asOfNearest]]): each
    * purchase annotated with the time-CLOSEST click in either
    * direction, ties to the backward (already-observed) match. Oracle:
    * both native DuckDB ASOF directions joined with the identical
    * pick rule.
    */
  def asofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOfNearest(purchases, clicks, Seq("user_id"), "ts", "ts",
      rightPayload = Seq("ts", "event_id", "value"))
      .withColumn("secs_to_click",
        (abs(unix_micros(col("ts").cast("timestamp"))
          - unix_micros(col("asof_ts").cast("timestamp"))) / lit(1000000L)).cast("long"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** [[asofJoin]] with a 6-hour staleness bound
    * ([[graft.operators.AsOfJoin.asOfWithTolerance]], pandas
    * `merge_asof(tolerance=…)`): matches older than the bound are
    * masked to null — a state older than the tolerance is treated as no
    * state. Exact integer microsecond arithmetic on both sides.
    */
  def asofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOfWithTolerance(purchases, clicks, Seq("user_id"), "ts", "ts",
      rightPayload = Seq("ts", "event_id", "value"), toleranceSeconds = 21600L)
      .withColumn("secs_since_click", TimeFns.timedeltaSeconds(col("ts"), col("asof_ts")))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** [[asofJoin]] through the BUCKETED hot-key path (1-hour buckets) —
    * same rows, same oracle: DuckDB's native ASOF JOIN now certifies
    * the skew variant directly, not just its suite-asserted equality
    * with the merge path.
    */
  def asofJoinBucketed(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
      rightPayload = Seq("ts", "event_id", "value"), skewBucketSeconds = Some(3600L))
      .withColumn("secs_since_click", TimeFns.timedeltaSeconds(col("ts"), col("asof_ts")))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Gap-based sessionization (§2.5 window family,
    * [[graft.operators.Sessionize]]): 30-minute-inactivity sessions per
    * user, one row per session with span, volume, and an exact decimal
    * value sum — the batch form of the streaming session semantics.
    */
  def sessionize(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize
      .assign(events(s, d), Seq("user_id"), "ts", gapSeconds = 1800, tieCols = Seq("event_id"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        TimeFns.timedeltaSeconds(max(col("ts")), min(col("ts"))).as("duration_s"),
        sumDbl(col("value")).as("total_value"))
      .orderBy(col("user_id"), col("session_seq"))

  /** Event-stream → SCD2 history compaction
    * ([[graft.operators.Sessionize.compactRuns]]): consecutive
    * same-event_type runs per user collapse into validity intervals
    * (valid_from/valid_to/is_current) — the full-history generalization
    * of the reference's latest-version-wins tables, one key exchange.
    */
  def scd2Compact(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize
      .compactRuns(events(s, d), Seq("user_id"), "ts", "event_type",
        tieCols = Seq("event_id"))
      .select(col("user_id"), col("run_seq"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("run_seq"))

  /** S1's DataSource V2 form end-to-end
    * ([[graft.sources.v2.TrackerSource]]): the events relation is dumped
    * to TSV "API pages" once, then read back through the connector with
    * a watermark predicate + event-type filter + projection — all three
    * CLAIMED by the source (the reference's server-side Tracker-QL
    * compilation, `etl.py:66-111`, as Catalyst pushdown; asserted in
    * Dsv2SourceSpec and visible in the scan description `graft.Profile`
    * prints).
    */
  def dsv2ScanPushdown(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-pages-${Integer.toHexString(d.hashCode)}").getPath
    events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("tsu"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .as[(Long, Long, Long, String, Double, String)]
      .map { case (e, t, u, ty, v, p) => graft.sources.v2.TrackerSource.encodeLine(e, t, u, ty, v, p) }
      .repartition(8)
      .write.mode("overwrite").text(dir)
    s.read.format("graft.sources.v2.TrackerSource").option("path", dir).load()
      .where(col("event_type") === "purchase" &&
        col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** First-touch funnel ([[graft.operators.Funnel.steps]], the engine
    * analog of ClickHouse `windowFunnel` over the reference's event
    * tables): view → click → purchase within 24 h of the first view,
    * one row per user who entered the funnel.
    */
  def funnelSteps(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.steps(
      events(s, d), "user_id", "ts",
      stages = Seq(col("event_type") === "view",
        col("event_type") === "click",
        col("event_type") === "purchase"),
      windowSeconds = 86400L)
      .where(col("funnel_level") >= 1)
      .select(col("user_id"), col("funnel_level"), col("t1"), col("t2"), col("t3"))
      .orderBy(col("user_id"))

  /** Navigation-graph PageRank ([[graft.operators.Graph.pageRank]]):
    * per-user event streams become item-to-item transition edges
    * (`props.k` is the item id; consecutive events link), and five
    * damped power iterations on the integer rank grid produce the
    * crawl-prioritization authority score. Top 50 items by rank.
    */
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.operators.Graph.pageRank(edges, "src", "dst", iters = 5)
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(50)
  }

  /** Seed-expansion via personalized PageRank
    * ([[graft.operators.Graph.personalizedPageRank]]): items 0–9 are
    * the curated seed list; five damped iterations with seed-only
    * teleport rank the neighborhood the surfer actually reaches from
    * them — the crawl-frontier growth step. Top 50 reached items.
    */
  def graphPprExpand(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val edges = ev
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val seeds = ev.where(col("k").isNotNull && col("k") < 10)
      .select(col("k").as("node")).distinct()
    graft.operators.Graph.personalizedPageRank(edges, "src", "dst", seeds, iters = 5)
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(50)
  }

  /** Crawl-depth BFS layers ([[graft.operators.Graph.bfsLayers]]):
    * items 0–2 are the seed list; the transition graph is
    * deterministically sparsified (keep arcs with
    * `(src*31 + dst) % 7 == 0`, ~1/7 of the arcs — the dense sf graph
    * would otherwise collapse to one layer) and expanded 4 hops. The
    * link-distance feature a crawl scheduler prioritizes by; unreached
    * items are absent, exactly like [[graphPprExpand]]'s rank-0 drop.
    */
  def graphBfs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val edges = ev
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .where(pmod(col("src") * 31 + col("dst"), lit(7)) === 0)
    val seeds = ev.where(col("k").isNotNull && col("k") < 3)
      .select(col("k").as("node")).distinct()
    graft.operators.Graph.bfsLayers(edges, "src", "dst", seeds, maxDepth = 4)
      .orderBy(col("dist"), col("node"))
  }

  /** Community detection via deterministic label propagation
    * ([[graft.operators.Graph.labelPropagation]]): the same sparsified
    * transition graph as [[graphBfs]], symmetrized, 4 synchronous
    * rounds of neighbor-mode labels with (count desc, label asc) ties —
    * the topic/host clustering pass crawl pipelines run before
    * per-community quota decisions. Returns each node's community and
    * its size.
    */
  def graphCommunities(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .where(pmod(col("src") * 31 + col("dst"), lit(7)) === 0)
    graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 4)
      .orderBy(col("node"))
  }

  /** Item co-visitation candidates
    * ([[graft.operators.SequenceMining.covisitTopK]]): top-3 "next
    * viewed" successors per item from the per-user transition stream —
    * the item-to-item recommender / crawl-prefetch table, one window
    * pass + one slim pair count.
    */
  def covisitTopk(s: SparkSession, d: String): DataFrame =
    graft.operators.SequenceMining.covisitTopK(
      events(s, d).withColumn("k", get_json_object(col("props"), "$.k").cast("long")),
      "user_id", "ts", "event_id", "k", k = 3)
      .orderBy(col("src"), col("rank"))

  /** Empirical funnel discovery
    * ([[graft.operators.SequenceMining.pathCounts]]): the top-10
    * 3-step event-type paths across all users — the data-driven answer
    * to "which funnel should [[funnelSteps]] even measure?", bounded by
    * |event types|³ regardless of corpus size.
    */
  def eventPaths(s: SparkSession, d: String): DataFrame =
    graft.operators.SequenceMining.pathCounts(
      events(s, d), "user_id", "ts", "event_id", "event_type", steps = 3, topN = 10)

  /** Watermark-lateness audit
    * ([[graft.operators.RateAnomaly.latenessAudit]]): how many events
    * would a `withWatermark` delay of 0 s / 1 h / 12 h / 24 h / 48 h
    * have dropped — the data-driven way to pick the allowed-lateness
    * knob. The sf event log arrives in order, so delivery delay is
    * PLANTED deterministically (every 10th event arrives 500 ids late,
    * every 7th 30 ids late — the planted-fixture style of the mirror
    * sources), exactly mirrored by the oracle.
    */
  def watermarkAudit(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.latenessAudit(
      events(s, d).withColumn("arrival",
        col("event_id") + when(pmod(col("event_id"), lit(10)) === 0, 500L)
          .when(pmod(col("event_id"), lit(7)) === 0, 30L).otherwise(0L)),
      Seq("user_id"), "ts", "arrival",
      delaysSeconds = Seq(0L, 3600L, 43200L, 86400L, 172800L))
      .orderBy(col("delay_s"))

  /** Cohort retention matrix — the classic product-analytics table over
    * the reference's event log: users cohorted by first-active month,
    * each cohort's share still active at month offset 0, 1, 2, …
    * The plan is three bounded aggregates over the distinct
    * (user, month) projection (activity dedup → per-user cohort min →
    * (cohort, offset) counts); nothing is ever user×month dense.
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Materialize.MatOps
    val ua = events(s, d)
      .select(col("user_id"), date_trunc("month", col("ts")).as("m"))
      .distinct()
      .materialized // consumed by the cohort min AND the offset join
    val cohort = ua.groupBy(col("user_id")).agg(min(col("m")).as("cohort_month"))
    val counts = ua.join(cohort, Seq("user_id"))
      .select(col("cohort_month"),
        months_between(col("m"), col("cohort_month")).cast("int").as("offset_m"))
      .groupBy(col("cohort_month"), col("offset_m"))
      .agg(count(lit(1)).as("n_users"))
    counts
      .join(cohort.groupBy(col("cohort_month")).agg(count(lit(1)).as("cohort_size")),
        Seq("cohort_month"))
      .withColumn("retention_frac",
        col("n_users").cast("double") / col("cohort_size").cast("double"))
      .orderBy(col("cohort_month"), col("offset_m"))
  }

  /** PSI numeric-drift monitor ([[graft.operators.RateAnomaly.psi]]):
    * even-id events are the frozen reference window, odd-id the current
    * one, and the `error` type's current values are deterministically
    * shifted ×1.5 — that type must alert (PSI > 0.2), the untouched
    * types must not.
    */
  def valuePsi(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"), col("event_id"), col("value"))
    val ref = ev.where(pmod(col("event_id"), lit(2)) === 0)
    val cur = ev.where(pmod(col("event_id"), lit(2)) === 1)
      .withColumn("value",
        when(col("event_type") === "error", col("value") * 1.5).otherwise(col("value")))
    graft.operators.RateAnomaly.psi(ref, cur, "event_type", "value")
      .orderBy(col("event_type"))
  }

  /** Silent-gap detection ([[graft.operators.RateAnomaly.silentGaps]]):
    * the hour buckets in each event type's span where NOTHING arrived,
    * compacted to gap intervals — the dead-sensor monitor the rolling
    * z-score cannot express (no rows, no statistic).
    */
  def eventGaps(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly
      .silentGaps(events(s, d), "event_type", "ts", bucketSeconds = 3600L)
      .orderBy(col("event_type"), col("gap_start"))

  /** §2.9 S4 variant: the sliding-window scan mode — the reference's
    * queues + `Updated >= now() − range` arm (etl.py:93-98) compiled by
    * the REAL [[graft.pipeline.IssuePipeline.scanFilter]] precedence.
    * Events play raw documents: wire-format `updatedAt` plus a queue key,
    * the window anchored at a PINNED `now` so the relative bound stays
    * deterministic for the oracle (`2d` through from_human_time, two
    * queue keys through the IN filter). The parsed-timestamp comparison
    * evaluates inside the scan's codegen stage (a function-of-column
    * predicate does not become a parquet PushedFilter); at 100 TB raw
    * documents land date-partitioned and the same bound prunes
    * partitions via the partition column.
    */
  /** Data-quality expectations gate
    * ([[graft.operators.Expectations]]): per-rule violation counts over
    * the events batch. The synthetic events are clean, so violations are
    * PLANTED deterministically (negated values on event_id % 97, an
    * unknown type on % 101, a nulled user on % 103 — mirrored in the
    * oracle): the counts verified are real, and the null-predicate arm
    * (null user fails `has_user` AND `value_nonnegative` stays TRUE) is
    * exercised.
    */
  private def plantedEvents(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id"),
      when(pmod(col("event_id"), lit(101)) === 0, lit("unknown_evt"))
        .otherwise(col("event_type")).as("event_type"),
      when(pmod(col("event_id"), lit(103)) === 0, lit(null).cast("long"))
        .otherwise(col("user_id")).as("user_id"),
      when(pmod(col("event_id"), lit(97)) === 0, -col("value"))
        .otherwise(col("value")).as("value"))

  private val eventRules: Seq[(String, Column)] = Seq(
    "value_nonnegative" -> (col("value") >= 0),
    "known_event_type" -> col("event_type").isin("click", "error", "purchase", "signup", "view"),
    "has_user" -> col("user_id").isNotNull)

  def qualityGate(s: SparkSession, d: String): DataFrame =
    graft.operators.Expectations.summary(plantedEvents(s, d), eventRules)
      .orderBy(col("rule"))

  /** The row-level half of the gate: quarantined rows with their failed
    * rules (CSV'd — the driver comparator needs scalar columns).
    * Verifies [[graft.operators.Expectations.check]] +
    * [[graft.operators.Expectations.quarantined]] row-by-row, including
    * rows violating several rules at once (event_id 0 trips all three
    * plants).
    */
  def qualityQuarantine(s: SparkSession, d: String): DataFrame =
    graft.operators.Expectations
      .quarantined(graft.operators.Expectations.check(plantedEvents(s, d), eventRules))
      .select(col("event_id"), array_join(col("failed_rules"), ",").as("failed_rules_csv"))
      .orderBy(col("event_id"))

  /** Batch/streaming session PARITY, proven in the oracle: the
    * lag+running-sum batch sessions ([[graft.operators.Sessionize]])
    * INNER-joined to Spark's native `session_window` aggregation (the
    * streaming twin's operator, evaluated here in batch mode) on
    * (user, session start). Any divergence — a session one side
    * splits/merges differently — either drops the row from the join or
    * breaks the n_events/n_events_sw equality, failing the driver
    * compare; so the green row certifies both implementations produce
    * the same sessions on this corpus (boundary caveat: `session_window`
    * is half-open, the batch rule strictly-greater — equal-to-gap
    * silences would diverge by contract; this corpus has none, asserted
    * in EventStreamSpec).
    */
  def sessionParity(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val batch = graft.operators.Sessionize
      .assign(ev, Seq("user_id"), "ts", gapSeconds = 1800, tieCols = Seq("event_id"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
    val sw = ev
      .groupBy(session_window(col("ts").cast("timestamp"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events_sw"))
      .select(col("user_id").as("sw_user"),
        col("session_window.start").as("sw_start"), col("n_events_sw"))
    batch
      .join(sw, col("user_id") === col("sw_user") && col("session_start") === col("sw_start"))
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"), col("n_events_sw"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  def windowScan(s: SparkSession, d: String): DataFrame = {
    val raw = events(s, d).select(
      col("event_id"), col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSXX").as("updatedAt"),
      struct(upper(col("event_type")).as("key")).as("queue"))
    val cfg = graft.schema.EngineConfig(search = graft.schema.SearchSettings(
      queues = Seq("CLICK", "VIEW"), range = Some("2d")))
    val filter = graft.pipeline.IssuePipeline
      .scanFilter(cfg, watermark = None, now = java.time.Instant.parse("2024-01-15T00:00:00Z"))
    raw.where(filter.get)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_recent"), max(col("updatedAt")).as("max_updated"))
      .orderBy(col("event_type"))
  }

  /** OLAP rollup over the star schema: revenue at every level of the
    * region → nation → segment hierarchy in ONE pass (`ROLLUP` grouping
    * sets — subtotals and the grand total come from the same partial
    * aggregates, not four scans). The fact-side joins follow the
    * dimension-size gradient: lineitem⋈orders shuffles on the order key
    * (both fact-sized at 100 TB), then customer/nation/region broadcast
    * — the canonical star-join plan. Revenue sums in DECIMAL so
    * reduction order cannot matter; rollup NULLs label as 'ALL'
    * (the dimension values are non-null by schema).
    */
  def salesRollup(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_items"), col("revenue"))
      .orderBy(col("region"), col("nation"), col("segment"))
  }

  /** CUBE twin of [[salesRollup]]: all four grouping sets of
    * (region, segment) from ONE pass of partial aggregates — the
    * cross-dimensional dashboard query. Same Expand-based plan family
    * as ROLLUP: Catalyst's Expand replicates each input row once per
    * grouping set BEFORE the single hash aggregate, so the corpus is
    * scanned once and only the (tiny) aggregate output carries the
    * 4x duplication; DECIMAL revenue sums keep the result
    * order-independent.
    */
  def salesCube(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
    val reg = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_items"), col("revenue"))
      .orderBy(col("region"), col("segment"))
  }

  /** Point-in-interval join ([[graft.operators.IntervalJoin]]): every
    * `error` event opens a one-hour incident window on its user; the
    * join attributes that user's `purchase` events inside the window —
    * the incident-correlation query a non-equi join would turn into a
    * per-key cross product, here one bounded explode (4 buckets per
    * 1-hour window at 900 s grain) + one equi-join. Per incident:
    * purchase count, id span, DECIMAL-summed value.
    */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val incidents = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("incident_id"),
        col("ts").as("w_start"), (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.IntervalJoin
      .pointInInterval(purchases, "ts", incidents, "w_start", "w_end",
        Seq("user_id"), bucketSeconds = 900L)
      .groupBy(col("incident_id"))
      .agg(
        count(lit(1)).as("n_purchases"),
        min(col("event_id")).as("first_purchase_id"),
        max(col("event_id")).as("last_purchase_id"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .orderBy(col("incident_id"))
  }

  /** Interval-interval overlap ([[graft.operators.IntervalJoin.intervalOverlap]]):
    * how many seconds of each user's click sessions (30-min spans) fell
    * inside error-incident windows (1-hour spans) — the exposure-
    * attribution join. Bucket-decomposed with credit-bucket pair
    * dedup; the oracle is the per-key quadratic join (safe at sf0.01,
    * the exact shape the operator exists to avoid at scale). Exact
    * integer microseconds.
    */
  def intervalOverlap(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val incidents = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("i_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("i_end"))
    val sessions = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("s_start"),
        (col("ts") + expr("INTERVAL 30 MINUTE")).as("s_end"))
    graft.operators.IntervalJoin
      .intervalOverlap(incidents, "i_start", "i_end", sessions, "s_start", "s_end",
        Seq("user_id"), bucketSeconds = 900L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("overlap_us")).as("overlap_us"))
      .orderBy(col("user_id"))
  }

  /** Corpus novelty curve: per ingest day, how much of what arrived was
    * NEVER seen before — the crawl-refresh monitor that says when a
    * source has gone stale (novelty decays toward zero as the item
    * space saturates). Items (`props.k`) stand in for content
    * fingerprints. First-seen is one global (item → min day) aggregate
    * joined back to the per-day profile — no window over the event log,
    * both aggregates map-side-combined and item-/day-bounded.
    */
  def corpusNovelty(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(to_date(col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
    val daily = ev.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("k")).as("distinct_items"))
    val novel = ev.groupBy(col("k")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_items"))
    daily.join(novel, Seq("day"), "left")
      .select(col("day"), col("n_events"), col("distinct_items"),
        coalesce(col("new_items"), lit(0L)).as("new_items"))
      .withColumn("novelty_fp", expr("(new_items * 1048576L) div distinct_items"))
      .orderBy(col("day"))
  }

  /** TPC-H Q4 shape (order priority checking): orders in a quarter with
    * at least one LATE lineitem (shipped > 90 days after the order
    * date — the schema has no commit/receipt dates, so lateness stands
    * in), counted by priority. The EXISTS becomes one LEFT SEMI hash
    * join on the order key with the lateness comparison as a residual —
    * the fact table is scanned once, nothing is duplicated by the
    * multi-lineitem fan-out.
    */
  def q4OrderPriority(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li,
      col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
      "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q19 shape (disjunctive join predicates, adapted to the
    * synthetic columns): revenue over three OR'd brand/size/quantity
    * windows, each disjunct mixing part-side AND lineitem-side columns
    * so the filter cannot sit wholly on either side of the join. The
    * planner test: Catalyst's PushPredicateThroughJoin factors each
    * disjunct's side-local projection and pushes the derived
    * `(brand=.. AND size..) OR (..) OR (..)` union filter into the part
    * SCAN (and the quantity union into lineitem) while keeping the full
    * disjunction as the post-join residual — the scan reads a fraction
    * of each table even though the predicate is cross-table. Part is
    * broadcast; one row out.
    */
  def q19Disjunctive(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#33" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q16 shape (supplier variety per part profile): how many
    * DISTINCT suppliers ship each (brand, size), with blacklisted
    * suppliers (negative balance — the complaint filter) removed by
    * NOT IN. The part-supplier relation is derived from lineitem (the
    * synthetic corpus has no partsupp): distinct (partkey, suppkey)
    * FIRST — one pre-aggregate collapses the 30× fact fan-in before
    * any join — then broadcast anti-join against the blacklist,
    * broadcast join to part, and a count-distinct aggregate. The
    * count(DISTINCT) rides the usual two-phase expand; nothing
    * shuffles full fact rows.
    */
  def q16SupplierVariety(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val bad = Tables.supplier(s, d)
      .where(col("s_acctbal") < 0).select(col("s_suppkey"))
    ps.join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H Q22 shape (idle rich customers): per nation, customers whose
    * balance beats the positive-balance average but who placed no
    * RECENT order (none since 2000 — the synthetic corpus has no
    * never-ordered customers, so "lapsed" stands in for "never",
    * preserving the shape). The scalar subquery decorrelates to a
    * one-row aggregate broadcast as a cross join; the lapse test is a
    * LEFT ANTI join on the date-filtered orders key projection (the
    * date pushes into the scan); the average test is cross-multiplied
    * in decimal (`bal · n > Σbal`) so no float average crosses engines.
    */
  def q22IdleBalance(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), dec(col("c_acctbal")).as("bal"))
    val stats = c.where(col("bal") > 0)
      .agg(sum(col("bal")).as("_tot"), count(lit(1)).as("_cnt"))
    c.crossJoin(broadcast(stats))
      .where(col("bal") * col("_cnt") > col("_tot"))
      .join(Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** 2×2 chi-squared experiment readout — the A/B-test significance
    * gate (here an A/A calibration: arms are an md5 coin on the user,
    * so alerts measure the gate's false-positive behavior, the audit
    * every experimentation platform runs before trusting real
    * assignments). Unit = user, outcome = "did event type e at least
    * once"; χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) computed from exact
    * BIGINT cell counts with the float steps in one fixed order, alert
    * at the 3.841 (α=0.05, df=1) critical value. Two user-grain
    * aggregates and one broadcast join — the corpus is touched twice,
    * shuffled only at user/type grain.
    */
  def abChisq(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val arm = graft.plans.Md5Prefix.of(concat(lit("ab:"),
      col("user_id").cast("string")), 6) % 2
    val armSizes = ev.select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
    val cells = ev.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), arm.as("arm"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("s1"))
      .crossJoin(broadcast(armSizes))
    cells
      .withColumn("_ad_bc", col("s0") * (col("n1") - col("s1")) -
        (col("n0") - col("s0")) * col("s1"))
      .withColumn("_den",
        col("n0").cast("double") * col("n1").cast("double") *
          (col("s0") + col("s1")).cast("double") *
          (col("n0") + col("n1") - col("s0") - col("s1")).cast("double"))
      .withColumn("chi2",
        when(col("_den") > 0,
          (col("n0") + col("n1")).cast("double") *
            (col("_ad_bc").cast("double") * col("_ad_bc").cast("double")) / col("_den")))
      .select(col("event_type"), col("n0"), col("s0"), col("n1"), col("s1"),
        col("chi2"), (col("chi2") > 3.841).as("significant"))
      .orderBy(col("event_type"))
  }

  /** TPC-H Q21 shape (the supplier who kept the order waiting): count,
    * per supplier, the multi-supplier orders where THAT supplier was
    * the only late one (shipdate > orderdate + 90 days). The reference
    * query is a correlated EXISTS + NOT EXISTS pair; decorrelated here
    * into two grain-descending aggregates — per-(order, supplier)
    * lateness, then per-order supplier/late counts — and one semi-join
    * of the blamed rows against qualifying orders. No correlated
    * subquery survives: the "some other supplier" EXISTS becomes
    * `n_supp >= 2`, the "no other late supplier" NOT EXISTS becomes
    * `n_late = 1`, both map-side-combined counts.
    */
  def q21BlameSupplier(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val perSupp = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
        .otherwise(0L)).as("late"))
    val qualifying = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
      .where(col("n_supp") >= 2 && col("n_late") === 1)
      .select(col("l_orderkey"))
    perSupp.where(col("late") === 1)
      .join(qualifying, Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Explicit GROUPING SETS (the general form behind [[salesRollup]]'s
    * ROLLUP and [[salesCube]]'s CUBE): exactly the three analyst views
    * (nation, priority), (nation), (priority) — no grand total — from
    * ONE Expand pass over the joined fact, each input row replicated
    * once per set before a single hash aggregate. NULL group keys
    * coalesce to 'ALL' so the set identity is value-visible and
    * engine-portable (no grouping_id numbering crosses engines).
    */
  def salesGroupingSets(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupingSets(
        Seq(Seq(col("n_name"), col("o_orderpriority")), Seq(col("n_name")),
          Seq(col("o_orderpriority"))),
        col("n_name"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .select(
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_items"), col("revenue"))
      .orderBy(col("nation"), col("priority"))
  }

  /** Trailing 7-day revenue via a RANGE window frame — the
    * frame-with-gaps semantic ROWS cannot express: the trailing sum
    * spans CALENDAR days, so missing days still narrow the frame.
    * Decimal-exact daily sums aggregate the corpus first; the RANGE
    * window then runs over the days-sized table keyed on the epoch-day
    * integer (`RANGE BETWEEN 6 PRECEDING AND CURRENT ROW`). Single
    * unpartitioned window over DAYS only — bounded forever; partition
    * by month with carry-in if the day table ever isn't.
    */
  def revenueTrailing7d(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(dec(col("value"))).as("_rev"))
      .withColumn("_epoch_day", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.orderBy(col("_epoch_day")).rangeBetween(-6, 0)
    daily
      .withColumn("rev_7d", sum(col("_rev")).over(w).cast("double"))
      .select(col("day"), col("_rev").cast("double").as("revenue"), col("rev_7d"))
      .orderBy(col("day"))
  }

  /** TPC-H Q6 shape (forecasting revenue change): the canonical
    * scan-pushdown benchmark — three range predicates, no join, one
    * row out. The whole WHERE reaches the parquet scan
    * (`PushedFilters` on shipdate, discount, quantity) and the
    * aggregate is a map-side-combined partial sum; at 100 TB this
    * query is I/O-bound on exactly the row groups the min/max
    * statistics cannot exclude.
    */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"))

  /** TPC-H Q14 shape (promotion effect): revenue share of PROMO parts
    * in one quarter — conditional aggregation over a broadcast
    * dimension join, both sums decimal-exact and divided once in
    * double. The date window pushes into the fact scan.
    */
  def q14PromoShare(s: SparkSession, d: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,2)")))
          .as("_promo"),
        sum(rev).as("_total"))
      .select((lit(100.0) * col("_promo").cast("double") / col("_total").cast("double"))
        .as("promo_share"))
  }

  /** TPC-H Q7 shape (volume shipping between two nations): the
    * two-sided dimension chain — supplier nation on one leg, customer
    * nation (via orders) on the other, the symmetric nation-pair
    * disjunction, revenue per (supp, cust, year). All dimensions
    * broadcast; the only big exchange is the lineitem×orders key join.
    */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .as("_rev"))
    val n1 = Tables.nation(s, d).select(col("n_nationkey").as("_sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).select(col("n_nationkey").as("_ck"), col("n_name").as("cust_nation"))
    li.join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("_sk"))
      .join(broadcast(n2), col("c_nationkey") === col("_ck"))
      .where((col("supp_nation") === "NATION_13" && col("cust_nation") === "NATION_19") ||
        (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_13"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(col("_rev")).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape (national market share): of all revenue shipped to
    * one region's customers over two years, the share supplied by one
    * nation, per order year — the ratio-of-conditional-sums pattern
    * over a five-dimension join. Dimensions broadcast; one fact-fact
    * exchange.
    */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("_snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val vol = dec(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), vol.as("_vol"))
      .join(Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_2", col("_vol"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("_n2"),
        sum(col("_vol")).as("_all"))
      .select(col("o_year"),
        (col("_n2").cast("double") / col("_all").cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape (product-line profit by nation and year): revenue
    * on ECONOMY parts per supplier nation per order year — the
    * four-table chain with the part filter semi-join-reduced AHEAD of
    * the fact exchange (only ECONOMY lineitems shuffle).
    */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val econParts = Tables.part(s, d).where(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    Tables.lineitem(s, d)
      .join(broadcast(econParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_orderkey"), col("l_suppkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .as("_rev"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(col("_rev")).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    * join so zero-order customers survive, then two stacked
    * aggregations — per-customer order count, then the histogram of
    * counts. The outer join exchanges on the customer key once; both
    * aggregates partial-combine.
    */
  def q13CustomerDistribution(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q15 shape (top supplier of the quarter): per-supplier
    * quarterly revenue, keep every supplier tying the maximum — the
    * scalar-max subquery decorrelated to a one-row broadcast, the
    * classic argmax-with-ties plan (no window over the corpus).
    */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("_rev"))
    val mx = rev.agg(max(col("_rev")).as("_mx"))
    rev.crossJoin(broadcast(mx))
      .where(col("_rev") === col("_mx"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Markov removal-effect attribution
    * ([[graft.operators.Attribution.removalEffects]]): journeys =
    * per-user event sequences truncated at first purchase; the chain's
    * conversion probability is re-solved with each channel removed, and
    * the relative drop is that channel's credit — the data-driven
    * complement of the last-touch `stream_attribution` join. Transition
    * counting is one distributed window+aggregate pass; the
    * (vocab+2)²-cell solve replays in exact fixed point (16 Jacobi
    * sweeps, 2⁻⁴⁰ grid) on both engines.
    */
  def eventAttributionRemoval(s: SparkSession, d: String): DataFrame =
    graft.operators.Attribution.removalEffects(events(s, d),
      "user_id", "event_type", "ts", "event_id", "purchase", rounds = 16)
      .orderBy(col("channel"))

  /** JSON schema profiling ([[graft.operators.JsonProfile.profile]]):
    * the raw `props` column carries only `{"k": int}`, so the query
    * PLANTS a ragged document — `amount` (double, always), `uid` (long,
    * every 2nd event), `label` (string, every 3rd), `flag` (bool, every
    * 5th) — and the profiler must recover exactly that census. The
    * oracle is closed-form from the planting rules (no JSON re-rendering
    * crosses engines — double formatting differs; type CLASSES don't).
    */
  def jsonProfile(s: SparkSession, d: String): DataFrame = {
    val ragged = events(s, d).select(to_json(struct(
      col("value").as("amount"),
      when(pmod(col("event_id"), lit(2)) === 0, col("user_id")).as("uid"),
      when(pmod(col("event_id"), lit(3)) === 0, col("event_type")).as("label"),
      when(pmod(col("event_id"), lit(5)) === 0,
        pmod(col("event_id"), lit(2)) === 0).as("flag"))).as("doc"))
    graft.operators.JsonProfile.profile(ragged, "doc")
      .orderBy(col("key"))
  }

  /** §2.7 set operations over content fingerprints: which normalized
    * texts appear in BOTH snapshot halves (INTERSECT), and which only in
    * the first (EXCEPT) — the set-algebra form of the snapshot diff.
    * Both compile to hash aggregates over the slim fingerprint
    * projection (Spark rewrites INTERSECT/EXCEPT to semi/anti joins
    * after a distinct — no full-width shuffle).
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
    val a = docs.where(pmod(col("doc_id"), lit(2)) === 0).select(col("fp"))
    val b = docs.where(pmod(col("doc_id"), lit(2)) === 1).select(col("fp"))
    val both = a.intersect(b).select(lit("both").as("side"), col("fp"))
    val onlyA = a.except(b).select(lit("only_even").as("side"), col("fp"))
    both.unionByName(onlyA).orderBy(col("side"), col("fp"))
  }

  /** Decile report via `ntile`: per event type, values split into 10
    * equal-frequency buckets with count/min/max each — the score-band
    * table quality dashboards draw. One key exchange; the ntile window
    * and the decile aggregate share the partitioning.
    */
  def valueDeciles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** Gap-filled resampling ([[graft.operators.Resample.forwardFill]]):
    * each user's sparse purchase stream regularized onto an hourly grid
    * with last-observation-carried-forward — the feature-engineering
    * twin of the silent-gap DETECTOR. Purchases are sparse per user, so
    * the fill path is exercised on most grid rows.
    */
  def resampleFfill(s: SparkSession, d: String): DataFrame =
    graft.operators.Resample.forwardFill(
      events(s, d).where(col("event_type") === "purchase"),
      "user_id", "ts", "value", "event_id", bucketSeconds = 3600L)
      .orderBy(col("user_id"), col("bucket_ts"))

  /** Batch MERGE ([[graft.operators.ChangeMerge.applyChanges]]): the
    * snapshot holds the latest value for users ≢3 (mod 4); the change
    * feed is every odd user's raw event stream (latest event wins —
    * `error` compiles to a delete, anything else to an upsert), so all
    * four merge outcomes occur: even users keep, odd in-snapshot users
    * update or delete, odd out-of-snapshot users insert or no-op-delete.
    */
  def cdcMerge(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val snap = ev.where(pmod(col("user_id"), lit(4)) =!= 3)
      .groupBy(col("user_id"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("value"))
    val changes = ev.where(pmod(col("user_id"), lit(2)) === 1)
      .select(col("user_id"),
        when(col("event_type") === "error", lit("delete")).otherwise(lit("upsert")).as("op"),
        col("event_id").as("seq"), col("value"))
    graft.operators.ChangeMerge.applyChanges(snap, changes, "user_id", "op", "seq", Seq("value"))
      .orderBy(col("user_id"))
  }

  /** Markov transition matrix over the event stream: per user the
    * lag-window previous type (first event transitions from the
    * sentinel 'START'), counts per (from, to), and row-normalized
    * transition probabilities — the behavioral fingerprint drift
    * monitoring compares release-over-release. One key exchange for the
    * lag window; the (from, to) aggregate is type²-sized; probabilities
    * are single divisions of exact longs.
    */
  def eventMarkov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = events(s, d)
      .select(
        coalesce(lag(col("event_type"), 1).over(w), lit("START")).as("from_type"),
        col("event_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("_tot"))
    trans.join(broadcast(totals), Seq("from_type"))
      .withColumn("p", col("n").cast("double") / col("_tot").cast("double"))
      .drop("_tot")
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Triangle count of the item-transition graph
    * ([[graft.operators.Graph.triangleCount]]): the clustering signal
    * that tells co-occurrence structure from a star (a hub node has
    * many edges but no triangles). Edges are the pagerank construction;
    * degree orientation keeps the wedge join at O(|E|^1.5) — the
    * MapReduce-standard design, never Σ deg².
    */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.operators.Graph.triangleCount(edges, "src", "dst")
  }

  /** Unpivot (melt): the wide per-source stats row folded to
    * (source, metric, value) long form — the shape metric stores and
    * dashboards ingest. `unpivot` is a projection+explode, shuffle-free
    * after the stats aggregate; the explicit value-column list keeps
    * the metric names deterministic.
    */
  def metricsUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .unpivot(
        Array(col("source")),
        Array(col("n_docs"), col("total_chars"), col("n_langs")),
        "metric", "value")
      .orderBy(col("source"), col("metric"))

  /** Pivot: the per-user event-type count matrix — `groupBy(user)
    * .pivot(type, explicit values)` compiles to ONE hash aggregate with
    * a count per pivot value (no per-type scans, no join); the explicit
    * value list keeps the schema deterministic (value-discovery pivot
    * would add a collect-distinct driver pass). Absent combinations
    * fill 0, matching the oracle's CASE sums.
    */
  def eventPivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("user_id"))
  }

  /** k-core of the item-transition graph
    * ([[graft.operators.Graph.kCore]]): the density filter behind
    * spam-farm detection and crawl pruning — peel nodes with < 2
    * surviving neighbors until fixpoint (10 bounded rounds; the peel
    * converges in ≤5 at every sf). The graph is sparsified harder than
    * [[graphBfs]] (mod 13, ~1/13 of arcs) so the peel actually
    * cascades — pendant chains unravel round by round — while the
    * 2-core stays NON-EMPTY even at sf0.001 (mod 47 left 19 edges and
    * an empty core there, failing the every-query-returns-rows bar).
    */
  def graphKcore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .where(pmod(col("src") * 31 + col("dst"), lit(13)) === 0)
    graft.operators.Graph.kCore(edges, "src", "dst", k = 2, maxRounds = 10)
      .orderBy(col("node"))
  }

  /** TPC-H Q3 shape (shipping priority): the two-fact three-table join
    * with the date windows split across both facts — customer segment
    * and order-date predicates pushed into the scans, the customer
    * dimension broadcast, lineitem and orders meeting in the one real
    * shuffle, DECIMAL revenue, top-10 unshipped orders by revenue.
    */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1996-07-01 00:00:00").cast("timestamp")
    val cust = Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q17 shape (small-quantity revenue): the classic correlated
    * scalar subquery — "lineitems of Brand#12 parts whose quantity is
    * below 20% of that part's average" — DECORRELATED into one per-part
    * aggregate joined back to the fact. The per-part averages are
    * part-cardinality-sized and broadcast; the fact table is scanned
    * once per side with the brand semi-join pushed ahead of the
    * average. Quantities are integral doubles, so the average is an
    * exact sum/count on both engines; the revenue sum is DECIMAL.
    */
  def q17SmallQty(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .where(col("p_brand") === "Brand#12")
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQty = li.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(broadcast(avgQty), Seq("l_partkey"))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        count(lit(1)).as("n_items"),
        // decimal sum (exact), THEN double division: decimal/decimal
        // result scale differs across engines, double-divide does not
        (sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0)).as("avg_yearly"))
  }

  /** Trailing 7-day distinct active users per day — the sliding-window
    * DISTINCT that naive SQL writes as `COUNT(DISTINCT) OVER RANGE`
    * (unsupported in Spark, quadratic where supported). Decomposed
    * scale-first: dedup to the (user, day) grid (the big shrink — one
    * row per user-day regardless of event volume), explode each
    * user-day into the <= 7 report days it supports (a BOUNDED factor),
    * and count distinct users per report day. Every step is an
    * equi-shuffle; nothing is quadratic in days or users.
    */
  def activeUsersWindow(s: SparkSession, d: String): DataFrame = {
    val userDays = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val grid = events(s, d).select(to_date(col("ts")).as("report_day")).distinct()
    userDays
      .select(col("user_id"), explode(sequence(col("day"), date_add(col("day"), 6))).as("report_day"))
      .join(grid, Seq("report_day"), "left_semi") // only days the log actually contains
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("report_day"))
  }

  /** Top-3 events per type by value via the bounded-state
    * [[graft.plans.TopKPairs]] aggregate — the window-sort killer: the
    * rank-window plan shuffles and sorts EVERY event to keep 3 per
    * group; this plan's partial aggregate retains <= 3 pairs per group
    * map-side and shuffles only those buffers. Ranking on the 2^20
    * fixed-point value grid with event-id ties, posexploded to
    * (type, rank, event_id, value_fp) rows; the oracle replays the
    * identical ordering as a rank window.
    */
  def topkPerGroup(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    events(s, d)
      .select(col("event_type"),
        floor(col("value") * lit(1048576.0)).cast("long").as("vfp"),
        col("event_id"))
      .groupBy(col("event_type"))
      .agg(call_function("topk_pairs", col("vfp"), col("event_id"), lit(3)).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("idx", "pair")))
      .select(col("event_type"), (col("idx") + 1).as("rank"),
        col("pair.payload").as("event_id"), col("pair.ord").as("value_fp"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** HITS hubs-and-authorities ([[graft.operators.Graph.hits]]) over the
    * item-transition graph (same edge derivation as `graph_pagerank`):
    * three mutual-reinforcement rounds on the 2⁻²⁰ integer grid — the
    * authority score is the canonical-page prior (what mirrors point
    * AT), the hub score flags index/link-farm pages. Top 50 by
    * authority; the oracle unrolls all six half-steps including the
    * integer renormalizations.
    */
  def graphHits(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.operators.Graph.hits(edges, "src", "dst", iters = 3)
      .orderBy(col("auth_fp").desc, col("node"))
      .limit(50)
  }

  /** HyperBall harmonic centrality ([[graft.operators.Graph.hyperBall]],
    * Boldi & Vigna 2013 — Common Crawl's host-ranking algorithm) on the
    * item-transition graph: every node carries a 256-register HLL
    * sketch of its in-ball, grown three rounds by neighbor merge; the
    * per-round ball estimates (linear-counting branch when empty
    * registers remain and the raw estimate is under 2.5m, raw
    * otherwise) feed the harmonic sum Σ_r (|ball(r)|−|ball(r−1)|)/r on
    * the q10 grid. Top 50 by harmonic centrality; the oracle replays
    * every register of every round.
    */
  def graphHyperball(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val est = graft.operators.Graph.hyperBall(edges, "src", "dst", rounds = 3)
      .withColumn("raw_q10",
        floor(lit(2.6499581405668102e19) / col("s_scaled").cast("double") * lit(1024.0))
          .cast("long"))
      .withColumn("lc_q10",
        when(col("v_zero") > 0,
          floor(log(lit(256.0) / col("v_zero").cast("double")) * lit(256.0) * lit(1024.0))
            .cast("long")))
      .withColumn("est_q10",
        when(col("v_zero") > 0 && col("raw_q10") <= 655360L, col("lc_q10"))
          .otherwise(col("raw_q10")))
    est.groupBy(col("node"))
      .agg(
        max(when(col("r") === 0, col("est_q10"))).as("ball0_q10"),
        max(when(col("r") === 1, col("est_q10"))).as("ball1_q10"),
        max(when(col("r") === 2, col("est_q10"))).as("ball2_q10"),
        max(when(col("r") === 3, col("est_q10"))).as("ball3_q10"))
      .withColumn("harmonic_q10",
        greatest(lit(0L), col("ball1_q10") - col("ball0_q10"))
          + expr("greatest(0L, ball2_q10 - ball1_q10) div 2")
          + expr("greatest(0L, ball3_q10 - ball2_q10) div 3"))
      .orderBy(col("harmonic_q10").desc, col("node"))
      .limit(50)
  }

  /** CUSUM sustained-shift detector
    * ([[graft.operators.RateAnomaly.cusum]], Page 1954): hourly
    * per-type counts with the post-Jan-20 events DOUBLED (a planted
    * level shift the rolling z-score's short baseline adapts to and
    * misses) — the cumulative sum ramps after the shift and crosses
    * the 5μ decision interval. The sequential recurrence is computed
    * as its closed window form P_t − min(0, min prefix P): two ordered
    * windows, no driver loop.
    */
  def eventCusum(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val planted = ev.unionByName(
      ev.where(col("ts") >= lit("2024-01-20 00:00:00").cast("timestamp"))
        .withColumn("event_id", col("event_id") + 10000000L))
    graft.operators.RateAnomaly.cusum(planted, "event_type", "ts", bucketSeconds = 3600)
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Kaplan–Meier time-to-conversion survival
    * ([[graft.operators.Funnel.kaplanMeier]]): days from first click
    * to first purchase, non-converters right-censored at the corpus
    * horizon — the censoring-correct "how long to convert" curve a
    * naive average gets wrong. Exact 2⁻⁴⁰ fixed-point survival
    * product over the bounded risk table, replayed by a recursive CTE.
    */
  def survivalConversion(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.kaplanMeier(events(s, d),
      "user_id", "event_type", "ts", "click", "purchase")
      .orderBy(col("day"))

  /** Degree assortativity of the item-transition graph
    * ([[graft.operators.Graph.assortativity]], Newman 2002): one
    * exact-integer six-sum aggregate over degree-annotated edges, the
    * final Pearson ratio the only float — the link-farm structural
    * audit next to `graph_reciprocity`.
    */
  def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.operators.Graph.assortativity(edges, "src", "dst")
  }

  /** TPC-H Q11 shape (revenue concentration): parts holding more than
    * 1/1500 of GLOBAL revenue — the HAVING-against-a-global-scalar
    * pattern. Per-part sums are one fact aggregate; the global total is
    * the one-row re-aggregate broadcast back; the threshold compare is
    * decimal-exact (`r · 1500 > total`, no float fraction).
    */
  def q11RevenueConcentration(s: SparkSession, d: String): DataFrame = {
    val pr = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("_r"))
    val g = pr.agg(sum(col("_r")).as("_t"))
    pr.crossJoin(broadcast(g))
      .where(col("_r") * 1500 > col("_t"))
      .select(col("l_partkey"), col("_r").cast("double").as("part_revenue"),
        (col("_r").cast("double") / col("_t").cast("double")).as("share"))
      .orderBy(col("part_revenue").desc, col("l_partkey"))
  }

  /** TPC-H Q20 shape (bulk suppliers of a product line): suppliers who
    * shipped more than 50 units of at least one ECONOMY part in 1996 —
    * the IN-on-an-aggregated-subquery pattern, decorrelated to a
    * grain-descending HAVING aggregate + one broadcast dimension join.
    * The part filter semi-join-reduces the fact before the aggregate.
    */
  def q20BulkSuppliers(s: SparkSession, d: String): DataFrame = {
    val econ = Tables.part(s, d).where(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(econ), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dec(col("l_quantity"))).as("_q"))
      .where(col("_q") > 50)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_bulk_parts"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_bulk_parts"))
      .orderBy(col("s_suppkey"))
  }

  /** Incremental aggregate maintenance
    * ([[graft.operators.ChangeMerge.mergeRollups]]): the daily
    * per-event-type rollup is maintained as BASE (history, days before
    * the refresh cutoff — at 100 TB this is a stored aggregate, never
    * re-scanned) plus DELTA (the newly-arrived days, aggregated from
    * raw), merged by re-aggregating the mergeable stats (count/sum on
    * int64, min/max). The oracle recomputes the rollup from ALL raw
    * events in one pass — the query IS the proof that partial-aggregate
    * maintenance equals full recomputation. Values ride the 2⁻²⁰
    * fixed-point grid so every sum is exact on both engines.
    */
  def rollupIncremental(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"), to_date(col("ts")).as("day"),
      floor(col("value") * lit(1048576.0)).cast("long").as("vfp"))
    def rollup(p: DataFrame): DataFrame = p.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"), sum(col("vfp")).as("sum_vfp"),
        min(col("vfp")).as("min_vfp"), max(col("vfp")).as("max_vfp"))
    val cutoff = lit("2024-01-25").cast("date")
    val base = rollup(ev.where(col("day") < cutoff))
    val delta = rollup(ev.where(col("day") >= cutoff))
    graft.operators.ChangeMerge.mergeRollups(
      Seq(base, delta), Seq("event_type", "day"),
      sumCols = Seq("cnt", "sum_vfp"), minCols = Seq("min_vfp"), maxCols = Seq("max_vfp"))
      .withColumn("mean_value",
        col("sum_vfp").cast("double") / lit(1048576.0) / col("cnt").cast("double"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Per-node link reciprocity ([[graft.operators.Graph.reciprocity]])
    * on the item-transition graph: the mutual-link spam signal — one
    * reversed-pair self equi-join over distinct edges, ratio on the
    * 2⁻²⁰ grid.
    */
  def graphReciprocity(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.operators.Graph.reciprocity(edges, "src", "dst")
      .orderBy(col("node"))
  }

  /** Two-sample Kolmogorov–Smirnov drift
    * ([[graft.operators.RateAnomaly.ksDistance]]) between even-id
    * (reference) and odd-id (current) value distributions per event
    * type, with the same planted ×1.5 'error' shift as `value_psi` —
    * the parameter-free shape test next to PSI's binned one. Values on
    * the 2⁻²⁰ grid; D is an exact integer ratio; the alert applies
    * Smirnov's α=0.05 asymptotic bound. The planted shift alerts on
    * 'error' (D≈0.18, 3× the bound); 'signup' also trips marginally
    * (D≈0.068 vs 0.061) — a real parity artifact of the synthetic
    * generator, kept as-is since both engines agree bit-for-bit.
    */
  def qualityKs(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"), col("event_id"), col("value"))
    val ref = ev.where(pmod(col("event_id"), lit(2)) === 0)
      .withColumn("vfp", floor(col("value") * lit(1048576.0)).cast("long"))
    val cur = ev.where(pmod(col("event_id"), lit(2)) === 1)
      .withColumn("value",
        when(col("event_type") === "error", col("value") * 1.5).otherwise(col("value")))
      .withColumn("vfp", floor(col("value") * lit(1048576.0)).cast("long"))
    graft.operators.RateAnomaly.ksDistance(ref, cur, "event_type", "vfp")
      .orderBy(col("event_type"))
  }

  /** Trailing 7-day distinct actives via mergeable HyperLogLog
    * registers — the SKETCH twin of [[activeUsersWindow]] and the
    * 100 TB answer to sliding COUNT(DISTINCT): aggregate each day's
    * users into one 256-byte register vector ONCE, then every report
    * day merges its ≤7 days by elementwise register max — the merge
    * costs days×7×256 rows TOTAL, independent of corpus size, and a
    * 90-day or 365-day window is the same sketch table re-merged, no
    * raw re-scan. The exact count rides along (the accuracy audit;
    * production drops it — it's the expensive path being replaced).
    * Registers are the portable md5 coin of
    * [[graft.plans.HllRegisters]], so the DuckDB oracle replays every
    * register and the estimate bit-for-bit.
    */
  def activeUsersHll(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val p = 8
    val userDays = events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .select(col("day"), col("user_id"),
        graft.plans.Md5Prefix.of(concat(lit("hll:"), col("user_id")), 14)
          .as("coin"))
    val grid = events(s, d).select(to_date(col("ts")).as("report_day")).distinct()
    val perDay = userDays.groupBy(col("day"))
      .agg(call_function("hll_registers", col("coin"), lit(p)).as("regs"))
    val merged = perDay
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("report_day"),
        col("regs"))
      .join(grid, Seq("report_day"), "left_semi")
      .select(col("report_day"), posexplode(col("regs")).as(Seq("j", "r")))
      .groupBy(col("report_day"), col("j")).agg(max(col("r")).as("r"))
      .groupBy(col("report_day"))
      .agg(array_sort(collect_list(struct(col("j"), col("r")))).as("jr"))
      .select(col("report_day"), transform(col("jr"), x => x.getField("r")).as("regs"))
    val exact = userDays
      .select(col("user_id"), explode(sequence(col("day"), date_add(col("day"), 6))).as("report_day"))
      .join(grid, Seq("report_day"), "left_semi")
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("exact_active"))
    exact.join(merged, Seq("report_day"))
      .select(col("report_day"), col("exact_active"),
        aggregate(col("regs"), lit(0L),
          (a, r) => a + when(r === 0, 1L).otherwise(0L)).as("v_zero"),
        graft.plans.HllRegisters.sumScaled(col("regs"), p).as("s_scaled"))
      .withColumn("est_q10", graft.plans.HllRegisters.estimateQ10(col("s_scaled"), p))
      // the standard small-range branch: with empty registers present,
      // linear counting m·ln(m/V) beats the raw estimator (which reads
      // ~+80% at the test corpus's ~150 users against m=256 registers;
      // raw becomes the accurate branch once cardinality >> m). One ln
      // + two multiplies, floored to the q10 grid — replayable (the PSI
      // oracle already proves ln matches bit-for-bit across engines).
      .withColumn("lc_q10",
        when(col("v_zero") > 0,
          floor(log(lit((1 << p).toDouble) / col("v_zero").cast("double"))
            * lit((1 << p).toDouble) * lit(1024.0)).cast("long")))
      .orderBy(col("report_day"))
  }

  /** TPC-H Q10 shape (returned-item revenue): which customers returned
    * the most merchandise in a quarter — the four-table join whose
    * scale plan is all pushdown: the order-date window prunes the
    * orders scan, the R-flag prunes lineitem, the two facts meet in the
    * one real shuffle, and the customer/nation dimensions broadcast
    * onto the shrunken aggregate. DECIMAL revenue, top 20.
    */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .as("rev"))
    val perCust = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
    perCust
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q18 shape (large-volume orders): orders whose total lineitem
    * quantity exceeds 300, joined out to their order and customer rows.
    * Plan scale-first: ONE map-side-combined aggregate over the fact
    * collapses it to per-order totals, the HAVING filter shrinks that to
    * a handful of keys, and both dimension joins broadcast the shrunken
    * side — the orders and customer tables are scanned once each and
    * never shuffled. Quantities are integral doubles (exact sums).
    */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    val qty = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > 300.0)
    val o = Tables.orders(s, d)
      .join(broadcast(qty), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("order_date"), col("o_totalprice"), col("total_qty"))
    Tables.customer(s, d)
      .join(broadcast(o), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("order_date"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q12 shape (shipping modes vs order priority, adapted to the
    * synthetic columns: return flag stands in for ship mode, "received
    * late" becomes shipped >60 days after order). The pattern under
    * test is the fact-to-fact equi-join carrying a cross-table date
    * predicate plus a two-way conditional count — the priority split
    * happens in ONE aggregate pass (two `sum(CASE)`s), never two
    * filtered scans. lineitem's mode filter is pushed into its scan;
    * the join shuffles both sides on the order key once.
    */
  def q12ShipmodePriority(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .select(col("l_returnflag").as("ship_mode"),
        col("high_line_count"), col("low_line_count"))
      .orderBy(col("ship_mode"))
  }

  /** TPC-H Q2 shape (minimum-cost supplier) — the last of the 22 and the
    * canonical CORRELATED SUBQUERY: for each qualifying part, the
    * supplier(s) in a region achieving the region-wide minimum supply
    * cost. With no partsupp table, the offer book derives from observed
    * trades: unit cost per (part, supplier) = min(l_extendedprice /
    * l_quantity) over lineitem (IEEE division — deterministic, and min
    * is order-independent).
    *
    * Plan scale-first — the subquery is DECORRELATED by hand into the
    * plan Catalyst would rewrite it to, with the join graph ordered so
    * the fact shrinks before anything wide joins: ONE aggregate over
    * lineitem builds the offer book, the EUROPE supplier filter
    * (supplier ⋈ broadcast nation ⋈ broadcast region) broadcasts onto
    * it, a second aggregate takes the per-part regional min, and the
    * min joins BACK to the offers on (partkey, cost) equality — two
    * map-side-combined aggregates and one slim self-equi-join instead
    * of a per-part correlated rescan. The part dimension filter
    * (STANDARD type, size ≤ 10) broadcasts last onto the already-tiny
    * winner set. lineitem is scanned ONCE at any scale.
    */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val euSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).where(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val offers = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("supply_cost"))
      .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
    val minCost = offers
      .groupBy(col("l_partkey"))
      .agg(min(col("supply_cost")).as("supply_cost"))
    val parts = Tables.part(s, d)
      .where(col("p_type") === "STANDARD" && col("p_size") <= 10)
      .select(col("p_partkey"), col("p_name"), col("p_size"))
    offers.join(minCost, Seq("l_partkey", "supply_cost"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** Benford first-digit audit of order totals
    * ([[graft.operators.Expectations.benfordAudit]]) — the ingest
    * forensics gate: organically-priced orders should lead with 1 ~30%
    * of the time; a synthetic or truncated feed diverges and trips the
    * χ² tripwire before the batch lands.
    */
  def qualityBenford(s: SparkSession, d: String): DataFrame =
    graft.operators.Expectations.benfordAudit(Tables.orders(s, d), "o_totalprice")

  /** Day-of-week seasonal profile of the event stream per event type
    * ([[graft.operators.RateAnomaly.seasonalProfile]]) — the weekly
    * baseline the rate-anomaly detectors normalize against, and the
    * shape a crawl scheduler budgets politeness by.
    */
  def eventSeasonal(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.seasonalProfile(events(s, d), "event_type", "ts")

  /** Adamic–Adar link prediction over the item-transition graph
    * ([[graft.operators.Graph.adamicAdar]]): the same per-user
    * navigation edges as [[graphPagerank]], scored for MISSING links —
    * the related-item backfill / crawl-frontier-expansion signal. Top
    * 50 predicted pairs by shared-neighbor weight.
    */
  def graphAdamicAdar(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.operators.Graph.adamicAdar(edges, "src", "dst", degCap = 64L, topK = 50)
  }

  /** Per-node clustering coefficient over the item-transition graph
    * ([[graft.operators.Graph.clusteringCoefficient]]) — the node-grain
    * cohesion feature next to the global `graph_triangles` summary.
    */
  def graphClustering(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.operators.Graph.clusteringCoefficient(edges, "src", "dst")
  }

  /** RFM user segmentation ([[graft.operators.Funnel.rfmSegments]]):
    * recency/frequency/monetary quintiles per user, anchored at the
    * corpus's own last day — the classic event-warehouse triage table.
    */
  def userRfm(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.rfmSegments(events(s, d), "user_id", "ts", "value")

  /** Position-based (U-shaped) multi-touch attribution
    * ([[graft.operators.Attribution.positionCredit]]): 40/20/40 credit
    * over the touchpoints preceding each first purchase — the
    * rule-based model between last-touch (`stream_attribution`) and
    * the Markov removal effect (`event_attribution_removal`),
    * completing the attribution-model family.
    */
  def attributionPosition(s: SparkSession, d: String): DataFrame =
    graft.operators.Attribution.positionCredit(
      events(s, d), "user_id", "event_type", "ts", "event_id", "purchase")

  /** Newman modularity of the label-propagation communities
    * ([[graft.operators.Graph.modularity]]) over the same sparsified
    * transition graph as `graph_communities` — the "did the clustering
    * find real structure" audit (Q ≈ 0 means random wiring).
    */
  def graphModularity(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .where(pmod(col("src") * 31 + col("dst"), lit(7)) === 0)
    val labels = graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 4)
    graft.operators.Graph.modularity(edges, "src", "dst", labels)
  }

  /** Join-key skew profile of the event stream's user key
    * ([[graft.operators.SkewJoin.keySkewProfile]]) — the pre-flight
    * measurement that decides between a plain shuffle join, AQE skew
    * splitting, and [[graft.operators.SkewJoin.saltedJoin]] before a
    * 100 TB join launches. Top-5 heavy hitters + global skew factor.
    */
  def skewProfile(s: SparkSession, d: String): DataFrame =
    graft.operators.SkewJoin.keySkewProfile(events(s, d), "user_id", topK = 5)

  /** Daily-count autocorrelation per event type
    * ([[graft.operators.RateAnomaly.autocorrelation]]) at lags 1/2/7 —
    * the numeric weekly-cycle detector next to `event_seasonal`'s
    * profile and the first diagnostic before any rate forecaster.
    */
  def eventAutocorr(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.autocorrelation(events(s, d), "event_type", "ts")

  /** DAU/WAU stickiness per day — the product-health ratio next to the
    * sliding-distinct rows: distinct daily actives over distinct
    * trailing-7-day actives, from ONE user-day dedup (the
    * `active_users_window` decomposition: bounded ≤7-day explode,
    * nothing user-quadratic). One float division per day row.
    */
  def eventStickiness(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Materialize.MatOps
    val userDays = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .materialized // DAU, WAU, and the day grid all read it
    val dau = userDays.groupBy(col("day").as("report_day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = userDays
      .select(col("user_id"), explode(sequence(col("day"), date_add(col("day"), 6))).as("report_day"))
      .join(userDays.select(col("day").as("report_day")).distinct(), Seq("report_day"), "left_semi")
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("report_day"))
      .select(col("report_day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
      .orderBy(col("report_day"))
  }

  /** Sample-Ratio-Mismatch gate — the FIRST check any experiment
    * readout must pass (a biased assignment invalidates every
    * downstream p-value): user-grain arm counts vs the intended 50/50
    * split, χ² = (n0−n1)²/(n0+n1) against the 1-dof 5% critical value.
    * On the md5 coin this is an A/A calibration: the gate must NOT
    * fire. Exact integers until one division; one user-distinct
    * aggregate is the only corpus-sized work.
    */
  def abSrm(s: SparkSession, d: String): DataFrame = {
    val arm = (graft.plans.Md5Prefix.of(concat(lit("ab:"),
      col("user_id").cast("string")), 6) % 2)
    events(s, d).select(col("user_id")).distinct()
      .select(arm.as("_arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("_arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("_arm") === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("n_users"), col("n0"), col("n1"),
        (((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double")
          / (col("n0") + col("n1")).cast("double")).as("chi2"))
      .withColumn("srm", col("chi2") > lit(3.841))
  }

  /** Seasonally-adjusted daily outlier flags per event type
    * ([[graft.operators.RateAnomaly.detectSeasonal]]): each day judged
    * against its own day-of-week baseline, alerts as exact
    * cross-multiplied integer comparisons — the composition of
    * `event_seasonal` and `event_anomaly` a production monitor runs.
    */
  def eventSeasonalAdjusted(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.detectSeasonal(events(s, d), "event_type", "ts")

  /** Wilson 95% CI for the per-type conversion rate
    * ([[graft.operators.RateAnomaly.wilsonCi]], same value>0.75 outcome
    * as `ab_sprt`) — the small-sample-safe interval an experiment
    * dashboard reads next to the sequential test's decision.
    */
  def abWilson(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.wilsonCi(
      events(s, d).select(col("event_type"), col("value")),
      "event_type", col("value") > 0.75)

  /** Wald SPRT replay per event type
    * ([[graft.operators.RateAnomaly.sprt]]): H₀ P(value > 0.75) = 0.25
    * vs H₁ = 0.30 at α = β = 0.05 — on the uniform synthetic values the
    * true rate IS 0.25, so the test should accept H₀; the replay shows
    * WHEN each stream's evidence sufficed (the fixed-horizon→sequential
    * experiment-gate audit).
    */
  def abSprt(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.sprt(events(s, d), "event_type", "ts",
      col("value") > 0.75, p0 = 0.25, p1 = 0.30)

  /** Exact ROC-AUC of the event value as a purchase predictor
    * ([[graft.operators.RateAnomaly.aucRank]]): the Mann–Whitney rank
    * statistic over a 2⁻¹⁰-grid score — the "is this signal better
    * than a coin flip" gate a curation classifier must pass before its
    * scores are allowed to drop documents.
    */
  def rocAuc(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.aucRank(
      events(s, d).select((col("event_type") === "purchase").as("label"),
        col("value").as("score")),
      "label", "score")

  /** Theil–Sen robust daily-volume trend per event type
    * ([[graft.operators.RateAnomaly.theilSen]]) — the outlier-proof
    * slope a capacity planner reads where OLS would chase the very
    * spikes `event_anomaly` flags.
    */
  def eventTrendRobust(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.theilSen(events(s, d), "event_type", "ts")

  /** Exponentially decayed volume per event type
    * ([[graft.operators.RateAnomaly.decayTrend]], half-life 7 days) —
    * the trending-now ranking signal and crawl-freshness term.
    */
  def eventDecay(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.decayTrend(events(s, d), "event_type", "ts",
      halfLifeDays = 7)

  /** Holt linear-trend 7-day-ahead forecast per event type
    * ([[graft.operators.RateAnomaly.holtForecast]], α = β = ½ exact
    * halving recurrences on the 2²⁰ grid) — the rate forecaster one
    * step past `event_seasonal`'s baseline, replayed day-by-day in a
    * recursive CTE by the oracle.
    */
  def eventForecastHolt(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.holtForecast(events(s, d), "event_type", "ts",
      horizon = 7)

  /** CUPED-adjusted A/B comparison over the md5 coin arms
    * ([[graft.operators.RateAnomaly.cuped]]): pre-period value mass as
    * the covariate, experiment-period mass as the metric — on an A/A
    * assignment the adjusted and raw diffs both hover near zero while
    * `var_reduction` reports exactly how much narrower the CI would be.
    */
  def abCuped(s: SparkSession, d: String): DataFrame = {
    val arm = (graft.plans.Md5Prefix.of(concat(lit("ab:"),
      col("user_id").cast("string")), 6) % 2)
    graft.operators.RateAnomaly.cuped(events(s, d), "user_id", "ts", "value", arm)
  }

  /** Welch's t-test on event value between the deterministic md5 A/B
    * arms, per event type ([[graft.operators.RateAnomaly.welchT]]) —
    * the continuous-outcome twin of `ab_chisq`: same arm assignment,
    * but testing the metric's MEAN instead of the conversion rate.
    */
  def abWelch(s: SparkSession, d: String): DataFrame = {
    val arm = (graft.plans.Md5Prefix.of(concat(lit("ab:"),
      col("user_id").cast("string")), 6) % 2).as("arm")
    graft.operators.RateAnomaly.welchT(
      events(s, d).select(col("event_type"), arm, col("value")),
      "event_type", "arm", "value")
      .orderBy(col("event_type"))
  }
}
