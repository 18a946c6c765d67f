package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The engine's query surface exercised as named queries over the driver's
 * test tables (TESTDATA.md), one per operator family of SURVEY.md §2, each
 * paired with ANSI SQL the driver replays in DuckDB (the t2 correctness
 * gate).
 *
 * Determinism rules (hash-compare survival):
 *  - every double aggregate is ROUNDed (2-4 dp) in BOTH engines — double
 *    summation order differs between Spark partial aggregation and DuckDB;
 *  - integer sums are cast to BIGINT in SQL (DuckDB SUM(int) yields
 *    HUGEINT, Spark yields LONG);
 *  - aggregate/computed columns carry identical aliases on both sides (the
 *    driver sorts columns by name before hashing);
 *  - no raw floats, no approximate sketches in oracle-checked queries.
 *
 * Scale notes are per-query scaladoc: which side broadcasts, where the
 * shuffles are, what survives 1000 executors × 100 TB.
 */
object Battery {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (arrives as LongType nanoseconds under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by Verify/Bench) and
    * TIMESTAMP(MICROS) without timezone (arrives as TIMESTAMP_NTZ, which
    * `unix_micros`/`window` reject or treat differently). Normalize both to
    * a session-timezone TimestampType — the session runs UTC, so wall-clock
    * values are unchanged either way. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    // The NTZ→timestamp cast below is value-preserving ONLY under a UTC
    // session; every entry point sets it, but the invariant lives in many
    // separate builders — fail fast rather than silently shift events.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "events() requires spark.sql.session.timeZone=UTC (NTZ cast + " +
        "DuckDB oracle agreement)")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: double division rounds at 2026-epoch
        // nanosecond magnitudes (~1.8e18 ≫ 2^53) and can perturb the
        // microsecond value by ~1µs at boundary equality
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------
  // Aggregations (A1-A5)
  // ---------------------------------------------------------------------

  /** TPC-H Q1 shape: scan-heavy partial agg; map-side combine keeps the
    * shuffle at |groups| regardless of input scale. */
  val q01Agg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  ROUND(SUM(l_quantity), 2) AS sum_qty,
      |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  ROUND(AVG(l_quantity), 4) AS avg_qty,
      |  ROUND(AVG(l_discount), 4) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6 shape: tight filter + 2-column projection — both must reach
    * the parquet scan (PushedFilters + pruned ReadSchema). */
  val q02FilterPushdown: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  val q02Sql: String =
    """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Conditional aggregation (A1 observe-counters analog): one pass, no
    * extra scan per counter. */
  val q03CondAgg: Q = (s, dir) =>
    t(s, dir, "orders")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        sum(when(col("o_totalprice") > 200000, 1).otherwise(0)).as("n_big"),
        count(lit(1)).as("n_all"))

  val q03Sql: String =
    """SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      |  COUNT(*) AS n_all
      |FROM orders""".stripMargin

  /** A4: distinct over a pair of keys. */
  val q04Distinct: Q = (s, dir) =>
    t(s, dir, "customer")
      .select("c_mktsegment", "c_nationkey").distinct()
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_nations"))

  val q04Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_nations
      |FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Joins (J1-J9)
  // ---------------------------------------------------------------------

  /** J8/J9 analog: two-hop broadcast dimension join — dims are broadcast,
    * the fact side never shuffles. */
  val q05BroadcastJoin: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("sum_acctbal"))

  val q05Sql: String =
    """SELECT r_name, COUNT(*) AS n_customers,
      |  ROUND(SUM(c_acctbal), 2) AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** J2-style fact-to-fact equi-join: shuffles both sides on the key; AQE
    * coalesces post-shuffle partitions at runtime. */
  val q06ShuffleJoin: Q = (s, dir) =>
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))

  val q06Sql: String =
    """SELECT o_orderpriority,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q5 shape: multi-way join mixing broadcast (dims) and shuffle
    * (facts), with the n_nationkey = s_nationkey co-location predicate. */
  val q07MultiJoin: Q = (s, dir) => {
    val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  val q07Sql: String =
    """SELECT n_name,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** J6 analog (existence): left-semi join — customers having a big order. */
  val q08SemiJoin: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))

  val q08Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer WHERE EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY c_mktsegment""".stripMargin

  /** J6/J4 novelty analog: left-anti join — customers with no urgent order
    * (the dedup "new rows" split). */
  val q09AntiJoin: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"))

  val q09Sql: String =
    """SELECT c_nationkey, COUNT(*) AS n_customers
      |FROM customer WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey""".stripMargin

  /** J4: null-safe (<=>) join keys — the reference's null≡"" dedup
    * convention (rgdcore:Utils.stringsAreEqual; HrdpVariants.java:412,438).
    * Null keys are manufactured with NULLIF since the test tables are
    * null-free. */
  val q10NullSafeJoin: Q = (s, dir) => {
    val p = t(s, dir, "part")
      .select(col("p_partkey"), nullif(col("p_size"), lit(25)).as("k"))
    val su = t(s, dir, "supplier")
      .select(nullif(col("s_nationkey") % 30, lit(25)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_sup"))
    p.join(su, p("k") <=> su("k"), "left")
      .groupBy(coalesce(col("n_sup"), lit(0)).as("n_sup"))
      .agg(count(lit(1)).as("n_parts"))
  }

  val q10Sql: String =
    """SELECT COALESCE(n_sup, 0) AS n_sup, COUNT(*) AS n_parts
      |FROM (SELECT p_partkey, NULLIF(p_size, 25) AS k FROM part) p
      |LEFT JOIN (
      |  SELECT NULLIF(s_nationkey % 30, 25) AS k, COUNT(*) AS n_sup
      |  FROM supplier GROUP BY 1) s
      |ON p.k IS NOT DISTINCT FROM s.k
      |GROUP BY 1""".stripMargin

  /** J1 (the signature operator): interval/range join — lineitem quantity
    * probing part-size intervals, the genic-overlap shape. Broadcast the
    * small interval side; the big side streams through. */
  val q11RangeJoin: Q = (s, dir) => {
    val p = t(s, dir, "part").select(
      col("p_partkey").as("pk"),
      (col("p_size") - 2).cast("double").as("lo"),
      (col("p_size") + 2).cast("double").as("hi"))
    t(s, dir, "lineitem")
      .join(broadcast(p),
        col("l_partkey") === col("pk") &&
          col("l_quantity").between(col("lo"), col("hi")))
      .agg(count(lit(1)).as("n_in_range"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  val q11Sql: String =
    """SELECT COUNT(*) AS n_in_range,
      |  ROUND(SUM(l_extendedprice), 2) AS sum_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |  AND l_quantity BETWEEN p_size - 2 AND p_size + 2""".stripMargin

  // ---------------------------------------------------------------------
  // Window / sort / limit / set ops (W1-W2, O1, U1, L1)
  // ---------------------------------------------------------------------

  /** W2 analog: rank-per-group (top-3 orders per customer) + lag delta. */
  val q12Window: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_price",
        round(coalesce(lag("o_totalprice", 1).over(w), lit(0.0)), 2))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("prev_price"))
  }

  val q12Sql: String =
    """SELECT o_custkey, rn, o_orderkey, ROUND(o_totalprice, 2) AS price,
      |  prev_price
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER w AS rn,
      |    ROUND(COALESCE(LAG(o_totalprice, 1) OVER w, 0.0), 2) AS prev_price
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 3""".stripMargin

  /** L1 + O1: global top-k — Spark plans TakeOrderedAndProject (no full
    * sort shuffle); ties broken on the key for determinism. */
  val q13TopK: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))

  val q13Sql: String =
    """SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** U1: UNION ALL of two branches (the variant ∪ variant_ext shape) then
    * re-aggregated. */
  val q14Union: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val big = o.filter(col("o_totalprice") > 250000)
      .select(col("o_orderstatus"), lit("big").as("bucket"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderstatus"), lit("urgent").as("bucket"))
    big.unionByName(urgent)
      .groupBy("o_orderstatus", "bucket")
      .agg(count(lit(1)).as("n"))
  }

  val q14Sql: String =
    """SELECT o_orderstatus, bucket, COUNT(*) AS n FROM (
      |  SELECT o_orderstatus, 'big' AS bucket FROM orders
      |    WHERE o_totalprice > 250000
      |  UNION ALL
      |  SELECT o_orderstatus, 'urgent' AS bucket FROM orders
      |    WHERE o_orderpriority = '1-URGENT')
      |GROUP BY o_orderstatus, bucket""".stripMargin

  // ---------------------------------------------------------------------
  // Generator / scalar-kernel shapes (§2.8, P7, §2.7)
  // ---------------------------------------------------------------------

  /** §2.8 analog: posexplode of a split string — the multi-allelic
    * expansion shape — then word frequency. */
  val q15Explode: Q = (s, dir) =>
    t(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))

  val q15Sql: String =
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      |GROUP BY 1""".stripMargin

  /** P7 analog: a when/otherwise classification chain over two measures —
    * same decision-tree shape as variant typing, kept fully in codegen. */
  val q16CaseChain: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("li_class",
        when(col("l_quantity") === 1, "single")
          .when(col("l_quantity") < 10 && col("l_discount") > 0.05, "small_disc")
          .when(col("l_quantity") < 10, "small")
          .when(col("l_quantity") < 30, "medium")
          .otherwise("bulk"))
      .groupBy("li_class")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))

  val q16Sql: String =
    """SELECT CASE
      |    WHEN l_quantity = 1 THEN 'single'
      |    WHEN l_quantity < 10 AND l_discount > 0.05 THEN 'small_disc'
      |    WHEN l_quantity < 10 THEN 'small'
      |    WHEN l_quantity < 30 THEN 'medium'
      |    ELSE 'bulk' END AS li_class,
      |  COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS sum_price
      |FROM lineitem GROUP BY 1""".stripMargin

  /** §2.7 analog: the zygosity threshold ladder (100/85/15) applied to a
    * percent derived from two columns — identical CASE semantics. */
  val q17Thresholds: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("pct", round(col("l_discount") * 1000).cast("int"))
      .withColumn("status",
        when(col("pct") >= 100, "homozygous")
          .when(col("pct") >= 85, "possibly homozygous")
          .otherwise("heterozygous"))
      .withColumn("poss_error", when(col("pct") <= 15, "Y").otherwise("N"))
      .groupBy("status", "poss_error")
      .agg(count(lit(1)).as("n"))

  val q17Sql: String =
    """SELECT CASE WHEN pct >= 100 THEN 'homozygous'
      |    WHEN pct >= 85 THEN 'possibly homozygous'
      |    ELSE 'heterozygous' END AS status,
      |  CASE WHEN pct <= 15 THEN 'Y' ELSE 'N' END AS poss_error,
      |  COUNT(*) AS n
      |FROM (SELECT CAST(ROUND(l_discount * 1000) AS INT) AS pct FROM lineitem)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // Time-series (events) — extended surface
  // ---------------------------------------------------------------------

  /** Tumbling 1-hour window aggregation (streaming-compatible shape). */
  val q18Tumbling: Q = (s, dir) =>
    events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  val q18Sql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Session windows (gaps-and-islands, 30-min gap): count + span per user.
    * Batch twin of streaming session_window; expressed with lag/cumsum so
    * DuckDB replays it exactly. */
  val q19Session: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000,
          1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val q19Sql: String =
    """SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // Training-data extensions: dedup / text analysis / similarity
  // ---------------------------------------------------------------------

  /** Exact dedup via md5 fingerprint (prefix-fingerprinted so the
    * synthetic corpus actually contains duplicate groups): group-size
    * histogram. */
  val q20DedupExact: Q = (s, dir) =>
    t(s, dir, "documents")
      .groupBy(md5(substring(col("text"), 1, 20)).as("fp"))
      .agg(count(lit(1)).as("group_size"), min("doc_id").as("keeper"))
      .groupBy("group_size")
      .agg(count(lit(1)).as("n_groups"), sum("keeper").as("sum_keepers"))

  val q20Sql: String =
    """SELECT group_size, COUNT(*) AS n_groups,
      |  CAST(SUM(keeper) AS BIGINT) AS sum_keepers
      |FROM (
      |  SELECT md5(substr(text, 1, 20)) AS fp, COUNT(*) AS group_size,
      |    MIN(doc_id) AS keeper
      |  FROM documents GROUP BY 1)
      |GROUP BY group_size""".stripMargin

  /** Text quality metrics (token count, punct ratio, stopword ratio)
    * aggregated by source. */
  val q21TextStats: Q = (s, dir) => {
    import graft.operators.TextAnalysis._
    t(s, dir, "documents")
      .select(col("source"),
        tokenCount(col("text")).as("n_tok"),
        punctRatio(col("text")).as("punct"),
        stopwordRatio(col("text")).as("stop"))
      .groupBy("source")
      .agg(sum("n_tok").as("sum_tokens"),
        round(avg("punct"), 3).as("avg_punct"),
        round(avg("stop"), 3).as("avg_stop"),
        count(lit(1)).as("n_docs"))
  }

  val q21Sql: String = {
    val stops = graft.operators.TextAnalysis.EnglishStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT source, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       |  ROUND(AVG(punct), 3) AS avg_punct, ROUND(AVG(stop), 3) AS avg_stop,
       |  COUNT(*) AS n_docs
       |FROM (
       |  SELECT source,
       |    len(list_filter(string_split_regex(text, '\\s+'),
       |        x -> len(x) > 0)) AS n_tok,
       |    CASE WHEN length(text) > 0 THEN ROUND(
       |      length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
       |        / length(text), 4) ELSE 0.0 END AS punct,
       |    CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'),
       |        x -> len(x) > 0)) > 0 THEN ROUND(
       |      len(list_filter(string_split_regex(lower(text), '\\s+'),
       |          x -> x IN ($stops)))::DOUBLE
       |        / len(list_filter(string_split_regex(lower(text), '\\s+'),
       |            x -> len(x) > 0)), 4) ELSE 0.0 END AS stop
       |  FROM documents)
       |GROUP BY source""".stripMargin
  }

  /** BPE-ish token accounting per language (regexp_extract_all parity). */
  val q22TokenCount: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("lang"),
        graft.operators.TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_ws"))
      .groupBy("lang")
      .agg(sum("n_bpe").as("sum_bpe"), sum("n_ws").as("sum_ws"),
        count(lit(1)).as("n_docs"))

  val q22Sql: String =
    """SELECT lang, CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
      |  CAST(SUM(n_ws) AS BIGINT) AS sum_ws, COUNT(*) AS n_docs
      |FROM (
      |  SELECT lang,
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe,
      |    len(list_filter(string_split_regex(text, '\s+'),
      |        x -> len(x) > 0)) AS n_ws
      |  FROM documents)
      |GROUP BY lang""".stripMargin

  /** Language-id heuristic (stopword-profile argmax) vs the labeled
    * lang. One corpus scan: the guess is a scalar native expression, so
    * the only shuffle is the tiny (lang, guess) rollup. */
  val q23LangId: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("lang"),
        graft.operators.TextAnalysis.langGuess(col("text")).as("lang_guess"))
      .groupBy("lang", "lang_guess")
      .agg(count(lit(1)).as("n"))

  val q23Sql: String = {
    val p = graft.operators.TextAnalysis.LangProfiles.toSeq.sortBy(_._1)
    val hitExprs = p.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"""len(list_filter(string_split_regex(lower(text), '\\s+'),
         |        x -> x IN ($set))) AS h_$lang""".stripMargin
    }.mkString(",\n    ")
    // first-wins tie-break over languages sorted asc, mirroring the
    // Column reduceLeft in TextAnalysis.langId
    s"""SELECT lang, lang_guess, COUNT(*) AS n FROM (
       |  SELECT lang, CASE
       |    WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
       |    WHEN h_zh > GREATEST(h_de, h_en, h_es, h_fr) THEN 'zh'
       |    WHEN h_fr > GREATEST(h_de, h_en, h_es) THEN 'fr'
       |    WHEN h_es > GREATEST(h_de, h_en) THEN 'es'
       |    WHEN h_en > h_de THEN 'en'
       |    ELSE 'de' END AS lang_guess
       |  FROM (SELECT lang,
       |    $hitExprs
       |  FROM documents))
       |GROUP BY lang, lang_guess""".stripMargin
  }

  /** MinHash/LSH near-dup PAIRS, oracle-checked end-to-end: portable
    * signatures (the q42 md5/mod-2^60 double-hash family) flow through
    * the SAME banding join the production xxhash64 path uses
    * ([[graft.operators.Dedup.nearDupPairsFromSignatures]]), with the
    * band SLICE as the key instead of its xxhash64 — engine-agnostic,
    * semantically identical modulo 2⁻⁶⁴ hash collisions. DuckDB replays
    * signature minima with HUGEINT arithmetic, bands as
    * `list(mh ORDER BY i)`, and the component-equality Jaccard estimate.
    * 8 bands × 8 rows: the tiny 30-word vocabulary gives RANDOM doc
    * pairs char-shingle Jaccard ~0.3, so 4-row bands collide on ~12% of
    * all pairs; 8-row bands push the random collision rate under 1%
    * while keeping ~99% recall at the planted near-dups' similarity.
    * Per-pair jaccard is k_eq/64 — exact in binary, no float-order risk. */
  /** The portable MinHash signature frame shared by the whole banded
    * family (q24 pairs, q44/q56/q91 components): md5 char-5 shingles,
    * two 60-bit halves, 64 double-hash min families — DuckDB replays it
    * with HUGEINT arithmetic ([[q24SigCtes]]). */
  private def portableMinhashSigs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    // the corpus is 1-2 parquet splits: spread on the doc id or the
    // whole md5 pass runs on 1-2 cores (shuffle is ~doc bytes).
    // ONE fused kernel row per doc (r21, guide §4): the exploded
    // md5(substr)/conv/typed-aggregate chain paid O(len²) substring
    // walks plus a 32-char hex round-trip per shingle — the fused
    // expression computes bit-identical signatures in one O(len) pass
    // (SigExpressionsSpec pins equality to the old chain; doc ids are
    // unique here so no cross-row combine is needed)
    t(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"), norm.as("__t"))
      .filter(col("__t").isNotNull)
      .select(col("doc_id"), graft.functions.SigExpressions
        .portableMinhashSigFromText(col("__t"), 5, 64).as("sig"))
  }

  val q24MinhashDedup: Q = (s, dir) =>
    graft.operators.Dedup.nearDupPairsFromSignatures(
      portableMinhashSigs(s, dir), "doc_id",
      numHashes = 64, bands = 8, threshold = 0.4, portableBandKeys = true)

  /** Verified STAR edges over the same portable signatures — the
    * linear-in-bucket-size candidate form the CC consumers (q44/q56/
    * q91) feed ([[graft.operators.Dedup.nearDupStarEdgesFromSignatures]]):
    * per band bucket, members edge to the bucket-min anchor (c−1 rows,
    * never c²), each edge verified at the same threshold. */
  private def q24StarEdges(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Dedup.nearDupStarEdgesFromSignatures(
      portableMinhashSigs(s, dir), "doc_id",
      numHashes = 64, bands = 8, threshold = 0.4, portableBandKeys = true)

  /** Portable-signature CTE chain shared by the whole banded family:
    * md5 char-5 shingles → 64 double-hash minima (`sig`) → 8-row band
    * keys (`band`). The pair (q24) and star-edge (q44/q56/q91) tails
    * both build on it, so the families can never drift. */
  private val q24SigCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, s,
      |    unnest(range(1, greatest(len(s) - 4, 1) + 1)) AS pos
      |  FROM t),
      |m AS (
      |  SELECT doc_id, md5(substr(s, CAST(pos AS INT), 5)) AS d FROM p),
      |hh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(d, 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(d, 16, 15))::BIGINT AS h2
      |  FROM m),
      |ih AS (
      |  SELECT doc_id, h1, h2, unnest(range(0, 64)) AS i FROM hh),
      |g AS (
      |  SELECT doc_id, CAST(i AS INT) AS i,
      |    CAST((h1::HUGEINT + i::HUGEINT * h2::HUGEINT)
      |      % 1152921504606846976 AS BIGINT) AS gv
      |  FROM ih),
      |sig AS (SELECT doc_id, i, MIN(gv) AS mh FROM g GROUP BY doc_id, i),
      |band AS (
      |  SELECT doc_id, i // 8 AS band_idx, list(mh ORDER BY i) AS bkey
      |  FROM sig GROUP BY doc_id, i // 8)""".stripMargin

  /** q24's all-pairs tail: within-bucket candidates → verified pairs in
    * `j`. */
  private val q24PairCtes: String = q24SigCtes + """,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM band a JOIN band b
      |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey
      |      AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT c.id_a, c.id_b,
      |    ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::DOUBLE
      |      / 64, 4) AS jaccard
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.id_a
      |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      |  GROUP BY c.id_a, c.id_b)""".stripMargin

  /** The STAR-EDGE tail the CC consumers replay
    * ([[graft.operators.Dedup.nearDupStarEdgesFromSignatures]]): per
    * band bucket, the min doc id anchors c−1 edges (linear, never c²),
    * each verified at the same threshold — verified edges in `j`. */
  private val q24StarCtes: String = q24SigCtes + """,
      |anchor AS (
      |  SELECT band_idx, bkey, MIN(doc_id) AS anchor_id
      |  FROM band GROUP BY band_idx, bkey),
      |sedge AS (
      |  SELECT DISTINCT a.anchor_id AS id_a, b.doc_id AS id_b
      |  FROM band b JOIN anchor a
      |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey
      |      AND b.doc_id <> a.anchor_id),
      |j AS (
      |  SELECT c.id_a, c.id_b,
      |    ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::DOUBLE
      |      / 64, 4) AS jaccard
      |  FROM sedge c
      |  JOIN sig sa ON sa.doc_id = c.id_a
      |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      |  GROUP BY c.id_a, c.id_b)""".stripMargin

  val q24Sql: String =
    s"WITH $q24PairCtes\nSELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4"

  /** SimHash near-dup PAIRS, oracle-checked end-to-end: a PORTABLE
    * 60-bit simhash (±1 votes per bit of the 15-hex-char md5 prefix of
    * each token — plain SQL in DuckDB) flows through the same
    * pigeonhole-piece blocking join as the production 64-bit xxhash path
    * ([[graft.operators.Dedup.simhashPairsFromHashes]]). maxHamming 3 =
    * the standard near-dup radius: blocking uses h+1 pieces, so small h
    * keeps the candidate keys wide (15 bits) and the join selective. */
  val q25Simhash: Q = (s, dir) => {
    // fused portable-simhash kernel (r21): one pass per doc over the
    // token array replaces explode → md5/conv per token → vote
    // aggregate — bit-identical (SigExpressionsSpec); the size filter
    // preserves the exploded form's drop of zero-token docs
    val toks = graft.operators.TextAnalysis.tokens(lower(col("text")))
    val sh = t(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"), toks.as("__ts"))
      .filter(size(col("__ts")) > 0)
      .select(col("doc_id"), graft.functions.SigExpressions
        .portableSimhashFromTokens(col("__ts"), 60).as("simhash"))
    graft.operators.Dedup.simhashPairsFromHashes(sh, "doc_id",
      numBits = 60, maxHamming = 3)
  }

  val q25Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x <> '')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
      |  FROM toks),
      |b AS (SELECT doc_id, hv, unnest(range(0, 60)) AS i FROM h),
      |v AS (
      |  SELECT doc_id, CAST(i AS INT) AS i,
      |    SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
      |      THEN 1 ELSE -1 END) AS vote
      |  FROM b GROUP BY doc_id, i),
      |sim AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sh
      |  FROM v GROUP BY doc_id),
      |k AS (SELECT doc_id, sh, unnest(range(0, 4)) AS piece_idx FROM sim),
      |keys AS (
      |  SELECT doc_id, sh, CAST(piece_idx AS INT) AS piece_idx,
      |    (sh >> (15 * CAST(piece_idx AS INT))) & 32767 AS piece
      |  FROM k),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
      |    a.sh AS sha, b2.sh AS shb
      |  FROM keys a JOIN keys b2
      |    ON a.piece_idx = b2.piece_idx AND a.piece = b2.piece
      |      AND a.doc_id < b2.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(sha, shb)) <= 3""".stripMargin

  /** Exact brute-force cosine top-5 for the first 3 vectors as queries —
    * the ANN ground truth, DuckDB-checkable via list_cosine_similarity. */
  val q26CosineKnn: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.bruteForceTopK(emb, queries, k = 5, dim = 64)
  }

  val q26Sql: String =
    """SELECT query_id, rank, vec_id, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |    ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
      |      c.embedding::DOUBLE[]), 4) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
      |        c.embedding::DOUBLE[]), 4) DESC, c.vec_id) AS rank
      |  FROM embeddings q, embeddings c WHERE q.vec_id < 3)
      |WHERE rank <= 5""".stripMargin

  /** Embedding norm statistics per label. */
  val q27EmbeddingNorms: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("label"),
        round(graft.operators.Similarity.normFast(col("embedding")), 4)
          .as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(min("nrm"), 4).as("min_norm"),
        round(max("nrm"), 4).as("max_norm"),
        round(avg("nrm"), 3).as("avg_norm"))

  val q27Sql: String =
    """SELECT label, COUNT(*) AS n, ROUND(MIN(nrm), 4) AS min_norm,
      |  ROUND(MAX(nrm), 4) AS max_norm, ROUND(AVG(nrm), 3) AS avg_norm
      |FROM (SELECT label,
      |  ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
      |    embedding::DOUBLE[])), 4) AS nrm FROM embeddings)
      |GROUP BY label""".stripMargin

  /** LSH ANN recall vs the exact top-5 (one row — the quality/cost
    * gate for the approximate path). ONE Spark job: the exact side is
    * computed once and recall falls out of a left join + aggregate,
    * not driver-side counts. Oracled end-to-end: the sign-bit planes
    * are seeded-deterministic doubles, so [[q28Sql]] embeds them as
    * literals and REPLAYS the whole approximate pipeline in DuckDB —
    * per-table keys (dot ≥ 0 sign bits), the Hamming≤2 probe masks,
    * the bucket join, dedup, 4dp-rounded cosine ranking, and the
    * recall aggregate. A drift anywhere (key arithmetic, probe set,
    * tie-break, recall math) fails the hash. */
  val q28LshRecall: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = graft.operators.Similarity
      .bruteForceTopK(emb, queries, 5, dim = 64)
      .select(col("query_id"), col("vec_id"))
    val approx = graft.operators.Similarity
      .lshTopK(emb, queries, 5, dim = 64)
      .select(col("query_id"), col("vec_id"), lit(1).as("__hit"))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        sum(coalesce(col("__hit"), lit(0))).as("n_hits"),
        count(lit(1)).as("n_exact"))
      .select(col("n_hits"), col("n_exact"),
        round(col("n_hits").cast("double") / col("n_exact"), 4).as("recall"))
  }

  /** The full LSH pipeline replayed in DuckDB with the SAME plane
    * constants the Spark expression uses (seeded-deterministic, so
    * they are part of the algorithm definition — embedded as list
    * literals via Double.toString, whose shortest-round-trip form
    * DuckDB's correctly-rounded parser reads back to the identical
    * double; both engines accumulate the 64-term dot in index order,
    * and the Gaussian-scale dots leave sign flips no room). */
  val q28Sql: String = {
    val tables = (0 until 6).map(t =>
      graft.operators.Similarity.hyperplanes(64, 10, seed = 42L + t))
    val planeRows = (for {
      (tab, t) <- tables.zipWithIndex
      (pl, p) <- tab.zipWithIndex
    } yield s"($t, $p, [${pl.map(x => java.lang.Double.toString(x))
      .mkString(", ")}])").mkString(",\n")
    // Hamming<=2 probe masks over 10 key bits (Similarity.probeMasks)
    val masks = (Seq(0) ++ (0 until 10).map(1 << _) ++
      (for (i <- 0 until 10; j <- (i + 1) until 10)
        yield (1 << i) | (1 << j))).mkString(", ")
    s"""WITH planes(t, p, pl) AS (VALUES
       |$planeRows),
       |ck AS (
       |  SELECT e.vec_id, pl.t,
       |    CAST(SUM(CASE WHEN list_dot_product(
       |        e.embedding::DOUBLE[], pl.pl) >= 0
       |      THEN (1 << pl.p) ELSE 0 END) AS INT) AS key
       |  FROM embeddings e, planes pl GROUP BY 1, 2),
       |probes AS (
       |  SELECT DISTINCT vec_id AS query_id, t, xor(key, m.m) AS key
       |  FROM ck, (SELECT unnest([$masks]) AS m) m
       |  WHERE vec_id < 20),
       |cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id
       |  FROM probes q JOIN ck c ON q.t = c.t AND q.key = c.key),
       |approx AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT cand.query_id, cand.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY cand.query_id ORDER BY
       |        ROUND(list_cosine_similarity(qe.embedding::DOUBLE[],
       |          ce.embedding::DOUBLE[]), 4) DESC, cand.vec_id) AS rank
       |    FROM cand
       |    JOIN embeddings qe ON qe.vec_id = cand.query_id
       |    JOIN embeddings ce ON ce.vec_id = cand.vec_id)
       |  WHERE rank <= 5),
       |exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
       |          c.embedding::DOUBLE[]), 4) DESC, c.vec_id) AS rank
       |    FROM embeddings q, embeddings c WHERE q.vec_id < 20)
       |  WHERE rank <= 5)
       |SELECT
       |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  COUNT(*) AS n_exact,
       |  ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 4) AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.vec_id = a.vec_id""".stripMargin
  }

  /** Multimodal plumbing: documents→media table → batched feature
    * extraction (stubbed decode) → per-kind accounting. The byte-level
    * stats are DuckDB-checkable; feature vectors are covered by
    * MultimodalSpec. */
  val q29Multimodal: Q = (s, dir) => {
    val media = graft.operators.Multimodal
      .mediaFromDocuments(t(s, dir, "documents"))
    graft.operators.Multimodal.extractFeatures(media, dim = 16)
      .groupBy("kind")
      .agg(count(lit(1)).as("n"), sum("n_bytes").as("sum_bytes"))
  }

  val q29Sql: String =
    """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS kind,
      |  COUNT(*) AS n,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
      |FROM documents GROUP BY 1""".stripMargin

  /** Sliding 1-hour windows every 30 minutes (batch twin of the streaming
    * slidingCounts). */
  val q30Sliding: Q = (s, dir) =>
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  val q30Sql: String =
    """SELECT ws AS window_start, event_type, COUNT(*) AS n,
      |  ROUND(SUM(value), 2) AS sum_value
      |FROM (
      |  SELECT unnest([w0, w0 - INTERVAL 30 MINUTE]) AS ws, event_type, value
      |  FROM (
      |    SELECT date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
      |        THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS w0,
      |      event_type, value
      |    FROM events))
      |GROUP BY 1, 2""".stripMargin

  /** JSON property extraction from the events props column. */
  val q31Json: Q = (s, dir) =>
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        round(avg("k"), 3).as("avg_k"))

  val q31Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
      |  ROUND(AVG(CAST(props->>'$.k' AS INT)), 3) AS avg_k
      |FROM events GROUP BY event_type""".stripMargin

  /** Exact embedding-cosine near-dup pairs, block-partitioned. At this
    * threshold (0.30) the qualifying pairs are ~0.8% of ALL pairs on the
    * near-random test embeddings (max pair cosine ≈0.51 — measured), so
    * the output itself is Θ(n²) and no algorithm beats quadratic work —
    * the engineering is in the blocked shape (bounded task memory, even
    * parallelism; see Dedup.embeddingNearDupPairsExact). The LSH scale
    * path for TRUE near-duplicates is oracle-checked separately as q41,
    * where a similarity margin exists for it to exploit. */
  val q32EmbeddingDedup: Q = (s, dir) =>
    graft.operators.Dedup.embeddingNearDupPairsExact(
      t(s, dir, "embeddings"), "vec_id", col("embedding"), threshold = 0.30)

  val q32Sql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
      |    b.embedding::DOUBLE[]), 4) AS cosine
      |FROM embeddings a, embeddings b
      |WHERE a.vec_id < b.vec_id
      |  AND ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
      |    b.embedding::DOUBLE[]), 4) >= 0.30""".stripMargin

  /** Winnowing rolling-hash fingerprints: docs sharing a fingerprint are
    * near-dup candidates. ORACLE-CHECKED: the battery runs the
    * portable-hash mode (60-bit md5 prefix), which DuckDB reproduces
    * bit-for-bit — the default xxhash64 mode stays for production use. */
  val q33Winnowing: Q = (s, dir) => {
    val fps = graft.operators.TextAnalysis.winnowingFingerprints(
      t(s, dir, "documents"), "doc_id", col("text"), k = 5, w = 4,
      portableHash = true)
    // single pass: total (doc, fp) rows + fp groups shared by >1 doc
    fps.groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .agg(sum("n_docs").cast("long").as("n_fingerprints"),
        sum(when(col("n_docs") > 1, 1).otherwise(0)).cast("long")
          .as("n_shared_fps"))
  }

  val q33Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, s,
      |    unnest(range(1, greatest(len(s) - 4, 1) + 1)) AS i
      |  FROM t),
      |g AS (
      |  SELECT doc_id, i,
      |    ('0x' || substr(md5(substr(s, CAST(i AS INT), 5)), 1, 15))::BIGINT
      |      AS h
      |  FROM p),
      |w AS (
      |  SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM g),
      |d AS (SELECT DISTINCT doc_id, fp FROM w),
      |c AS (SELECT fp, COUNT(*) AS n_docs FROM d GROUP BY fp)
      |SELECT CAST(SUM(n_docs) AS BIGINT) AS n_fingerprints,
      |  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared_fps
      |FROM c""".stripMargin

  /** Salted skew join == plain join (the oracle replays it unsalted). */
  val q34SaltedJoin: Q = (s, dir) => {
    val prioDim = t(s, dir, "orders")
      .select(col("o_orderpriority").as("prio")).distinct()
      .withColumn("prio_rank",
        ascii(substring(col("prio"), 1, 1)) - lit(48))
    graft.operators.SkewJoin.saltedJoin(
      t(s, dir, "orders").withColumn("prio", col("o_orderpriority")),
      prioDim, Seq("prio"), saltFactor = 8)
      .groupBy("prio_rank")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
  }

  val q34Sql: String =
    """SELECT ascii(substr(o.o_orderpriority, 1, 1)) - 48 AS prio_rank,
      |  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
      |FROM orders o
      |JOIN (SELECT DISTINCT o_orderpriority AS prio FROM orders) d
      |  ON o.o_orderpriority = d.prio
      |GROUP BY 1""".stripMargin

  /** ROLLUP grouping sets with grouping_id (free from Spark SQL — the
    * engine's super-aggregation surface beyond the reference's plain
    * GROUP BY). */
  val q35Rollup: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))

  val q35Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** Exact interpolated percentiles per group. */
  val q36Percentile: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 3).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 3).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 3).as("p75"))

  val q36Sql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_quantity, 0.25), 3) AS p25,
      |  ROUND(quantile_cont(l_quantity, 0.5), 3) AS p50,
      |  ROUND(quantile_cont(l_quantity, 0.75), 3) AS p75
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** HLL sketch (approx_count_distinct) pinned inside its error
    * envelope: the estimate itself is engine-specific by construction
    * (DuckDB has no HLL twin), so the query emits the EXACT distinct
    * counts plus a BIGINT verdict `abs(est − exact)/exact ≤ 0.05` per
    * column. DuckDB computes the exact counts and the literal 1s, so
    * the hash gate now verifies the estimator stays within tolerance
    * instead of not checking it at all (the rsd asked of Spark is
    * 0.02, so the 0.05 gate is 2.5 standard errors — stable). */
  val q37Hll: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))
      .select(
        col("exact_parts"),
        (abs(col("ap") - col("exact_parts")) <=
          col("exact_parts").cast("double") * 0.05)
          .cast("long").as("parts_in_tol"),
        col("exact_orders"),
        (abs(col("ao") - col("exact_orders")) <=
          col("exact_orders").cast("double") * 0.05)
          .cast("long").as("orders_in_tol"))

  val q37Sql: String =
    """SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
      |  CAST(1 AS BIGINT) AS parts_in_tol,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  CAST(1 AS BIGINT) AS orders_in_tol
      |FROM lineitem""".stripMargin

  /** Backward as-of join: each event matched to the user's most recent
    * 'click' at-or-before it; checked against DuckDB's native ASOF JOIN.
    * Seconds-since-click aggregated per event type. */
  val q38AsofJoin: Q = (s, dir) => {
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    // whole-second diff on second-truncated stamps: Spark holds µs (ns
    // truncated at load), DuckDB holds ns — second-level math agrees
    graft.operators.AsOfJoin.asofJoin(
      ev, clicks, Seq("user_id"), "ts", "click_ts", Seq("click_ts"))
      .withColumn("since_click",
        unix_timestamp(date_trunc("second", col("ts"))) -
          unix_timestamp(date_trunc("second", col("asof_click_ts"))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("asof_click_ts").isNull, 1).otherwise(0))
          .as("n_unmatched"),
        sum("since_click").as("sum_since"))
  }

  val q38Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN click_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unmatched,
      |  CAST(SUM(epoch(date_trunc('second', ts))
      |    - epoch(date_trunc('second', click_ts))) AS BIGINT) AS sum_since
      |FROM events e ASOF LEFT JOIN (
      |  SELECT user_id AS cu, ts AS click_ts FROM events
      |  WHERE event_type = 'click') c
      |ON e.user_id = c.cu AND e.ts >= c.click_ts
      |GROUP BY event_type""".stripMargin

  /** KMV typed-aggregator sketch next to the exact distinct count.
    * ORACLE-CHECKED: the battery hashes with a portable 60-bit md5
    * prefix and DuckDB replays the whole estimator — k smallest distinct
    * hashes, (k-1)/fraction-of-hash-space — bit-for-bit (same IEEE
    * double arithmetic). Production use keeps xxhash64 input. */
  val q39Kmv: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("h", graft.functions.SigExpressions.md5Prefix60(
        col("l_partkey").cast("string")))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        // portable hashes live in [0, 2^60) — tell the estimator, or the
        // k-th minimum sits mid-signed-range and the estimate pins ~2k
        round(graft.functions.KmvSketch
            .kmvDistinct(256, 0.0, math.pow(2, 60))(col("h")), 1)
          .as("kmv_parts"))

  val q39Sql: String =
    """WITH h AS (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
      |      AS hv
      |  FROM lineitem),
      |k AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
      |s AS (SELECT COUNT(*) AS n, MAX(hv) AS kth FROM k)
      |SELECT
      |  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS exact_parts,
      |  ROUND(CASE WHEN n < 256 THEN n::DOUBLE
      |    ELSE 255 / ((kth::DOUBLE - 0.0) /
      |      (1152921504606846976::DOUBLE - 0.0))
      |    END, 1) AS kmv_parts
      |FROM s""".stripMargin

  /** Exact n-gram (3-word shingle) Jaccard near-dup pairs via
    * inverted-index blocking — the bounded exact member of the near-dup
    * family, and the one that IS DuckDB-expressible (list_intersect /
    * list_distinct over the same shingling), so the whole family gets a
    * hash-checked anchor. The test documents carry planted near-dups:
    * 3-gram Jaccard separates them cleanly (pairs ≥0.5 vs next <0.1 —
    * measured), where raw token sets don't (30-word vocabulary). */
  val q40NgramJaccard: Q = (s, dir) =>
    graft.operators.Dedup.ngramJaccardPairsText(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3,
      threshold = 0.5)

  val q40Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(w) - 1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |    ELSE [array_to_string(w, ' ')] END AS s
      |  FROM toks)
      |SELECT id_a, id_b, jaccard FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
      |      len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.5""".stripMargin

  /** LSH embedding near-dup — the 100 TB scale path, ORACLE-CHECKED. The
    * raw embeddings are near-random (max pair cosine ≈0.51), which no
    * sub-quadratic method can exploit, so the query derives a corpus with
    * a real similarity margin: each vector unions with a copy whose first
    * 8 dims are zeroed (cosine ≥0.80 to its source, ≤0.62 to everything
    * else — measured at both test SFs). At threshold 0.70 the answer is
    * exactly the planted pairs; the LSH candidate pass must reach recall
    * 1.0 (deterministic, seeded hyperplanes — parameters swept,
    * NOTES) and the exact-cosine verify step makes the
    * output equal the DuckDB all-pairs oracle. */
  val q41LshDedup: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val derived = emb.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      concat(array((0 until 8).map(_ => lit(0.0f)): _*),
        slice(col("embedding"), 9, 56)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(derived)
    graft.operators.Dedup.embeddingNearDupPairs(
      corpus, "vec_id", col("embedding"), dim = 64, threshold = 0.70)
  }

  val q41Sql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    list_concat([0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0],
      |      (embedding::DOUBLE[])[9:])
      |  FROM embeddings)
      |SELECT id_a, id_b, cosine FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    ROUND(list_cosine_similarity(a.e, b.e), 4) AS cosine
      |  FROM corpus a, corpus b WHERE a.vec_id < b.vec_id)
      |WHERE cosine >= 0.70""".stripMargin

  /** MinHash SIGNATURES, oracle-checked bit-for-bit: 5-char shingles of
    * normalized text, two 60-bit md5 slices per shingle, double-hash
    * family g_i = (h1 + i·h2) mod 2^60, min per i per doc — exploded to
    * (doc_id, i, mh) scalar rows that DuckDB reproduces with HUGEINT
    * arithmetic. Anchors the minhash family's math (q24 itself stays
    * rows-only: its banding keys are xxhash64). Scope-capped to 1000
    * docs — md5 is ~10× xxhash64 and this is a verification anchor, not
    * the production hash; the cap covers every sf0.01 doc, so the
    * correctness gate sees the full corpus. */
  val q42MinhashSigs: Q = (s, dir) => {
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    // fused signature kernel (r21) — same math as before, one O(len)
    // pass per doc instead of the exploded md5/conv/aggregate chain;
    // SigExpressionsSpec pins bit-equality, the oracle gates the values
    t(s, dir, "documents")
      .filter(col("doc_id") < 1000)
      .repartition(col("doc_id"))
      .select(col("doc_id"), norm.as("__t"))
      .filter(col("__t").isNotNull)
      .select(col("doc_id"), graft.functions.SigExpressions
        .portableMinhashSigFromText(col("__t"), 5, 64).as("__sig"))
      .select(col("doc_id"), posexplode(col("__sig")).as(Seq("i", "mh")))
  }

  val q42Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
      |  FROM documents WHERE doc_id < 1000),
      |p AS (
      |  SELECT doc_id, s,
      |    unnest(range(1, greatest(len(s) - 4, 1) + 1)) AS pos
      |  FROM t),
      |m AS (
      |  SELECT doc_id, md5(substr(s, CAST(pos AS INT), 5)) AS d FROM p),
      |hh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(d, 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(d, 16, 15))::BIGINT AS h2
      |  FROM m),
      |ih AS (
      |  SELECT doc_id, h1, h2, unnest(range(0, 64)) AS i FROM hh),
      |g AS (
      |  SELECT doc_id, CAST(i AS INT) AS i,
      |    CAST((h1::HUGEINT + i::HUGEINT * h2::HUGEINT)
      |      % 1152921504606846976 AS BIGINT) AS gv
      |  FROM ih)
      |SELECT doc_id, i, MIN(gv) AS mh FROM g GROUP BY doc_id, i""".stripMargin

  /** IVF-Flat ANN top-5, oracle-checked END TO END: deterministic
    * centroids (the 16 lowest-id vectors) make every discrete choice —
    * cell assignment, probe ranking, final top-k — exactly replayable
    * by DuckDB, so unlike the LSH recall probe (q28) this approximate
    * path gets a full rows+schema+hash gate. Cosines round to 4 places
    * before each argmax/rank on both engines (q26's device). */
  val q43IvfTopk: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.ivfTopK(emb, queries, k = 5,
      numCells = 16, nprobe = 4)
  }

  val q43Sql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cell, embedding AS cvec
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |scored AS (
      |  SELECT e.vec_id, e.embedding, c.cell,
      |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
      |      c.cvec::DOUBLE[]), 4) AS cos
      |  FROM embeddings e CROSS JOIN cent c),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cell) AS rn
      |  FROM scored),
      |asg AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS qvec, cell
      |  FROM ranked WHERE vec_id < 3 AND rn <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id,
      |    ROUND(list_cosine_similarity(p.qvec::DOUBLE[],
      |      a.embedding::DOUBLE[]), 4) AS cosine
      |  FROM probes p JOIN asg a ON a.cell = p.cell)
      |SELECT query_id, rank, vec_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, vec_id) AS rank
      |  FROM cand)
      |WHERE rank <= 5""".stripMargin

  /** Connected components over the banded family's verified STAR edges
    * + the canonical-doc flag — the cluster step a real dedup pipeline
    * runs between candidate enumeration and dropping rows (A~B, B~C
    * must collapse even when A~C was never enumerated). The CC path
    * deliberately feeds [[q24StarEdges]], not q24's all-pairs list: the
    * components are what the consumer needs, star edges connect every
    * bucket exactly as all-pairs do at Θ(c) per bucket instead of
    * Θ(c²), and a template family thousands deep costs linear work —
    * the 100 TB shape. The fixpoint loop's driver actions (one sum per
    * round, converges in 2-4 rounds on near-dup graphs) are inherent to
    * iterative graph algorithms, not incidental collects. Oracle: the
    * star-edge CTEs + a recursive reachability CTE (component = min
    * reachable id — exactly what min-label propagation computes). */
  val q44CcDedup: Q = (s, dir) => {
    val pairs = q24StarEdges(s, dir)
    val nodes = t(s, dir, "documents").select("doc_id")
    graft.operators.Dedup.canonicalByComponent(
      graft.operators.Dedup.connectedComponents(pairs, nodes))
  }

  val q44Sql: String =
    s"""WITH RECURSIVE $q24StarCtes,
      |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
      |SELECT id AS doc_id, MIN(r) AS component,
      |  CAST(id = MIN(r) AS INT) AS is_canonical
      |FROM reach GROUP BY id""".stripMargin

  /** Quality-based canonical selection
    * ([[graft.operators.Dedup.canonicalByScore]]): same clusters as
    * [[q44CcDedup]], but each cluster keeps its LONGEST member (ties to
    * the lowest id) instead of the lowest id — what a production dedup
    * actually ships. Oracle = the q44 recursive CTE + a per-component
    * quality window. */
  val q56CanonQuality: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val cc = graft.operators.Dedup.connectedComponents(
      q24StarEdges(s, dir), docs.select("doc_id"))
    graft.operators.Dedup.canonicalByScore(
      cc.join(docs.select("doc_id", "n_chars"), "doc_id"),
      col("n_chars")).drop("n_chars")
  }

  val q56Sql: String =
    s"""WITH RECURSIVE $q24StarCtes,
      |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      |cc AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id)
      |SELECT cc.doc_id, cc.component,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY cc.component
      |    ORDER BY d.n_chars DESC, cc.doc_id) = 1 AS INT) AS is_canonical
      |FROM cc JOIN documents d ON d.doc_id = cc.doc_id""".stripMargin

  /** Deterministic train/val/test assignment (80/10/10) by portable
    * (id, salt) hash — re-runs never migrate documents between splits
    * (test-set leakage), and the narrow codegen'd filter scales to any
    * corpus with no shuffle. Reported as per-(split, lang) counts so the
    * oracle checks every assignment, not just totals. */
  val q45HashSplit: Q = (s, dir) =>
    graft.operators.Sampling.assignSplit(
      t(s, dir, "documents"), col("doc_id"), "exp1")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))

  val q45Sql: String =
    """WITH b AS (
      |  SELECT lang, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':exp1'), 1, 15))
      |      ::BIGINT % 1000000 AS bucket
      |  FROM documents),
      |sp AS (
      |  SELECT lang, n_chars,
      |    CASE WHEN bucket < 800000 THEN 'train'
      |         WHEN bucket < 900000 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM b)
      |SELECT split, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM sp GROUP BY split, lang""".stripMargin

  /** Per-source quota capping (keep the 5 longest docs per source —
    * bound any one domain's contribution to the training mixture), then
    * roll the survivors up per source. One hash shuffle + in-partition
    * sort; ties break on doc_id so the kept set is deterministic. */
  val q46DomainCap: Q = (s, dir) =>
    graft.operators.Dedup.capPerKey(t(s, dir, "documents"),
      col("source"), col("n_chars"), col("doc_id"), n = 5)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars").cast("long")).as("kept_chars"),
        min("doc_id").as("min_doc_id"))

  val q46Sql: String =
    """WITH r AS (
      |  SELECT source, n_chars, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
      |  MIN(doc_id) AS min_doc_id
      |FROM r WHERE rn <= 5 GROUP BY source""".stripMargin

  /** PII redaction audit: plant deterministic emails (docs ≡0 mod 3) and
    * phone numbers (≡0 mod 5) in the corpus, then count and redact them
    * per source with [[graft.operators.TextAnalysis.redactPii]]. The
    * whole pass is a codegen'd regexp chain — no shuffle before the
    * per-source rollup — and the patterns are RE2-compatible so DuckDB
    * replays extraction AND replacement verbatim. `red_chars` hashes the
    * post-redaction text lengths: replacement itself is verified, not
    * just the match counts. */
  val q47PiiRedact: Q = (s, dir) => {
    val ta = graft.operators.TextAnalysis
    val planted = concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" or call (555) 010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val (emails, phones) = ta.piiCounts(col("__txt"))
    t(s, dir, "documents")
      .select(col("source"), planted.as("__txt"))
      .select(col("source"), emails.as("__e"), phones.as("__p"),
        length(ta.redactPii(col("__txt"))).cast("long").as("__len"))
      .groupBy("source")
      .agg(sum(col("__e").cast("long")).as("n_emails"),
        sum(col("__p").cast("long")).as("n_phones"),
        sum(col("__len")).as("red_chars"))
  }

  val q47Sql: String =
    """WITH planted AS (
      |  SELECT source, text ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN ' contact u' || CAST(doc_id AS VARCHAR)
      |        || '@mail.example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |      THEN ' or call (555) 010-'
      |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END AS txt
      |  FROM documents),
      |red AS (
      |  SELECT source,
      |    len(regexp_extract_all(txt,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}'
      |      )) AS n_e,
      |    len(regexp_extract_all(txt,
      |      '(\+?1[ .-])?(\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}'
      |      )) AS n_p,
      |    len(regexp_replace(regexp_replace(txt,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}',
      |      '<EMAIL>', 'g'),
      |      '(\+?1[ .-])?(\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}',
      |      '<PHONE>', 'g')) AS rlen
      |  FROM planted)
      |SELECT source, CAST(SUM(n_e) AS BIGINT) AS n_emails,
      |  CAST(SUM(n_p) AS BIGINT) AS n_phones,
      |  CAST(SUM(rlen) AS BIGINT) AS red_chars
      |FROM red GROUP BY source""".stripMargin

  /** The full corpus-prep composition ([[graft.operators.CorpusPipeline]]):
    * exact dedup → quality gate → per-source cap → deterministic split,
    * over a corpus with PLANTED exact duplicates (docs ≡0 mod 7 re-appear
    * under a high id) so the dedup stage provably binds — if it did not,
    * the counts, the cap ordering and the split assignment of the planted
    * copies would all diverge from the oracle. One hash check covers the
    * whole chain composing. */
  val q48CorpusPipeline: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val copies = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    graft.operators.CorpusPipeline.prepare(docs.unionByName(copies))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        min("doc_id").as("min_doc_id"))
  }

  val q48Sql: String = {
    val stops = graft.operators.TextAnalysis.EnglishStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text, source, n_chars FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text, source, n_chars
       |  FROM documents WHERE doc_id % 7 = 0),
       |fp AS (
       |  SELECT doc_id, text, source, n_chars,
       |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
       |  FROM corpus),
       |dd AS (
       |  SELECT doc_id, text, source, n_chars FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id)
       |      AS rn FROM fp) WHERE rn = 1),
       |q AS (
       |  SELECT doc_id, text, source, n_chars FROM dd
       |  WHERE len(list_filter(string_split_regex(text, '\\s+'),
       |      x -> len(x) > 0)) >= 25
       |    AND CASE WHEN len(list_filter(string_split_regex(lower(text),
       |        '\\s+'), x -> len(x) > 0)) > 0 THEN ROUND(
       |      len(list_filter(string_split_regex(lower(text), '\\s+'),
       |          x -> x IN ($stops)))::DOUBLE
       |        / len(list_filter(string_split_regex(lower(text), '\\s+'),
       |            x -> len(x) > 0)), 4) ELSE 0.0 END >= 0.02),
       |cap AS (
       |  SELECT doc_id, source, n_chars FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY length(text) DESC, doc_id) AS cr FROM q)
       |  WHERE cr <= 15),
       |sp AS (
       |  SELECT source, n_chars, doc_id,
       |    CASE WHEN b < 800000 THEN 'train'
       |         WHEN b < 900000 THEN 'val' ELSE 'test' END AS split
       |  FROM (
       |    SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':v1'),
       |      1, 15))::BIGINT % 1000000 AS b FROM cap))
       |SELECT split, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  MIN(doc_id) AS min_doc_id
       |FROM sp GROUP BY split, source""".stripMargin
  }

  /** Int8-quantized cosine top-5 ([[graft.operators.Similarity.quantizedTopK]]).
    * Quantization uses floor(x·127/max|x| + 0.5) — stated VERBATIM in
    * both engines (`Math.round`/SQL `round` disagree on .5 ties) — and
    * cosine over quantized vectors is exact integer arithmetic until
    * the final division, so the approximate path is hash-checked
    * end-to-end like q43, not recall-probed like q28. */
  val q49QuantizedKnn: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.quantizedTopK(emb, queries, k = 5)
  }

  /** Quantization CTE fragment shared by q49 (flat quantized knn) and
    * q50 (IVF over the quantized corpus) — one statement of the
    * floor(x·127/max|x| + 0.5) arithmetic, so the two oracles cannot
    * drift from each other or from [[graft.functions.VectorExpressions.QuantizeInt8]]. */
  private val quantizeCtes: String =
    """s1 AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |    list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS s
      |  FROM embeddings),
      |qz AS (
      |  SELECT vec_id,
      |    CASE WHEN s > 0 THEN
      |      list_transform(e, x -> CAST(floor(x * 127.0 / s + 0.5) AS INT))
      |    ELSE list_transform(e, x -> 0) END AS q
      |  FROM s1)""".stripMargin

  val q49Sql: String =
    s"""WITH $quantizeCtes
      |SELECT query_id, rank, vec_id, cosine FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id,
      |    ROUND(list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]), 4)
      |      AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
      |      ROUND(list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]), 4)
      |        DESC, b.vec_id) AS rank
      |  FROM qz a, qz b WHERE a.vec_id < 3)
      |WHERE rank <= 5""".stripMargin

  /** IVF-SQ8: the [[q43IvfTopk]] cell-partitioned layout over the
    * [[q49QuantizedKnn]] int8 corpus — quantize ONCE at write time, then
    * both the coarse quantizer (centroid assignment) and the cell scans
    * run on 4×-smaller exact-integer vectors. This is the classic
    * at-scale ANN shape (FAISS IVF-SQ8, public knowledge); here the
    * whole thing — quantization, assignment, probe ranking, top-k — is
    * hash-replayed by DuckDB. */
  val q50IvfSq8: Q = (s, dir) => {
    val qz = t(s, dir, "embeddings").select(col("vec_id"),
      graft.functions.VectorExpressions.quantizeInt8(col("embedding"))
        .cast("array<float>").as("embedding"))
    val queries = qz.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.ivfTopK(qz, queries, k = 5,
      numCells = 16, nprobe = 4)
  }

  val q50Sql: String =
    s"""WITH $quantizeCtes,
      |cent AS (
      |  SELECT vec_id AS cell, q AS cvec FROM qz ORDER BY vec_id LIMIT 16),
      |scored AS (
      |  SELECT e.vec_id, e.q, c.cell,
      |    ROUND(list_cosine_similarity(e.q::DOUBLE[],
      |      c.cvec::DOUBLE[]), 4) AS cos
      |  FROM qz e CROSS JOIN cent c),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cell) AS rn
      |  FROM scored),
      |asg AS (SELECT vec_id, q, cell FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, q AS qvec, cell
      |  FROM ranked WHERE vec_id < 3 AND rn <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id,
      |    ROUND(list_cosine_similarity(p.qvec::DOUBLE[],
      |      a.q::DOUBLE[]), 4) AS cosine
      |  FROM probes p JOIN asg a ON a.cell = p.cell)
      |SELECT query_id, rank, vec_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, vec_id) AS rank
      |  FROM cand)
      |WHERE rank <= 5""".stripMargin

  /** Per-document repetition fractions
    * ([[graft.operators.TextAnalysis.repetitionStats]]): top-bigram share
    * and duplicated-trigram share — the Gopher-style repetition gates a
    * quality pipeline runs. Integer-count ratios rounded at 4dp, so the
    * whole operator hash-replays. */
  val q51Repetition: Q = (s, dir) =>
    graft.operators.TextAnalysis.repetitionStats(
      t(s, dir, "documents").repartition(col("doc_id")), "doc_id",
      col("text"))

  val q51Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS g
      |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |bcnt AS (SELECT doc_id, g, COUNT(*) AS c FROM b GROUP BY doc_id, g),
      |bstats AS (
      |  SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 4) AS top2
      |  FROM bcnt GROUP BY doc_id),
      |tg AS (
      |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
      |    || ' ' || t[CAST(i AS INT) + 2] AS g
      |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
      |tcnt AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g),
      |tstats AS (
      |  SELECT doc_id,
      |    ROUND(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0)::DOUBLE
      |      / SUM(c), 4) AS dup3
      |  FROM tcnt GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(b.top2, 0.0) AS top_bigram_frac,
      |  COALESCE(ts.dup3, 0.0) AS dup_trigram_frac
      |FROM documents d
      |LEFT JOIN bstats b ON b.doc_id = d.doc_id
      |LEFT JOIN tstats ts ON ts.doc_id = d.doc_id""".stripMargin

  /** Document chunking ([[graft.operators.TextAnalysis.chunkTokens]]):
    * 40-token windows, 10-token overlap. The oracle replays the window
    * arithmetic and hashes each chunk's joined text, so boundaries are
    * verified to the token. */
  val q52Chunking: Q = (s, dir) =>
    graft.operators.TextAnalysis.chunkTokens(
      t(s, dir, "documents").repartition(col("doc_id")), "doc_id",
      col("text"), maxTokens = 40, overlap = 10)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_hash"))

  val q52Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, t, len(t) AS m,
      |    greatest((len(t) - 10 + 29) // 30, 1) AS nc
      |  FROM toks),
      |c AS (
      |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |    list_slice(t, CAST(i * 30 + 1 AS INT),
      |      CAST(least(i * 30 + 40, m) AS INT)) AS ch
      |  FROM n, unnest(range(0, nc)) AS u(i))
      |SELECT doc_id, chunk_idx, CAST(len(ch) AS INT) AS n_tokens,
      |  md5(array_to_string(ch, ' ')) AS chunk_hash
      |FROM c""".stripMargin

  /** Sequence packing ([[graft.operators.TextAnalysis.packSequences]]):
    * per-source concat-and-cut into 256-token training sequences.
    * Deterministic layout → the oracle replays the window prefix sums
    * and interval overlaps exactly. */
  val q53Packing: Q = (s, dir) =>
    graft.operators.TextAnalysis.packSequences(
      t(s, dir, "documents"), "source", "doc_id", col("text"),
      capacity = 256)

  val q53Sql: String =
    """WITH n AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      x -> len(x) > 0)) AS BIGINT) AS nt
      |  FROM documents),
      |pos AS (
      |  SELECT source, doc_id, nt,
      |    CAST(COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS st
      |  FROM n WHERE nt > 0),
      |sp AS (
      |  SELECT source, nt, st, CAST(i AS BIGINT) AS seq_id
      |  FROM pos, unnest(range(st // 256, (st + nt - 1) // 256 + 1)) AS u(i))
      |SELECT source, seq_id, COUNT(*) AS n_docs,
      |  CAST(SUM(least(st + nt, (seq_id + 1) * 256)
      |    - greatest(st, seq_id * 256)) AS BIGINT) AS n_tokens
      |FROM sp GROUP BY source, seq_id""".stripMargin

  /** Benchmark decontamination
    * ([[graft.operators.Dedup.contaminationFlags]]): a synthetic eval
    * set is EXCERPTED from the corpus (docs ≡0 mod 11 contribute tokens
    * 6..25 under shifted ids), so the source doc of every excerpt — plus
    * any near-dup of it — provably shares word 8-grams and must be
    * flagged. Oracle replays tokenization, gram hashing and the distinct
    * hit count. */
  val q54Decontam: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat_ws(" ",
          slice(graft.operators.TextAnalysis.tokens(col("text")), 6, 20))
          .as("text"))
    graft.operators.Dedup.contaminationFlags(
      docs.repartition(col("doc_id")), bench, "doc_id", col("text"), n = 8)
  }

  val q54Sql: String =
    """WITH bench AS (
      |  SELECT doc_id + 9000000 AS doc_id,
      |    array_to_string(list_slice(list_filter(
      |      string_split_regex(text, '\s+'), x -> len(x) > 0), 6, 25), ' ')
      |      AS text
      |  FROM documents WHERE doc_id % 11 = 0),
      |bt AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM bench),
      |bg AS (
      |  SELECT DISTINCT md5(array_to_string(
      |    list_slice(t, CAST(i AS INT), CAST(i AS INT) + 7), ' ')) AS g
      |  FROM bt, unnest(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8),
      |ct AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM documents),
      |cg AS (
      |  SELECT doc_id, md5(array_to_string(
      |    list_slice(t, CAST(i AS INT), CAST(i AS INT) + 7), ' ')) AS g
      |  FROM ct, unnest(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8)
      |SELECT cg.doc_id, COUNT(DISTINCT cg.g) AS n_hits
      |FROM cg JOIN bg ON bg.g = cg.g
      |GROUP BY cg.doc_id""".stripMargin

  /** Mixture balancing ([[graft.operators.Sampling.balanceMixture]]):
    * every source downsampled toward the smallest source's size with a
    * hash-stable, engine-independent integer cutoff; reported per
    * (source, lang) so the oracle checks the exact kept SET, not just
    * sizes. */
  val q55Balance: Q = (s, dir) =>
    graft.operators.Sampling.balanceMixture(
      t(s, dir, "documents"), col("source"), col("doc_id"), "mix1")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_ids"))

  val q55Sql: String =
    """WITH cnt AS (
      |  SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
      |cut AS (
      |  SELECT source, (SELECT MIN(c) FROM cnt) * 1000000 // c AS cu
      |  FROM cnt),
      |kept AS (
      |  SELECT d.source, d.lang, d.doc_id
      |  FROM documents d JOIN cut ON cut.source = d.source
      |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix1'),
      |    1, 15))::BIGINT % 1000000 < cu)
      |SELECT source, lang, COUNT(*) AS n_kept,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM kept GROUP BY source, lang""".stripMargin

  /** Bloom-pruned join ([[graft.operators.BloomJoin.prunedInnerJoin]]):
    * a runtime filter built from the selective customer slice prunes the
    * orders scan before its shuffle. A Bloom filter has no false
    * negatives, so the result is EXACTLY the plain join — which is what
    * the oracle replays. */
  val q57BloomJoin: Q = (s, dir) => {
    val richCustomers = t(s, dir, "customer")
      .filter(col("c_acctbal") > 9500)
      .select("c_custkey")
    graft.operators.BloomJoin.prunedInnerJoin(
      t(s, dir, "orders"), richCustomers,
      probeKey = "o_custkey", buildKey = "c_custkey",
      expectedKeys = 1L << 16)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
  }

  val q57Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  ROUND(SUM(o_totalprice), 2) AS revenue
      |FROM orders o
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |WHERE c.c_acctbal > 9500
      |GROUP BY o_orderpriority""".stripMargin

  /** TF-IDF keyword extraction
    * ([[graft.operators.TextAnalysis.tfIdfTopTerms]]): top-3 terms per
    * document under smooth idf. Rank compares the ROUNDED score (ties →
    * term asc) so the top-k set is engine-reproducible; the oracle replays
    * tf, df, ln and the window verbatim. */
  val q58TfIdf: Q = (s, dir) =>
    graft.operators.TextAnalysis.tfIdfTopTerms(
      t(s, dir, "documents").repartition(col("doc_id")), "doc_id",
      col("text"), k = 3)

  val q58Sql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
      |  GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |    ROUND(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 4) AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |SELECT doc_id, rank, term, tf, tfidf FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term) AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin

  /** Self-trained bigram-LM quality scores
    * ([[graft.operators.TextAnalysis.bigramLmScores]]): add-one smoothed
    * avg log-probability per document — the cheap perplexity gate. The
    * oracle replays the counts, the smoothing arithmetic and ln; the avg
    * is rounded at 4dp on both sides. */
  val q59BigramLm: Q = (s, dir) =>
    graft.operators.TextAnalysis.bigramLmScores(
      t(s, dir, "documents").repartition(col("doc_id")), "doc_id",
      col("text"))

  val q59Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM (
      |  SELECT unnest(t) AS term FROM toks)),
      |scored AS (
      |  SELECT bg.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS lp
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 4) AS avg_logp
      |FROM scored GROUP BY doc_id""".stripMargin

  /** Exact frequent trigrams via CM-sketch prefilter + exact rescan
    * ([[graft.operators.TextAnalysis.frequentNgrams]]). The sketch can
    * only over-count, so the prefilter provably keeps every truly
    * frequent gram — the result is the exact HAVING query, which is what
    * the oracle replays. */
  val q60FrequentNgrams: Q = (s, dir) =>
    graft.operators.TextAnalysis.frequentNgrams(
      t(s, dir, "documents"), col("text"), n = 3, minCount = 5)

  val q60Sql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |tg AS (
      |  SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
      |    || ' ' || t[CAST(i AS INT) + 2] AS gram
      |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3)
      |SELECT gram, COUNT(*) AS n_occurrences
      |FROM tg GROUP BY gram HAVING COUNT(*) >= 5""".stripMargin

  /** Greedy next-fit-decreasing packing
    * ([[graft.operators.TextAnalysis.packGreedy]]): whole documents into
    * 256-token bins, longest-first per source. The layout is a sequential
    * walk, so the oracle replays it row-by-row with a recursive CTE —
    * every bin assignment verified, not just bin counts. */
  val q61PackGreedy: Q = (s, dir) =>
    graft.operators.TextAnalysis.packGreedy(
      t(s, dir, "documents"), "source", "doc_id", col("text"),
      capacity = 256)
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))

  val q61Sql: String =
    """WITH RECURSIVE n AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      x -> len(x) > 0)) AS BIGINT) AS nt
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, nt,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY nt DESC, doc_id) AS rn
      |  FROM n WHERE nt > 0),
      |walk(source, rn, doc_id, nt, bin, fill) AS (
      |  SELECT source, rn, doc_id, nt, CAST(0 AS BIGINT), nt
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.source, r.rn, r.doc_id, r.nt,
      |    CASE WHEN w.fill + r.nt <= 256 THEN w.bin ELSE w.bin + 1 END,
      |    CASE WHEN w.fill + r.nt <= 256 THEN w.fill + r.nt ELSE r.nt END
      |  FROM walk w JOIN r ON r.source = w.source AND r.rn = w.rn + 1)
      |SELECT source, bin, COUNT(*) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS n_tokens
      |FROM walk GROUP BY source, bin""".stripMargin

  /** Product-quantization ADC top-5 ([[graft.operators.Similarity.pqTopK]]):
    * 8 subspaces × 16 codes, deterministic codebook (lowest-id vectors),
    * max-inner-product assignment on 4dp-rounded dots. The oracle replays
    * the whole pipeline — codebook slicing, code assignment, ADC lookup
    * sums, ranking. */
  val q62PqAdc: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    graft.operators.Similarity.pqTopK(
      emb, emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k = 5)
  }

  val q62Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |base AS (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT 16),
      |cb AS (
      |  SELECT CAST(j AS INT) AS j,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1
      |      AS INT) AS code,
      |    list_slice(e, j * 8 + 1, j * 8 + 8) AS cvec
      |  FROM base, unnest(range(0, 8)) AS u(j)),
      |subs AS (
      |  SELECT vec_id, CAST(j AS INT) AS j,
      |    list_slice(e, j * 8 + 1, j * 8 + 8) AS sub
      |  FROM e, unnest(range(0, 8)) AS u(j)),
      |assign AS (
      |  SELECT s.vec_id, s.j, cb.code,
      |    ROUND(list_dot_product(s.sub, cb.cvec), 4) AS d
      |  FROM subs s JOIN cb ON cb.j = s.j),
      |codes AS (
      |  SELECT vec_id, j, code FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
      |      ORDER BY d DESC, code) AS rn
      |    FROM assign) WHERE rn = 1),
      |qsubs AS (
      |  SELECT vec_id AS query_id, j, sub FROM subs WHERE vec_id < 3),
      |adc AS (
      |  SELECT qs.query_id, c.vec_id,
      |    ROUND(SUM(list_dot_product(qs.sub, cb.cvec)), 4) AS score_adc
      |  FROM codes c
      |  JOIN cb ON cb.j = c.j AND cb.code = c.code
      |  JOIN qsubs qs ON qs.j = c.j
      |  GROUP BY qs.query_id, c.vec_id)
      |SELECT query_id, rank, vec_id, score_adc FROM (
      |  SELECT query_id, vec_id, score_adc,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_adc DESC, vec_id) AS rank
      |  FROM adc) WHERE rank <= 5""".stripMargin

  /** Incremental dedup of a synthetic new crawl against the corpus
    * ([[graft.operators.Dedup.dedupAgainstCorpus]]). The incoming batch
    * is DERIVED so every category is provable: docs ≡0 mod 10 are exact
    * copies (must drop at the fingerprint gate), ≡1 are tail excerpts
    * (share word 8-grams → drop at the near-dup gate when long enough),
    * ≡2 are token-reversed (novel n-grams → survive). The oracle replays
    * the derivation, both gates and the anti-joins. */
  val q63IncrementalDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) < 3)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0, col("text"))
          .when(pmod(col("doc_id"), lit(10)) === 1,
            concat_ws(" ", slice(toks, 6, 1000000)))
          .otherwise(concat_ws(" ", reverse(toks))).as("text"))
    graft.operators.Dedup.dedupAgainstCorpus(
      incoming, docs, "doc_id", col("text"), n = 8, minHits = 1)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
  }

  val q63Sql: String =
    """WITH toks0 AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |inc AS (
      |  SELECT doc_id + 10000000 AS doc_id,
      |    CASE WHEN doc_id % 10 = 0 THEN text
      |         WHEN doc_id % 10 = 1 THEN
      |           array_to_string(list_slice(t, 6, len(t)), ' ')
      |         ELSE array_to_string(list_reverse(t), ' ') END AS text
      |  FROM toks0 WHERE doc_id % 10 < 3),
      |fpold AS (
      |  SELECT DISTINCT
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |s1 AS (
      |  SELECT i.* FROM inc i LEFT JOIN fpold f
      |  ON f.fp = md5(regexp_replace(trim(lower(i.text)), '\s+', ' ', 'g'))
      |  WHERE f.fp IS NULL),
      |it AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM s1),
      |ig AS (
      |  SELECT doc_id, md5(array_to_string(
      |    list_slice(t, CAST(i AS INT), CAST(i AS INT) + 7), ' ')) AS g
      |  FROM it, unnest(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8),
      |ot AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |og AS (
      |  SELECT DISTINCT md5(array_to_string(
      |    list_slice(t, CAST(i AS INT), CAST(i AS INT) + 7), ' ')) AS g
      |  FROM ot, unnest(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8),
      |hit AS (SELECT DISTINCT ig.doc_id FROM ig JOIN og ON og.g = ig.g)
      |SELECT s1.doc_id, md5(s1.text) AS text_hash
      |FROM s1 LEFT JOIN hit h ON h.doc_id = s1.doc_id
      |WHERE h.doc_id IS NULL""".stripMargin

  /** Pivot: the source × lang mixture-composition matrix. The pivot
    * value list is FIXED (not data-inferred) so column order and schema
    * are deterministic at any scale — Spark's inferring form runs an
    * extra distinct job and caps at
    * `spark.sql.pivotMaxValues`. Oracle = conditional aggregation. */
  val q64Pivot: Q = (s, dir) => {
    val langs = Seq("de", "en", "es", "fr", "zh")
    t(s, dir, "documents")
      .groupBy("source")
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .na.fill(0L, langs)
  }

  val q64Sql: String =
    """SELECT source,
      |  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
      |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
      |  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
      |  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
      |  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
      |FROM documents GROUP BY source""".stripMargin

  /** CUBE over (source, lang): every aggregation granularity in one
    * pass (the full matrix, both margins, the grand total), grouping
    * ids disambiguating NULL-as-ALL from NULL-as-value — the companion
    * to q35's ROLLUP completing the grouping-sets family. */
  val q65Cube: Q = (s, dir) =>
    t(s, dir, "documents")
      .cube("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        grouping_id().as("gid"))

  val q65Sql: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid
      |FROM documents GROUP BY CUBE (source, lang)""".stripMargin

  /** Outer joins: customers with and without orders in one pass (LEFT
    * OUTER + null-bucket aggregation) — the reporting shape where the
    * missing side carries meaning. Null join keys on the right stay
    * unmatched, exactly as SQL specifies. */
  val q66OuterJoin: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_outer")
      .groupBy("c_mktsegment")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        count_distinct(when(col("o_orderkey").isNull, col("c_custkey")))
          .as("n_idle_customers"),
        round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("revenue"))
  }

  val q66Sql: String =
    """SELECT c_mktsegment,
      |  COUNT(o_orderkey) AS n_orders,
      |  COUNT(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END)
      |    AS n_idle_customers,
      |  ROUND(SUM(COALESCE(o_totalprice, 0.0)), 2) AS revenue
      |FROM customer c LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Set operations: INTERSECT and EXCEPT between the customer
    * nation-segments that place urgent vs low-priority orders —
    * completing the q14 UNION family. Both are distinct-set semantics
    * (Spark `intersect`/`except` ≡ SQL INTERSECT/EXCEPT). */
  val q67SetOps: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    def segs(prio: String) = ord.filter(col("o_orderpriority") === prio)
      .join(cust, cust("c_custkey") === ord("o_custkey"))
      .select("c_nationkey", "c_mktsegment")
    val urgent = segs("1-URGENT")
    val low = segs("5-LOW")
    urgent.intersect(low).withColumn("op", lit("both"))
      .unionByName(urgent.except(low).withColumn("op", lit("urgent_only")))
      .groupBy("op")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c_nationkey").cast("long")).as("sum_nations"))
  }

  val q67Sql: String =
    """WITH urgent AS (
      |  SELECT DISTINCT c_nationkey, c_mktsegment
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE o_orderpriority = '1-URGENT'),
      |low AS (
      |  SELECT DISTINCT c_nationkey, c_mktsegment
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE o_orderpriority = '5-LOW'),
      |tagged AS (
      |  SELECT *, 'both' AS op FROM (
      |    SELECT * FROM urgent INTERSECT SELECT * FROM low)
      |  UNION ALL
      |  SELECT *, 'urgent_only' AS op FROM (
      |    SELECT * FROM urgent EXCEPT SELECT * FROM low))
      |SELECT op, COUNT(*) AS n_pairs,
      |  CAST(SUM(c_nationkey) AS BIGINT) AS sum_nations
      |FROM tagged GROUP BY op""".stripMargin

  /** Deterministic k-means (Lloyd, k=8, 2 update rounds) over the int8-
    * quantized embeddings — the coarse-quantizer trainer behind IVF.
    * Centroids are INTEGER sum vectors (cosine is scale-invariant, so
    * sum ≡ mean as a direction): every dot/norm term is an exact integer
    * in both engines, which is what lets a SQL oracle replay an
    * ITERATIVE float algorithm bit-for-bit — assignment compares
    * 4dp-rounded cosines, ties to the lowest cluster, seeds = the 8
    * lowest vec_ids, empty clusters keep their previous sum. The oracle
    * unrolls both update rounds as CTEs. */
  val q68Kmeans: Q = (s, dir) =>
    graft.operators.Clustering.kmeans(t(s, dir, "embeddings"), k = 8,
      iters = 2)

  /** The q68 k-means replay (2 Lloyd rounds over int8-quantized
    * embeddings, k=8) as a WITH-chain ending in `final(vec_id, q, cl,
    * cos)` — shared by q68 and the selection queries built on the same
    * clustering (q104). */
  private def kmeansReplayWith: String = {
    def assign(src: String, cents: String): String =
      s"""  SELECT vec_id, q, cl, cos FROM (
         |    SELECT z.vec_id, z.q, c.cl,
         |      ROUND(list_cosine_similarity(z.q, c.s), 4) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY z.vec_id ORDER BY
         |        ROUND(list_cosine_similarity(z.q, c.s), 4) DESC, c.cl) AS rk
         |    FROM $src z CROSS JOIN $cents c) WHERE rk = 1""".stripMargin
    def update(assigned: String, prev: String, sums: String): String =
      s"""$sums AS (
         |  SELECT cl, LIST(v ORDER BY i) AS s FROM (
         |    SELECT a.cl, r.i, SUM(a.q[r.i]) AS v
         |    FROM $assigned a, range(1, 65) r(i) GROUP BY a.cl, r.i)
         |  GROUP BY cl)""".stripMargin
    s"""WITH qz AS (
       |  SELECT vec_id,
       |    CASE WHEN s > 0 THEN
       |      list_transform(e, x -> CAST(floor(x*127.0/s + 0.5) AS DOUBLE))
       |    ELSE list_transform(e, x -> 0.0) END AS q
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
       |          list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS s
       |        FROM embeddings)),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
       |    q AS s
       |  FROM qz ORDER BY vec_id LIMIT 8),
       |a1 AS (
       |${assign("qz", "c0")}),
       |${update("a1", "c0", "s1")},
       |c1 AS (SELECT p.cl, COALESCE(n.s, p.s) AS s
       |       FROM c0 p LEFT JOIN s1 n USING (cl)),
       |a2 AS (
       |${assign("qz", "c1")}),
       |${update("a2", "c1", "s2")},
       |c2 AS (SELECT p.cl, COALESCE(n.s, p.s) AS s
       |       FROM c1 p LEFT JOIN s2 n USING (cl)),
       |final AS (
       |${assign("qz", "c2")})""".stripMargin
  }

  val q68Sql: String = kmeansReplayWith +
    "\nSELECT vec_id, CAST(cl AS INT) AS cluster, cos FROM final"

  /** Edit-distance similarity self-join (fuzzy matching / record
    * linkage): all customer-name pairs within Levenshtein distance 1,
    * via the q-gram prefix-filtered pipeline — rare-gram candidate
    * generation, length filter, threshold-bounded DP verify. The oracle
    * runs the full quadratic join, proving the prefix filter lossless.
    * Customer names differ only in digit positions, so ubiquitous grams
    * ("Cu", "us", "00", …) are exactly what the rarest-gram prefix must
    * route around — the adversarial case for an inverted-index join. */
  val q69EditJoin: Q = (s, dir) =>
    graft.operators.StringSimilarity.editDistanceJoin(
      t(s, dir, "customer"), "c_custkey", "c_name", maxDist = 1, q = 4)

  val q69Sql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
      |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  /** BM25 top-5 retrieval ([[graft.operators.Retrieval.bm25TopK]]) for a
    * fixed query set over the documents corpus: the full sparse-lexical
    * ranking pipeline (tf, df, length norm, idf) with scores rounded 4dp
    * and ties to the lowest doc id. The oracle replays every aggregate
    * and the ln arithmetic. */
  val q70Bm25: Q = (s, dir) => {
    import s.implicits._
    val queries = Seq(
      (1L, "table hash join value"),
      (2L, "spark window agg batch"),
      (3L, "fast slow row scan")).toDF("query_id", "query_text")
    graft.operators.Retrieval.bm25TopK(
      t(s, dir, "documents"), queries, k = 5)
  }

  val q70Sql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |    (CAST(1 AS BIGINT), 'table hash join value'),
      |    (CAST(2 AS BIGINT), 'spark window agg batch'),
      |    (CAST(3 AS BIGINT), 'fast slow row scan')),
      |terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (
      |  SELECT doc_id, len(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS dl
      |  FROM documents),
      |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT query_id, unnest(list_filter(
      |    string_split_regex(lower(query_text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM q),
      |scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    ROUND(SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4)
      |      AS score
      |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
      |    JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1, 2)
      |SELECT query_id, rank, doc_id, score FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** Per-document duplicated-span exposure
    * ([[graft.operators.TextAnalysis.duplicatedSpanStats]]): the share
    * of each doc's word 8-grams that also occur in another document —
    * substring-level dedup pressure that document-level fingerprints
    * miss. The oracle replays grams by string identity (the operator
    * groups by their md5, an identical partition). */
  val q71DupSpans: Q = (s, dir) =>
    graft.operators.TextAnalysis.duplicatedSpanStats(
      t(s, dir, "documents"), "doc_id", col("text"), n = 8, minDocs = 2)

  val q71Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
      |  FROM toks WHERE len(t) >= 8),
      |grams AS (
      |  SELECT doc_id, list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
      |  FROM idx),
      |pg AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
      |shared AS (
      |  SELECT g FROM (
      |    SELECT g, COUNT(DISTINCT doc_id) AS d FROM grams GROUP BY g)
      |  WHERE d >= 2),
      |dup AS (
      |  SELECT doc_id, COUNT(*) AS n_dup FROM grams
      |  JOIN shared USING (g) GROUP BY 1)
      |SELECT pg.doc_id, pg.n_grams,
      |  COALESCE(dup.n_dup, 0) AS n_dup_grams,
      |  ROUND(COALESCE(dup.n_dup, 0) / pg.n_grams, 4) AS dup_ratio
      |FROM pg LEFT JOIN dup USING (doc_id)""".stripMargin

  /** Stratified deterministic sampling
    * ([[graft.operators.Sampling.stratifiedSample]]): per-language keep
    * fractions (en 50%, de 30%, zh 20%, default 10%) over the same
    * md5-bucket device as q45 — the sampleBy surface, hash-stable. */
  val q72Stratified: Q = (s, dir) =>
    graft.operators.Sampling.stratifiedSample(
      t(s, dir, "documents"), col("lang"), col("doc_id"),
      Map("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2), "mix1",
      defaultFraction = 0.1)
      .select("doc_id", "lang", "source")

  val q72Sql: String =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 15))
      |      ::BIGINT % 1000000 AS bucket
      |  FROM documents)
      |WHERE bucket < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 300000
      |  WHEN 'zh' THEN 200000 ELSE 100000 END""".stripMargin

  /** Per-row weighted Bernoulli sampling
    * ([[graft.operators.Sampling.weightedSample]]): keep probability
    * proportional to document length (n_chars/400, clamped at 1) — the
    * quality-weighted downsample. n_chars·2500 is integral, so the
    * cutoff arithmetic is exact on both engines. */
  val q73Weighted: Q = (s, dir) =>
    graft.operators.Sampling.weightedSample(
      t(s, dir, "documents"), col("doc_id"),
      least(lit(1.0), col("n_chars") / lit(400.0)), "w1")
      .select("doc_id", "n_chars")

  val q73Sql: String =
    """SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':w1'), 1, 15))
      |      ::BIGINT % 1000000 AS bucket
      |  FROM documents)
      |WHERE bucket < ROUND(LEAST(1.0, n_chars / 400.0) * 1000000)""".stripMargin

  /** Duplicated-span REMOVAL
    * ([[graft.operators.TextAnalysis.stripDuplicatedSpans]]): rewrite
    * every document dropping tokens covered by a cross-document word
    * 8-gram — q71's stats turned into the remediation action. The
    * oracle rebuilds each cleaned text with string_agg over kept
    * positions; the full rewritten strings are hash-compared. */
  val q74StripSpans: Q = (s, dir) =>
    graft.operators.TextAnalysis.stripDuplicatedSpans(
      t(s, dir, "documents"), "doc_id", col("text"), n = 8, minDocs = 2)

  val q74Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
      |  FROM toks WHERE len(t) >= 8),
      |grams AS (
      |  SELECT doc_id, i,
      |    lower(list_aggregate(t[i:i+7], 'string_agg', ' ')) AS g
      |  FROM idx),
      |shared AS (
      |  SELECT g FROM (
      |    SELECT g, COUNT(DISTINCT doc_id) AS d FROM grams GROUP BY g)
      |  WHERE d >= 2),
      |covered AS (
      |  SELECT DISTINCT gr.doc_id, u.j
      |  FROM (SELECT grams.* FROM grams JOIN shared USING (g)) gr,
      |    unnest(range(gr.i, gr.i + 8)) AS u(j)),
      |tok AS (
      |  SELECT doc_id, t[i] AS tok, i
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
      |kept AS (
      |  SELECT tok.doc_id, COUNT(*) AS n_kept,
      |    string_agg(tok.tok, ' ' ORDER BY tok.i) AS clean_text
      |  FROM tok LEFT JOIN covered
      |    ON tok.doc_id = covered.doc_id AND tok.i = covered.j
      |  WHERE covered.j IS NULL
      |  GROUP BY tok.doc_id)
      |SELECT toks.doc_id, len(toks.t) AS n_tokens,
      |  COALESCE(kept.n_kept, 0) AS n_kept,
      |  COALESCE(kept.clean_text, '') AS clean_text
      |FROM toks LEFT JOIN kept USING (doc_id)""".stripMargin

  /** Deterministic epoch shuffle ([[graft.operators.Sampling.epochKey]]):
    * the first 10 documents of epochs 1 and 2's training order — two
    * distributed TakeOrdered plans, no global window. The oracle replays
    * the md5-bucket key and the (key, id) sort. */
  val q75EpochOrder: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    def head(e: Int) = docs
      .select(lit(e).as("epoch"), col("doc_id"),
        graft.operators.Sampling.epochKey(col("doc_id"), e, "ord")
          .as("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))
      .limit(10)
    head(1).unionByName(head(2))
  }

  val q75Sql: String =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ord:e1'), 1, 15))
      |      ::BIGINT % 1000000 AS k1,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ord:e2'), 1, 15))
      |      ::BIGINT % 1000000 AS k2
      |  FROM documents)
      |SELECT * FROM (
      |  SELECT 1 AS epoch, doc_id, k1 AS shuffle_key FROM keyed
      |  ORDER BY k1, doc_id LIMIT 10)
      |UNION ALL
      |SELECT * FROM (
      |  SELECT 2 AS epoch, doc_id, k2 AS shuffle_key FROM keyed
      |  ORDER BY k2, doc_id LIMIT 10)""".stripMargin

  /** Content-defined chunking
    * ([[graft.operators.TextAnalysis.cdcChunks]]): rolling-hash chunk
    * boundaries (trailing-4-token md5 bucket of 16) over every document
    * — the edit-resilient chunking that makes chunk-level dedup land.
    * The oracle replays boundary detection, the running chunk index,
    * and every chunk fingerprint. */
  val q76CdcChunks: Q = (s, dir) =>
    graft.operators.TextAnalysis.cdcChunks(
      t(s, dir, "documents"), "doc_id", col("text"), w = 4, avgTokens = 16)

  val q76Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j
      |  FROM toks WHERE len(t) >= 1),
      |marked AS (
      |  SELECT doc_id, j, t[j] AS tok,
      |    CASE WHEN j >= 4 AND
      |      ('0x' || substr(md5(
      |        list_aggregate(t[j-3:j], 'string_agg', ' ')), 1, 15))
      |        ::BIGINT % 16 = 0
      |    THEN 1 ELSE 0 END AS b
      |  FROM tok),
      |ch AS (
      |  SELECT doc_id, j, tok,
      |    CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY j
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS chunk_idx
      |  FROM marked)
      |SELECT doc_id, chunk_idx, COUNT(*) AS n_tokens,
      |  md5(string_agg(tok, ' ' ORDER BY j)) AS chunk_fp
      |FROM ch GROUP BY 1, 2""".stripMargin

  /** Semantic dedup ([[graft.operators.Dedup.semanticDedup]]): the
    * SemDeDup composition — deterministic k-means blocking, within-
    * cluster quantized-cosine pairs, connected components, lowest-id
    * canonical. The oracle replays BOTH Lloyd rounds (q68's CTEs), the
    * blocked pair join, and the component closure recursively — the
    * deepest end-to-end replay in the battery alongside q48. */
  val q77SemanticDedup: Q = (s, dir) =>
    graft.operators.Dedup.semanticDedup(
      t(s, dir, "embeddings"), k = 8, iters = 2, threshold = 0.45)

  val q77Sql: String = {
    def assign(src: String, cents: String): String =
      s"""  SELECT vec_id, q, cl, cos FROM (
         |    SELECT z.vec_id, z.q, c.cl,
         |      ROUND(list_cosine_similarity(z.q, c.s), 4) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY z.vec_id ORDER BY
         |        ROUND(list_cosine_similarity(z.q, c.s), 4) DESC, c.cl) AS rk
         |    FROM $src z CROSS JOIN $cents c) WHERE rk = 1""".stripMargin
    def update(assigned: String, sums: String): String =
      s"""$sums AS (
         |  SELECT cl, LIST(v ORDER BY i) AS s FROM (
         |    SELECT a.cl, r.i, SUM(a.q[r.i]) AS v
         |    FROM $assigned a, range(1, 65) r(i) GROUP BY a.cl, r.i)
         |  GROUP BY cl)""".stripMargin
    s"""WITH RECURSIVE qz AS (
       |  SELECT vec_id,
       |    CASE WHEN s > 0 THEN
       |      list_transform(e, x -> CAST(floor(x*127.0/s + 0.5) AS DOUBLE))
       |    ELSE list_transform(e, x -> 0.0) END AS q
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
       |          list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS s
       |        FROM embeddings)),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
       |    q AS s
       |  FROM qz ORDER BY vec_id LIMIT 8),
       |a1 AS (
       |${assign("qz", "c0")}),
       |${update("a1", "s1")},
       |c1 AS (SELECT p.cl, COALESCE(n.s, p.s) AS s
       |       FROM c0 p LEFT JOIN s1 n USING (cl)),
       |a2 AS (
       |${assign("qz", "c1")}),
       |${update("a2", "s2")},
       |c2 AS (SELECT p.cl, COALESCE(n.s, p.s) AS s
       |       FROM c1 p LEFT JOIN s2 n USING (cl)),
       |final AS (
       |${assign("qz", "c2")}),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM final a JOIN final b ON a.cl = b.cl AND a.vec_id < b.vec_id
       |  WHERE ROUND(list_cosine_similarity(a.q, b.q), 4) >= 0.45),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |cc AS (SELECT id AS vec_id, MIN(r) AS component FROM reach GROUP BY id)
       |SELECT cc.vec_id, CAST(f.cl AS INT) AS cluster, cc.component,
       |  CAST(cc.vec_id = cc.component AS INT) AS is_canonical
       |FROM cc JOIN final f ON f.vec_id = cc.vec_id""".stripMargin
  }

  /** Per-key percentile gating
    * ([[graft.operators.Sampling.percentileGate]]): each language keeps
    * only documents at or above its own 60th length percentile — the
    * dynamic-threshold filter that a global cutoff gets wrong for
    * low-resource keys. Oracle: quantile_cont per group (q36 proved the
    * estimator parity), rounded 4dp on both sides. */
  val q78PercentileGate: Q = (s, dir) =>
    graft.operators.Sampling.percentileGate(
      t(s, dir, "documents"), col("lang"), col("n_chars"), 0.6)
      .select("doc_id", "lang", "n_chars")

  val q78Sql: String =
    """WITH cuts AS (
      |  SELECT lang, ROUND(quantile_cont(n_chars, 0.6), 4) AS cut
      |  FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN cuts USING (lang)
      |WHERE d.n_chars >= cut""".stripMargin

  /** Per-source MinHash corpus sketches
    * ([[graft.operators.Dedup.groupMinHashSimilarity]]): pairwise
    * source-overlap estimates from k=16 portable md5 components — the
    * crawl-overlap / dataset-versioning monitor. Fully deterministic
    * integer arithmetic, so the oracle replays the ESTIMATE exactly,
    * not just a reference answer. */
  val q79SourceOverlap: Q = (s, dir) =>
    graft.operators.Dedup.groupMinHashSimilarity(
      t(s, dir, "documents"), col("source"), col("text"), k = 16)

  val q79Sql: String =
    """WITH fps AS (
      |  SELECT DISTINCT source AS k,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |comps AS (
      |  SELECT k, i,
      |    MIN(('0x' || substr(md5(fp || ':' || i), 1, 15))::BIGINT) AS m
      |  FROM fps, range(0, 16) r(i) GROUP BY k, i)
      |SELECT a.k AS key_a, b.k AS key_b,
      |  ROUND(AVG(CASE WHEN a.m = b.m THEN 1.0 ELSE 0.0 END), 4)
      |    AS est_jaccard
      |FROM comps a JOIN comps b ON a.i = b.i AND a.k < b.k
      |GROUP BY 1, 2""".stripMargin

  /** HTML-to-text extraction
    * ([[graft.operators.TextAnalysis.stripHtml]]): each document is
    * wrapped in markup + entities by BOTH engines, stripped, and the
    * recovered text hash-compared — proving the regex chain (block
    * drops, tag strip, entity decode order, whitespace collapse)
    * byte-identical across engines. */
  val q80HtmlStrip: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.stripHtml(concat(
          lit("<div class=\"post\"><p>"), col("text"),
          lit("</p></div><script>var a = 1 &lt; 2;</script>"),
          lit("<!-- c --> Tom &amp; Jerry&nbsp;&#39;99"))).as("clean_text"))

  val q80Sql: String =
    """WITH s0 AS (
      |  SELECT doc_id,
      |    '<div class="post"><p>' || text ||
      |    '</p></div><script>var a = 1 &lt; 2;</script>' ||
      |    '<!-- c --> Tom &amp; Jerry&nbsp;&#39;99' AS h
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(h,
      |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM s0),
      |s2 AS (SELECT doc_id, regexp_replace(h,
      |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(h,
      |  '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(h, '<[^>]+>', ' ', 'g') AS h
      |  FROM s3),
      |s5 AS (SELECT doc_id, regexp_replace(h, '&lt;', '<', 'g') AS h FROM s4),
      |s6 AS (SELECT doc_id, regexp_replace(h, '&gt;', '>', 'g') AS h FROM s5),
      |s7 AS (SELECT doc_id, regexp_replace(h, '&quot;', '"', 'g') AS h
      |  FROM s6),
      |s8 AS (SELECT doc_id, regexp_replace(h, '&#39;', '''', 'g') AS h
      |  FROM s7),
      |s9 AS (SELECT doc_id, regexp_replace(h, '&nbsp;', ' ', 'g') AS h
      |  FROM s8),
      |s10 AS (SELECT doc_id, regexp_replace(h, '&amp;', '&', 'g') AS h
      |  FROM s9)
      |SELECT doc_id, trim(regexp_replace(h, '\s+', ' ', 'g')) AS clean_text
      |FROM s10""".stripMargin

  /** R×S edit-distance join
    * ([[graft.operators.StringSimilarity.editDistanceJoinBetween]]):
    * even-key customers matched against odd-key customers at distance 1
    * — the record-linkage orientation (incoming batch vs registry),
    * where `id_a` is always the probe side. The oracle replays the full
    * quadratic cross join, proving the shared-frequency-order prefix
    * lemma lossless in the two-table form too. */
  val q81EditJoinBetween: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    graft.operators.StringSimilarity.editDistanceJoinBetween(
      c.filter(col("c_custkey") % 2 === 0),
      c.filter(col("c_custkey") % 2 === 1),
      "c_custkey", "c_name", "c_custkey", "c_name", maxDist = 1, q = 4)
  }

  val q81Sql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey % 2 = 0 AND b.c_custkey % 2 = 1
      |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
      |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  /** Held-out bigram-LM scoring
    * ([[graft.operators.TextAnalysis.bigramLmScoresAgainst]]): the LM
    * trains on q45's deterministic train split and scores the val
    * split — the un-flattered quality gate, where bigrams unseen in
    * training take the smoothing floor instead of dropping out. The
    * oracle replays the split predicate, the train-side counts, and
    * the COALESCE floor arithmetic. */
  val q82HeldoutLm: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    def split(name: String) = graft.operators.Sampling
      .assignSplit(docs, col("doc_id"), "exp1")
      .filter(col("split") === name).drop("split")
    graft.operators.TextAnalysis.bigramLmScoresAgainst(
      split("train"), split("val"), "doc_id", col("text"))
  }

  val q82Sql: String =
    """WITH b AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':exp1'), 1, 15))
      |      ::BIGINT % 1000000 AS bucket
      |  FROM documents),
      |toks_tr AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM b WHERE bucket < 800000),
      |toks_va AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM b WHERE bucket >= 800000 AND bucket < 900000),
      |bg_tr AS (
      |  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |  FROM toks_tr, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |bg_va AS (
      |  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |  FROM toks_va, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg_tr GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM (
      |  SELECT unnest(t) AS term FROM toks_tr)),
      |scored AS (
      |  SELECT bg_va.doc_id,
      |    ln((COALESCE(c2.c2, 0) + 1.0) / (COALESCE(c1.c1, 0) + v.v)) AS lp
      |  FROM bg_va LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |    CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 4) AS avg_logp
      |FROM scored GROUP BY doc_id""".stripMargin

  /** Incremental dedup with the FULL ladder — exact fingerprint + word
    * 8-gram overlap + MinHash/LSH bands
    * ([[graft.operators.Dedup.MinHashBandIndex]]) — against a prepared
    * corpus index, oracle-replayed end-to-end. The incoming batch is
    * DERIVED so each gate provably decides a class: docs ≡0 mod 10 are
    * exact copies (fingerprint gate); ≡1 have every 8th token mutated
    * (`tok` → `tokq`), which breaks EVERY word 8-gram — the gram gate
    * stays silent — while leaving ~7/8 of the char-5 shingles intact,
    * so only the MinHash gate (portable q24 signature family, 64
    * hashes, 8 bands, est-Jaccard ≥ 0.6) can suppress them; ≡2 are
    * token-reversed (novel text at shingle granularity → survive).
    * This is the q63 pattern upgraded to the band index: the class the
    * streaming/incremental surface previously admitted. */
  val q83BandedDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) < 3)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0, col("text"))
          .when(pmod(col("doc_id"), lit(10)) === 1,
            concat_ws(" ", transform(toks, (x, i) =>
              when(pmod(i, lit(8)) === 0, concat(x, lit("q"))).otherwise(x))))
          .otherwise(concat_ws(" ", reverse(toks))).as("text"))
    // q24's portable signature family: md5 char-5 shingles, two 60-bit
    // halves, 64 double-hash min families — DuckDB replays it exactly
    val portableSig = (df: org.apache.spark.sql.DataFrame, id: String,
        txt: org.apache.spark.sql.Column) => {
      val norm = regexp_replace(trim(lower(txt)), "\\s+", " ")
      // fused kernel (r21) — bit-identical to the exploded md5/conv/
      // aggregate chain (SigExpressionsSpec), one O(len) pass per doc
      df.repartition(col(id))
        .select(col(id), norm.as("__t"))
        .filter(col("__t").isNotNull)
        .select(col(id), graft.functions.SigExpressions
          .portableMinhashSigFromText(col("__t"), 5, 64).as("sig"))
    }
    val mh = graft.operators.Dedup.minhashBandIndex(docs, "doc_id",
      col("text"), numHashes = 64, numBands = 8, threshold = 0.6,
      signatureOf = portableSig, portableBandKeys = true)
    val idx = graft.operators.Dedup
      .corpusIndex(docs, "doc_id", col("text"), n = 8)
      .copy(minhash = Some(mh))
    graft.operators.Dedup.dedupAgainstIndex(incoming, idx,
      "doc_id", col("text"), n = 8, minHits = 1)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
  }

  val q83Sql: String =
    """WITH toks0 AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |mut AS (
      |  SELECT doc_id, string_agg(
      |      CASE WHEN (i - 1) % 8 = 0 THEN tok || 'q' ELSE tok END,
      |      ' ' ORDER BY i) AS text
      |  FROM (SELECT doc_id, CAST(u.i AS INT) AS i, t[CAST(u.i AS INT)] AS tok
      |        FROM toks0, unnest(range(1, len(t) + 1)) AS u(i)
      |        WHERE doc_id % 10 = 1)
      |  GROUP BY doc_id),
      |inc AS (
      |  SELECT doc_id + 20000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, text FROM mut
      |  UNION ALL
      |  SELECT doc_id + 20000000, array_to_string(list_reverse(t), ' ')
      |  FROM toks0 WHERE doc_id % 10 = 2),
      |fpold AS (
      |  SELECT DISTINCT
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |s1 AS (
      |  SELECT i.* FROM inc i LEFT JOIN fpold f
      |  ON f.fp = md5(regexp_replace(trim(lower(i.text)), '\s+', ' ', 'g'))
      |  WHERE f.fp IS NULL),
      |it AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM s1),
      |ig AS (
      |  SELECT doc_id, md5(array_to_string(
      |    list_slice(t, CAST(i AS INT), CAST(i AS INT) + 7), ' ')) AS g
      |  FROM it, unnest(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8),
      |ot AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |og AS (
      |  SELECT DISTINCT md5(array_to_string(
      |    list_slice(t, CAST(i AS INT), CAST(i AS INT) + 7), ' ')) AS g
      |  FROM ot, unnest(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8),
      |hit AS (SELECT DISTINCT ig.doc_id FROM ig JOIN og ON og.g = ig.g),
      |g1 AS (
      |  SELECT s1.* FROM s1 LEFT JOIN hit h ON h.doc_id = s1.doc_id
      |  WHERE h.doc_id IS NULL),
      |cn AS (
      |  SELECT doc_id,
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
      |  FROM documents),
      |cp AS (
      |  SELECT doc_id, s,
      |    unnest(range(1, greatest(len(s) - 4, 1) + 1)) AS pos
      |  FROM cn),
      |cm AS (
      |  SELECT doc_id,
      |    md5(substr(s, CAST(pos AS INT), 5)) AS d FROM cp),
      |chh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(d, 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(d, 16, 15))::BIGINT AS h2
      |  FROM cm),
      |cih AS (
      |  SELECT doc_id, h1, h2, unnest(range(0, 64)) AS i FROM chh),
      |cg AS (
      |  SELECT doc_id, CAST(i AS INT) AS i,
      |    CAST((h1::HUGEINT + i::HUGEINT * h2::HUGEINT)
      |      % 1152921504606846976 AS BIGINT) AS gv
      |  FROM cih),
      |csig AS (SELECT doc_id, i, MIN(gv) AS mh FROM cg GROUP BY doc_id, i),
      |cband AS (
      |  SELECT doc_id, i // 8 AS band_idx, list(mh ORDER BY i) AS bkey
      |  FROM csig GROUP BY doc_id, i // 8),
      |xn AS (
      |  SELECT doc_id,
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
      |  FROM g1),
      |xp AS (
      |  SELECT doc_id, s,
      |    unnest(range(1, greatest(len(s) - 4, 1) + 1)) AS pos
      |  FROM xn),
      |xm AS (
      |  SELECT doc_id,
      |    md5(substr(s, CAST(pos AS INT), 5)) AS d FROM xp),
      |xhh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(d, 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(d, 16, 15))::BIGINT AS h2
      |  FROM xm),
      |xih AS (
      |  SELECT doc_id, h1, h2, unnest(range(0, 64)) AS i FROM xhh),
      |xg AS (
      |  SELECT doc_id, CAST(i AS INT) AS i,
      |    CAST((h1::HUGEINT + i::HUGEINT * h2::HUGEINT)
      |      % 1152921504606846976 AS BIGINT) AS gv
      |  FROM xih),
      |xsig AS (SELECT doc_id, i, MIN(gv) AS mh FROM xg GROUP BY doc_id, i),
      |xband AS (
      |  SELECT doc_id, i // 8 AS band_idx, list(mh ORDER BY i) AS bkey
      |  FROM xsig GROUP BY doc_id, i // 8),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS iid, c.doc_id AS cid
      |  FROM xband x JOIN cband c
      |    ON c.band_idx = x.band_idx AND c.bkey = x.bkey),
      |sup AS (
      |  SELECT DISTINCT iid AS doc_id FROM (
      |    SELECT cd.iid,
      |      ROUND(SUM(CASE WHEN xs.mh = cs.mh THEN 1 ELSE 0 END)::DOUBLE
      |        / 64, 4) AS jac
      |    FROM cand cd
      |    JOIN xsig xs ON xs.doc_id = cd.iid
      |    JOIN csig cs ON cs.doc_id = cd.cid AND cs.i = xs.i
      |    GROUP BY cd.iid, cd.cid)
      |  WHERE jac >= 0.6)
      |SELECT g1.doc_id, md5(g1.text) AS text_hash
      |FROM g1 LEFT JOIN sup ON sup.doc_id = g1.doc_id
      |WHERE sup.doc_id IS NULL""".stripMargin

  /** PQ ADC top-k with a TRAINED codebook
    * ([[graft.operators.Similarity.pqTrainCodebook]] — per-subspace
    * deterministic k-means MEANS feeding
    * [[graft.operators.Similarity.pqTopK]]), closing the gap q62 left:
    * its codebook was the degenerate lowest-id slice, so the trained
    * path never ran under the oracle. The oracle replays BOTH Lloyd
    * rounds per subspace — subspace index as DATA (a `range` unnest),
    * so one CTE chain trains every subspace: int8-quantize each
    * sub-slice, seed with the 4 lowest ids, two assign+integer-sum
    * rounds (empty clusters keep sum AND count via COALESCE), means =
    * sum/count cast through FLOAT exactly as the engine's
    * `Seq[Float]` codebook — then the q62 encode/ADC replay. */
  val q84PqTrained: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val cb = graft.operators.Similarity.pqTrainCodebook(emb,
      m = 2, codebookSize = 4, iters = 2)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.pqTopK(emb, queries, k = 5,
      m = 2, codebookSize = 4, codebook = cb)
  }

  val q84Sql: String = {
    def assign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, j, q, cl FROM (
         |    SELECT z.vec_id, z.j, z.q, c.cl,
         |      ROW_NUMBER() OVER (PARTITION BY z.vec_id, z.j ORDER BY
         |        ROUND(list_cosine_similarity(z.q, c.s), 4) DESC, c.cl)
         |        AS rk
         |    FROM qz z JOIN $cents c ON c.j = z.j) WHERE rk = 1)""".stripMargin
    def update(assigned: String, prev: String, sums: String,
        next: String): String =
      s"""$sums AS (
         |  SELECT j, cl, LIST(v ORDER BY i) AS s, MIN(cnt) AS n FROM (
         |    SELECT a.j, a.cl, r.i, SUM(a.q[r.i]) AS v, COUNT(*) AS cnt
         |    FROM $assigned a, range(1, 33) r(i) GROUP BY a.j, a.cl, r.i)
         |  GROUP BY j, cl),
         |$next AS (
         |  SELECT p.j, p.cl, COALESCE(n.s, p.s) AS s, COALESCE(n.n, p.n) AS n
         |  FROM $prev p LEFT JOIN $sums n ON n.j = p.j AND n.cl = p.cl)""".stripMargin
    s"""WITH subs AS (
       |  SELECT vec_id, CAST(u.j AS INT) AS j,
       |    list_slice(e, CAST(u.j AS INT) * 32 + 1,
       |      CAST(u.j AS INT) * 32 + 32) AS sub
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |    unnest(range(0, 2)) AS u(j)),
       |qz AS (
       |  SELECT vec_id, j,
       |    CASE WHEN s > 0 THEN
       |      list_transform(sub, x -> CAST(floor(x*127.0/s + 0.5) AS DOUBLE))
       |    ELSE list_transform(sub, x -> 0.0) END AS q
       |  FROM (SELECT vec_id, j, sub,
       |          list_max(list_transform(sub, y -> abs(y))) AS s
       |        FROM subs)),
       |c0 AS (
       |  SELECT j, CAST(rk - 1 AS INT) AS cl, q AS s, CAST(1 AS BIGINT) AS n
       |  FROM (SELECT j, q,
       |          ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) AS rk
       |        FROM qz) WHERE rk <= 4),
       |${assign("c0", "a1")},
       |${update("a1", "c0", "s1", "c1")},
       |${assign("c1", "a2")},
       |${update("a2", "c1", "s2", "c2")},
       |cb AS (
       |  SELECT j, cl AS code,
       |    list_transform(s, x -> CAST(CAST(x / n AS REAL) AS DOUBLE)) AS cvec
       |  FROM c2),
       |enc AS (
       |  SELECT s.vec_id, s.j, cb.code,
       |    ROUND(list_dot_product(s.sub, cb.cvec), 4) AS d
       |  FROM subs s JOIN cb ON cb.j = s.j),
       |codes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |      ORDER BY d DESC, code) AS rn
       |    FROM enc) WHERE rn = 1),
       |qsubs AS (
       |  SELECT vec_id AS query_id, j, sub FROM subs WHERE vec_id < 3),
       |adc AS (
       |  SELECT qs.query_id, c.vec_id,
       |    ROUND(SUM(list_dot_product(qs.sub, cb.cvec)), 4) AS score_adc
       |  FROM codes c
       |  JOIN cb ON cb.j = c.j AND cb.code = c.code
       |  JOIN qsubs qs ON qs.j = c.j
       |  GROUP BY qs.query_id, c.vec_id)
       |SELECT query_id, rank, vec_id, score_adc FROM (
       |  SELECT query_id, vec_id, score_adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_adc DESC, vec_id) AS rank
       |  FROM adc) WHERE rank <= 5""".stripMargin
  }

  /** Span-level decontamination
    * ([[graft.operators.TextAnalysis.stripContaminatedSpans]]): q54's
    * flags turned into the remediation action — every document is
    * REWRITTEN dropping only the tokens covered by a word 8-gram that
    * appears in the (q54-derived) benchmark, so source docs keep their
    * unique prose instead of being dropped whole. The oracle rebuilds
    * every cleaned text with string_agg over kept positions; full
    * rewritten strings are hash-compared. */
  val q85StripContam: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat_ws(" ",
          slice(graft.operators.TextAnalysis.tokens(col("text")), 6, 20))
          .as("text"))
    graft.operators.TextAnalysis.stripContaminatedSpans(
      docs.repartition(col("doc_id")), bench, "doc_id", col("text"), n = 8)
  }

  val q85Sql: String =
    """WITH bench AS (
      |  SELECT doc_id + 9000000 AS doc_id,
      |    array_to_string(list_slice(list_filter(
      |      string_split_regex(text, '\s+'), x -> len(x) > 0), 6, 25), ' ')
      |      AS text
      |  FROM documents WHERE doc_id % 11 = 0),
      |bt AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM bench),
      |bg AS (
      |  SELECT DISTINCT lower(list_aggregate(t[i:i+7], 'string_agg', ' '))
      |    AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
      |        FROM bt WHERE len(t) >= 8)),
      |toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, i,
      |    lower(list_aggregate(t[i:i+7], 'string_agg', ' ')) AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
      |        FROM toks WHERE len(t) >= 8)),
      |covered AS (
      |  SELECT DISTINCT gr.doc_id, u.j
      |  FROM (SELECT grams.* FROM grams JOIN bg USING (g)) gr,
      |    unnest(range(gr.i, gr.i + 8)) AS u(j)),
      |tok AS (
      |  SELECT doc_id, t[i] AS tok, i
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
      |kept AS (
      |  SELECT tok.doc_id, COUNT(*) AS n_kept,
      |    string_agg(tok.tok, ' ' ORDER BY tok.i) AS clean_text
      |  FROM tok LEFT JOIN covered
      |    ON tok.doc_id = covered.doc_id AND tok.i = covered.j
      |  WHERE covered.j IS NULL
      |  GROUP BY tok.doc_id)
      |SELECT toks.doc_id, len(toks.t) AS n_tokens,
      |  COALESCE(kept.n_kept, 0) AS n_kept,
      |  COALESCE(kept.clean_text, '') AS clean_text
      |FROM toks LEFT JOIN kept USING (doc_id)""".stripMargin

  /** Cross-snapshot chunk reuse
    * ([[graft.operators.TextAnalysis.cdcChunkReuse]]): a derived
    * re-crawl snapshot (≡0 mod 7 head-edited — CDC boundaries resync so
    * the tail chunks still match; ≡1 token-reversed — novel; the rest
    * byte-identical) diffed against the original corpus at chunk
    * granularity. The oracle replays q76's whole chunk pipeline on BOTH
    * sides plus the fingerprint semi-join and per-doc ratios. */
  val q86ChunkReuse: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val snap = docs
      .select((col("doc_id") + 30000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
            concat_ws(" ", slice(toks, 4, 1000000)))
          .when(pmod(col("doc_id"), lit(7)) === 1,
            concat_ws(" ", reverse(toks)))
          .otherwise(col("text")).as("text"))
    graft.operators.TextAnalysis.cdcChunkReuse(
      snap, docs, "doc_id", col("text"), w = 4, avgTokens = 16)
  }

  val q86Sql: String = {
    /** q76's chunk pipeline over `src(doc_id, t)`, CTEs prefixed. */
    def chunkCtes(src: String, p: String): String =
      s"""${p}tok AS (
         |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j
         |  FROM $src WHERE len(t) >= 1),
         |${p}marked AS (
         |  SELECT doc_id, j, t[j] AS tok,
         |    CASE WHEN j >= 4 AND
         |      ('0x' || substr(md5(
         |        list_aggregate(t[j-3:j], 'string_agg', ' ')), 1, 15))
         |        ::BIGINT % 16 = 0
         |    THEN 1 ELSE 0 END AS b
         |  FROM ${p}tok),
         |${p}ch AS (
         |  SELECT doc_id, j, tok,
         |    CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY j
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS chunk_idx
         |  FROM ${p}marked),
         |${p}chunks AS (
         |  SELECT doc_id, chunk_idx,
         |    md5(string_agg(tok, ' ' ORDER BY j)) AS chunk_fp
         |  FROM ${p}ch GROUP BY 1, 2)""".stripMargin
    s"""WITH toks0 AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(text, '\\s+'), x -> len(x) > 0) AS t
       |  FROM documents),
       |nsrc AS (
       |  SELECT doc_id + 30000000 AS doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN list_slice(t, 4, len(t))
       |         WHEN doc_id % 7 = 1 THEN list_reverse(t)
       |         ELSE t END AS t
       |  FROM toks0),
       |${chunkCtes("toks0", "o")},
       |${chunkCtes("nsrc", "n")},
       |ofp AS (SELECT DISTINCT chunk_fp FROM ochunks),
       |reused AS (
       |  SELECT nchunks.doc_id, COUNT(*) AS n_reused
       |  FROM nchunks JOIN ofp USING (chunk_fp)
       |  GROUP BY nchunks.doc_id),
       |totals AS (
       |  SELECT doc_id, COUNT(*) AS n_chunks FROM nchunks GROUP BY doc_id)
       |SELECT totals.doc_id, totals.n_chunks,
       |  COALESCE(reused.n_reused, 0) AS n_reused,
       |  ROUND(COALESCE(reused.n_reused, 0) / totals.n_chunks, 4)
       |    AS reuse_ratio
       |FROM totals LEFT JOIN reused USING (doc_id)""".stripMargin
  }

  /** Model-based quality filtering
    * ([[graft.operators.Classify.trainTokenNb]] /
    * [[graft.operators.Classify.scoreTokenNb]]): a multinomial Naive
    * Bayes token classifier trained closed-form on q45's deterministic
    * train split (positives = `lang = 'en'`) and scored over the val
    * split — the distributed stand-in for fastText-style corpus quality
    * classifiers, with training reduced to exact integer count
    * aggregations so the oracle replays the model weights, the
    * unseen-token default, the prior, and every score. */
  val q87NbQuality: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    def split(name: String) = graft.operators.Sampling
      .assignSplit(docs, col("doc_id"), "exp1")
      .filter(col("split") === name).drop("split")
    val model = graft.operators.Classify.trainTokenNb(
      split("train"), col("text"), (col("lang") === "en").cast("int"))
    graft.operators.Classify.scoreTokenNb(
      model, split("val"), "doc_id", col("text"))
  }

  val q87Sql: String =
    """WITH b AS (
      |  SELECT doc_id, text, lang,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':exp1'), 1, 15))
      |      ::BIGINT % 1000000 AS bucket
      |  FROM documents),
      |tr AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
      |  FROM b WHERE bucket < 800000),
      |va AS (
      |  SELECT doc_id, text FROM b
      |  WHERE bucket >= 800000 AND bucket < 900000),
      |ttr AS (
      |  SELECT y, unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0)) AS token
      |  FROM tr),
      |cnt AS (
      |  SELECT token, CAST(SUM(y) AS BIGINT) AS c1,
      |    CAST(SUM(1 - y) AS BIGINT) AS c0
      |  FROM ttr GROUP BY token),
      |tot AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c0) AS BIGINT) AS n0,
      |    COUNT(*) AS v
      |  FROM cnt),
      |pri AS (
      |  SELECT ln(CAST(SUM(y) AS DOUBLE) / SUM(1 - y)) AS logprior FROM tr),
      |w AS (
      |  SELECT token,
      |    ln((c1 + 1.0) / (n1 + v)) - ln((c0 + 1.0) / (n0 + v)) AS w
      |  FROM cnt CROSS JOIN tot),
      |tva AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
      |  FROM va),
      |sc AS (
      |  SELECT doc_id,
      |    COALESCE(w.w, ln((tot.n0 + tot.v) * 1.0 / (tot.n1 + tot.v))) AS w
      |  FROM tva LEFT JOIN w USING (token) CROSS JOIN tot)
      |SELECT doc_id, COUNT(*) AS n_tokens, ROUND(AVG(w), 4) AS avg_logodds,
      |  CAST(SUM(w) + (SELECT logprior FROM pri) > 0 AS INT) AS pred
      |FROM sc GROUP BY doc_id""".stripMargin

  /** Embedding-space decontamination
    * ([[graft.operators.Dedup.semanticDecontam]]): q54's lexical gate
    * can't see paraphrased leakage; this flags every corpus vector
    * whose max cosine against the (derived, ≡0 mod 97) benchmark suite
    * reaches 0.27 (the p90 of the max-cosine distribution — a real
    * decision boundary, not a corner). Benchmark broadcasts; the
    * per-doc max collapses map-side, so the one exchange is
    * output-sized. Ties on the rounded cosine go to the lowest
    * benchmark id in both engines. */
  val q88SemanticDecontam: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    graft.operators.Dedup.semanticDecontam(
      emb.filter(pmod(col("vec_id"), lit(97)) =!= 0), "vec_id", "embedding",
      emb.filter(pmod(col("vec_id"), lit(97)) === 0), "vec_id", "embedding",
      threshold = 0.27)
  }

  val q88Sql: String =
    """WITH b AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 = 0),
      |c AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 0),
      |p AS (
      |  SELECT c.vec_id, b.vec_id AS bid,
      |    ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
      |      b.embedding::DOUBLE[]), 4) AS cs
      |  FROM c, b),
      |r AS (
      |  SELECT vec_id, cs, bid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, bid) AS rn
      |  FROM p)
      |SELECT vec_id, cs AS max_cos, bid AS nearest_bench,
      |  CAST(cs >= 0.27 AS INT) AS contaminated
      |FROM r WHERE rn = 1""".stripMargin

  /** Two-stage ANN serving
    * ([[graft.operators.Similarity.annSearchRerank]]): IVF coarse
    * quantizer (16 cells, nprobe 4) → ADC over the probed cells' PQ
    * codes → top-20 short list → EXACT cosine re-rank to top-5 — the
    * production IVF-PQ + refine chain, sharing q43's IVF and q62's PQ
    * devices so the oracle replays cell assignment, encode, the ADC
    * cut and the refine cut end to end (deterministic centroids /
    * codebook, 4 dp rounds before every argmax/rank). */
  val q89AnnRerank: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ivf = graft.operators.Similarity.buildIvfIndex(emb, numCells = 16)
    val pq = graft.operators.Similarity.buildPqIndex(emb)
    graft.operators.Similarity.annSearchRerank(ivf, pq, queries,
      k = 5, candidates = 20, nprobe = 4)
  }

  val q89Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |cent AS (
      |  SELECT vec_id AS cell, e AS cvec FROM e ORDER BY vec_id LIMIT 16),
      |cs AS (
      |  SELECT ev.vec_id, ev.e, c.cell,
      |    ROUND(list_cosine_similarity(ev.e, c.cvec), 4) AS cos
      |  FROM e ev CROSS JOIN cent c),
      |cr AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cell) AS rn
      |  FROM cs),
      |asg AS (SELECT vec_id, e, cell FROM cr WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cell FROM cr WHERE vec_id < 3 AND rn <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id FROM probes p JOIN asg a
      |  ON a.cell = p.cell),
      |base AS (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT 16),
      |cb AS (
      |  SELECT CAST(j AS INT) AS j,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1
      |      AS INT) AS code,
      |    list_slice(e, j * 8 + 1, j * 8 + 8) AS cvec
      |  FROM base, unnest(range(0, 8)) AS u(j)),
      |subs AS (
      |  SELECT vec_id, CAST(j AS INT) AS j,
      |    list_slice(e, j * 8 + 1, j * 8 + 8) AS sub
      |  FROM e, unnest(range(0, 8)) AS u(j)),
      |assign AS (
      |  SELECT s.vec_id, s.j, cb.code,
      |    ROUND(list_dot_product(s.sub, cb.cvec), 4) AS d
      |  FROM subs s JOIN cb ON cb.j = s.j),
      |codes AS (
      |  SELECT vec_id, j, code FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
      |      ORDER BY d DESC, code) AS rn
      |    FROM assign) WHERE rn = 1),
      |qsubs AS (
      |  SELECT vec_id AS query_id, j, sub FROM subs WHERE vec_id < 3),
      |adc AS (
      |  SELECT cd.query_id, cd.vec_id,
      |    ROUND(SUM(list_dot_product(qs.sub, cb.cvec)), 4) AS score_adc
      |  FROM (SELECT c.query_id, c.vec_id, co.j, co.code
      |        FROM cand c JOIN codes co ON co.vec_id = c.vec_id) cd
      |  JOIN cb ON cb.j = cd.j AND cb.code = cd.code
      |  JOIN qsubs qs ON qs.query_id = cd.query_id AND qs.j = cd.j
      |  GROUP BY cd.query_id, cd.vec_id),
      |topc AS (
      |  SELECT query_id, vec_id, score_adc FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_adc DESC, vec_id) AS rn
      |    FROM adc) WHERE rn <= 20),
      |rr AS (
      |  SELECT t.query_id, t.vec_id, t.score_adc,
      |    ROUND(list_cosine_similarity(q.e, a.e), 4) AS cosine
      |  FROM topc t
      |  JOIN e q ON q.vec_id = t.query_id
      |  JOIN asg a ON a.vec_id = t.vec_id)
      |SELECT query_id, rank, vec_id, cosine, score_adc FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, vec_id) AS rank
      |  FROM rr) WHERE rank <= 5""".stripMargin

  /** DSIR-style importance selection
    * ([[graft.operators.Classify.trainDsir]] /
    * [[graft.operators.Classify.dsirScores]]): hashed unigram+bigram
    * feature distributions (B=10000 md5 buckets) for the target
    * (`lang = 'en'`) vs the raw pool, per-doc mean log-ratio weight,
    * and a deterministic keep-top-30% gate on the 4dp-rounded p70
    * cutoff — the closed-form core of DSIR (Xie et al. 2023) with the
    * paper's Gumbel resampling replaced by a replayable rank gate. The
    * oracle replays the bucketing, both Laplace distributions, every
    * weight, and the quantile cutoff. */
  val q90DsirSelect: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    // Persisted: the quantile cutoff and the final gate both consume
    // the scored frame; without the cache the explode + broadcast-join
    // scoring pass runs twice. The fused self-trained form grams the
    // corpus ONCE (train-then-score grams it three times) — same
    // arithmetic, bit-identical scores (r20).
    val scores = graft.operators.PersistTracker.trackPersist(
      graft.operators.Classify.dsirSelfScores(
        docs, col("lang") === "en", "doc_id", col("text")))
    val cut = scores.agg(
      round(percentile(col("dsir_logratio"), lit(0.7)), 4).as("__cut"))
    scores.crossJoin(broadcast(cut))
      .withColumn("selected",
        (col("dsir_logratio") >= col("__cut")).cast("int"))
      .drop("__cut")
  }

  val q90Sql: String =
    """WITH f AS (
      |  SELECT doc_id, lang, list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, lang, unnest(tk || CASE WHEN len(tk) >= 2
      |      THEN list_transform(range(1, len(tk)),
      |        i -> tk[i] || ' ' || tk[i + 1])
      |      ELSE [] END) AS feat
      |  FROM f),
      |b AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(feat), 1, 15))::BIGINT % 10000 AS bucket
      |  FROM feats),
      |cnt AS (
      |  SELECT bucket,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    COUNT(*) AS cr
      |  FROM b GROUP BY bucket),
      |tot AS (
      |  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr
      |  FROM cnt),
      |lr AS (
      |  SELECT bucket,
      |    ln((ct + 1.0) / (nt + 10000)) - ln((cr + 1.0) / (nr + 10000)) AS lr
      |  FROM cnt CROSS JOIN tot),
      |sc AS (
      |  SELECT doc_id, COUNT(*) AS n_feats,
      |    ROUND(AVG(lr.lr), 4) AS dsir_logratio
      |  FROM b JOIN lr USING (bucket) GROUP BY doc_id),
      |cut AS (SELECT ROUND(quantile_cont(dsir_logratio, 0.7), 4) AS c FROM sc)
      |SELECT doc_id, n_feats, dsir_logratio,
      |  CAST(dsir_logratio >= (SELECT c FROM cut) AS INT) AS selected
      |FROM sc""".stripMargin

  /** Leakage-free train/test split
    * ([[graft.operators.Sampling.componentSplit]]): the q44 near-dup
    * components hashed as UNITS into train/val/test, so a near-dup pair
    * can never straddle the split — the doc-level q45 assignment cannot
    * rule that out. Oracle = the q44 recursive reachability CTE + the
    * md5 split case over the component id. */
  val q91LeakfreeSplit: Q = (s, dir) => {
    val cc = graft.operators.Dedup.connectedComponents(
      q24StarEdges(s, dir), t(s, dir, "documents").select("doc_id"))
    graft.operators.Sampling.componentSplit(cc, "component", "exp1")
  }

  val q91Sql: String =
    s"""WITH RECURSIVE $q24StarCtes,
      |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      |cc AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id)
      |SELECT doc_id, component,
      |  CASE WHEN bucket < 800000 THEN 'train'
      |       WHEN bucket < 900000 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id, component,
      |    ('0x' || substr(md5(CAST(component AS VARCHAR) || ':exp1'),
      |      1, 15))::BIGINT % 1000000 AS bucket
      |  FROM cc)""".stripMargin

  /** Token-budget mixture sampling
    * ([[graft.operators.Sampling.budgetMixture]]): hit a 4000-token
    * budget at src1:src2:src3 = 5:3:2. src1's share (2000) exceeds its
    * available tokens, so it clamps to fully-kept (the LEAST branch);
    * the others get exact-integer cutoffs `1e6·budget·w ÷ (10·avail)`.
    * Reported as per-source kept docs/tokens; the oracle replays the
    * token counts, the cutoff arithmetic (HUGEINT ≡ the engine's
    * BigInt), and the md5 keep filter. */
  val q92BudgetMixture: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val tok = graft.operators.TextAnalysis.tokenCount(col("text"))
    val kept = graft.operators.Sampling.budgetMixture(docs, col("source"),
      col("doc_id"), tok, Map("src1" -> 5L, "src2" -> 3L, "src3" -> 2L),
      budget = 4000L, salt = "mix1")
    kept.groupBy("source").agg(
      count(lit(1)).as("kept_docs"),
      sum(tok).cast("long").as("kept_tokens"))
  }

  val q92Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split_regex(text, '\s+'),
      |      x -> len(x) > 0)) AS tok
      |  FROM documents WHERE source IN ('src1', 'src2', 'src3')),
      |w(source, wt) AS (VALUES ('src1', 5), ('src2', 3), ('src3', 2)),
      |avail AS (
      |  SELECT source, CAST(SUM(tok) AS BIGINT) AS av FROM d GROUP BY source),
      |cut AS (
      |  SELECT a.source, LEAST(1000000::HUGEINT,
      |    (1000000::HUGEINT * 4000 * wt) // (10::HUGEINT * av)) AS c
      |  FROM avail a JOIN w USING (source)),
      |k AS (
      |  SELECT d.doc_id, d.source, d.tok FROM d JOIN cut USING (source)
      |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'),
      |    1, 15))::BIGINT % 1000000 < c)
      |SELECT source, COUNT(*) AS kept_docs,
      |  CAST(SUM(tok) AS BIGINT) AS kept_tokens
      |FROM k GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // BPE tokenizer training (q93-q94)
  // ---------------------------------------------------------------------

  private val bpeRounds = 8

  /** Shared oracle CTE chain replaying [[graft.operators.Bpe.trainBpe]]:
    * w0/t0 = word types + symbolized vocab, then per round r the pair
    * counts (p_r), the argmax merge (m_r), and the merged vocab (t_r)
    * via the SAME double guarded replace the engine applies.
    * MATERIALIZED pins each t_r to one evaluation (each is referenced
    * twice; inlining would re-derive the whole prefix per reference). */
  private val bpeBaseCtes: String =
    """w0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0)) AS word FROM documents)
      |  GROUP BY word),
      |t0 AS MATERIALIZED (SELECT word,
      |  rtrim(regexp_replace(word, '(.)', '\1 ', 'g')) AS sym, freq
      |  FROM w0)""".stripMargin

  private def bpeRoundCte(r: Int): String =
    s"""p$r AS (
       |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
       |    SELECT unnest(list_transform(range(1, len(l)),
       |      i -> l[i] || ' ' || l[i + 1])) AS pair, freq
       |    FROM (SELECT string_split(sym, ' ') AS l, freq FROM t${r - 1})
       |    WHERE len(l) >= 2)
       |  GROUP BY pair),
       |m$r AS (SELECT pair, replace(pair, ' ', '') AS merged, pair_count
       |  FROM p$r ORDER BY pair_count DESC, pair LIMIT 1),
       |t$r AS MATERIALIZED (
       |  SELECT word, trim(replace(replace(' ' || sym || ' ',
       |      (SELECT ' ' || pair || ' ' FROM m$r),
       |      (SELECT ' ' || merged || ' ' FROM m$r)),
       |      (SELECT ' ' || pair || ' ' FROM m$r),
       |      (SELECT ' ' || merged || ' ' FROM m$r))) AS sym, freq
       |  FROM t${r - 1})""".stripMargin

  private def bpeCtes: String =
    bpeBaseCtes + ",\n" +
      (1 to bpeRounds).map(bpeRoundCte).mkString(",\n")

  /** BPE tokenizer training ([[graft.operators.Bpe.trainBpe]]): 8 merge
    * rounds over the corpus's word-type table — frequency-weighted
    * adjacent-pair argmax (ties by pair string), applied as the guarded
    * double replace stated verbatim in the oracle. The corpus is
    * touched once (word types); every round is vocab-sized with a
    * one-row collect. */
  val q93BpeTrain: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.operators.Bpe.trainBpe(
      graft.operators.Bpe.wordTypes(docs, col("text")), bpeRounds).merges
  }

  val q93Sql: String = {
    val sel = (1 to bpeRounds)
      .map(r => s"SELECT $r AS merge_round, pair, merged, pair_count FROM m$r")
      .mkString("\n  UNION ALL ")
    s"WITH $bpeCtes\nSELECT merge_round, pair, merged, pair_count" +
      s" FROM (\n  $sel)"
  }

  /** BPE token costing ([[graft.operators.Bpe.bpeTokenCounts]]): cost
    * every document in learned subword tokens. Merges apply to word
    * TYPES only; docs explode to words and join the vocab's precomputed
    * subword lengths (broadcast) — the corpus shuffles once, by doc id,
    * for the final sum. */
  val q94BpeTokens: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = graft.operators.Bpe.trainBpe(
      graft.operators.Bpe.wordTypes(docs, col("text")), bpeRounds)
    graft.operators.Bpe.bpeTokenCounts(model, docs, "doc_id", col("text"))
  }

  val q94Sql: String =
    s"""WITH $bpeCtes,
       |tl AS (SELECT word, len(string_split(sym, ' ')) AS bpe_len
       |  FROM t$bpeRounds),
       |dw AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '${"\\"}s+'),
       |    x -> len(x) > 0)) AS word FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(COALESCE(bpe_len, len(word))) AS BIGINT) AS bpe_tokens
       |FROM dw LEFT JOIN tl USING (word) GROUP BY doc_id""".stripMargin

  /** Exact phrase search ([[graft.operators.Retrieval.phraseSearch]]):
    * positional-index anchor alignment — postings (doc, pos, term) join
    * broadcast query offsets; an anchor covering all qlen offsets is an
    * occurrence. The phrase set includes a repeated-term phrase ("a a",
    * the distinct-qpos edge) and a no-hit phrase. Oracle replays the
    * zipped position unnest and the anchor HAVING. */
  val q95PhraseSearch: Q = (s, dir) => {
    import s.implicits._
    val queries = Seq(
      (1L, "table value part"),
      (2L, "slow fast"),
      (3L, "a a"),
      (4L, "no such phrase here")).toDF("query_id", "phrase")
    graft.operators.Retrieval.phraseSearch(
      t(s, dir, "documents"), queries)
  }

  val q95Sql: String =
    """WITH q(query_id, phrase) AS (VALUES
      |    (CAST(1 AS BIGINT), 'table value part'),
      |    (CAST(2 AS BIGINT), 'slow fast'),
      |    (CAST(3 AS BIGINT), 'a a'),
      |    (CAST(4 AS BIGINT), 'no such phrase here')),
      |f AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS tk FROM documents),
      |p AS (
      |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos,
      |    unnest(tk) AS term
      |  FROM f),
      |qf AS (
      |  SELECT query_id, list_filter(string_split_regex(lower(phrase), '\s+'),
      |    x -> len(x) > 0) AS qk FROM q),
      |qt AS (
      |  SELECT query_id, len(qk) AS qlen,
      |    unnest(range(1, len(qk) + 1)) AS qpos, unnest(qk) AS term
      |  FROM qf),
      |j AS (
      |  SELECT qt.query_id, p.doc_id, qt.qpos, qt.qlen,
      |    p.pos - qt.qpos AS anchor
      |  FROM p JOIN qt USING (term)),
      |occ AS (
      |  SELECT query_id, doc_id, anchor
      |  FROM j GROUP BY query_id, doc_id, anchor, qlen
      |  HAVING COUNT(DISTINCT qpos) = qlen)
      |SELECT query_id, doc_id, COUNT(*) AS n_matches,
      |  CAST(MIN(anchor) + 1 AS BIGINT) AS first_pos
      |FROM occ GROUP BY query_id, doc_id""".stripMargin

  /** Hybrid lexical+dense retrieval
    * ([[graft.operators.Retrieval.hybridTopK]]): BM25 top-20 over the
    * text corpus and exact-cosine top-20 over the aligned embedding
    * corpus, fused by Reciprocal Rank Fusion in exact integer
    * arithmetic (`1e9 div (60 + rank)` per list — a BIGINT sum, so the
    * fused ordering is engine-independent). The oracle replays both
    * retrievers (the q70/q26 CTE shapes at depth 20) and the integer
    * fusion. Fusion only ever sees 40 candidate rows per query. */
  val q96HybridRrf: Q = (s, dir) => {
    import s.implicits._
    val texts = Seq(
      (0L, "table hash join value"),
      (1L, "spark window agg batch"),
      (2L, "fast slow row scan")).toDF("query_id", "query_text")
    val qvecs = t(s, dir, "embeddings").filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Retrieval.hybridTopK(
      t(s, dir, "documents"), t(s, dir, "embeddings"),
      texts.join(qvecs, "query_id"), k = 10, depth = 20)
  }

  val q96Sql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |    (CAST(0 AS BIGINT), 'table hash join value'),
      |    (CAST(1 AS BIGINT), 'spark window agg batch'),
      |    (CAST(2 AS BIGINT), 'fast slow row scan')),
      |terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (
      |  SELECT doc_id, len(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS dl
      |  FROM documents),
      |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT query_id, unnest(list_filter(
      |    string_split_regex(lower(query_text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM q),
      |bscored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    ROUND(SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4)
      |      AS score
      |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
      |    JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1, 2),
      |lex AS (
      |  SELECT query_id, rank, doc_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |    FROM bscored)
      |  WHERE rank <= 20),
      |dense AS (
      |  SELECT query_id, rank, vec_id AS doc_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
      |          c.embedding::DOUBLE[]), 4) DESC, c.vec_id) AS rank
      |    FROM embeddings q, embeddings c WHERE q.vec_id < 3)
      |  WHERE rank <= 20),
      |fused AS (
      |  SELECT query_id, doc_id,
      |    CAST(SUM(1000000000 // (rank + 60)) AS BIGINT) AS rrf_score,
      |    COUNT(*) AS n_lists
      |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
      |  GROUP BY 1, 2)
      |SELECT query_id, rank, doc_id, rrf_score, n_lists FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY rrf_score DESC, doc_id) AS rank
      |  FROM fused)
      |WHERE rank <= 10""".stripMargin

  /** Gopher/C4-style heuristic rule gate
    * ([[graft.operators.TextAnalysis.qualityRuleFlags]]): per-doc rule
    * flags + conjunction, thresholds placed inside the corpus's
    * observed distribution (each rule cuts 17-20% at sf0.01; the
    * conjunction keeps ~47% — real boundaries, not corners). Every
    * statistic is an integer ratio rounded 4dp and rules compare the
    * ROUNDED values, so the oracle replays flag-for-flag. */
  val q97QualityRules: Q = (s, dir) =>
    graft.operators.TextAnalysis.qualityRuleFlags(
      t(s, dir, "documents"), "doc_id", col("text"))

  val q97Sql: String = {
    val stop = graft.operators.TextAnalysis.EnglishStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '${"\\"}s+'),
      |    x -> len(x) > 0) AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
      |    CASE WHEN len(tk) > 0
      |      THEN ROUND(len(array_to_string(tk, '')) / len(tk), 4) END
      |      AS mean_word_len,
      |    CASE WHEN len(tk) > 0
      |      THEN ROUND((len(tk) - len(list_filter(tk,
      |        x -> x NOT IN ($stop)))) / len(tk), 4) END AS stop_ratio,
      |    CASE WHEN len(tk) > 0
      |      THEN ROUND(len(list_distinct(tk)) / len(tk), 4) END AS ttr
      |  FROM f),
      |r AS (
      |  SELECT *,
      |    COALESCE(CAST(n_words BETWEEN 20 AND 90 AS INT), 0) AS r_words,
      |    COALESCE(CAST(mean_word_len BETWEEN 4.25 AND 4.75 AS INT), 0)
      |      AS r_word_len,
      |    COALESCE(CAST(stop_ratio >= 0.03 AS INT), 0) AS r_stop,
      |    COALESCE(CAST(ttr >= 0.35 AS INT), 0) AS r_ttr
      |  FROM s)
      |SELECT doc_id, n_words, mean_word_len, stop_ratio, ttr,
      |  r_words, r_word_len, r_stop, r_ttr,
      |  r_words * r_word_len * r_stop * r_ttr AS pass
      |FROM r""".stripMargin
  }

  /** Hard-negative mining
    * ([[graft.operators.Similarity.hardNegatives]]): for each anchor,
    * the 5 most-similar embeddings with a DIFFERENT label — the
    * contrastive-training counterpart of q26's plain knn (which the
    * oracle shape extends with the label filter). Self-exclusion falls
    * out of the label inequality. */
  val q98HardNegatives: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    graft.operators.Similarity.hardNegatives(emb, queries, k = 5)
  }

  val q98Sql: String =
    """SELECT query_id, rank, vec_id, cosine, label FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id, c.label,
      |    ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
      |      c.embedding::DOUBLE[]), 4) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
      |        c.embedding::DOUBLE[]), 4) DESC, c.vec_id) AS rank
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 3 AND c.label <> q.label)
      |WHERE rank <= 5""".stripMargin

  /** Directional n-gram containment join
    * ([[graft.operators.Dedup.containmentPairsText]]): ordered pairs
    * where ≥ 7/10 of the contained doc's distinct 3-gram set sits
    * inside the other doc — the asymmetric quotation/subset class q40's
    * symmetric Jaccard misses when sizes diverge. Rational threshold →
    * exact integer predicate (`inter·10 ≥ m_a·7`) on both engines; the
    * oracle replays the full quadratic gram intersection (the engine's
    * one-sided prefix filter is lossless by pigeonhole). */
  val q99Containment: Q = (s, dir) =>
    graft.operators.Dedup.containmentPairsText(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3,
      num = 7, den = 10)

  val q99Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(w) - 1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |    ELSE [array_to_string(w, ' ')] END AS s
      |  FROM toks),
      |m AS (SELECT doc_id, len(s) AS m FROM sh),
      |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(inter / ma.m, 4) AS containment
      |FROM p JOIN m ma ON ma.doc_id = p.id_a
      |WHERE inter * 10 >= ma.m * 7""".stripMargin

  /** Incremental BM25 index refresh
    * ([[graft.operators.Retrieval.mergeIndex]]): the corpus is indexed in
    * two generations (doc_id % 4 ≠ 0 first, the rest merged in without
    * re-tokenizing the base), then served. Because the merged stats
    * reconstruct each generation's exact integer token sum, serving is
    * bit-identical to a full rebuild — so the oracle is simply BM25 over
    * the WHOLE corpus, and the hash gate proves merge ≡ rebuild. */
  val q100Bm25Merge: Q = (s, dir) => {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val base = graft.operators.Retrieval.buildIndex(
      docs.filter(col("doc_id") % 4 =!= 0))
    val merged = graft.operators.Retrieval.mergeIndex(
      base, docs.filter(col("doc_id") % 4 === 0))
    val queries = Seq(
      (1L, "merge scan filter order"),
      (2L, "group join key column"),
      (3L, "index batch row value")).toDF("query_id", "query_text")
    graft.operators.Retrieval.bm25TopKWithIndex(merged, queries, k = 5)
  }

  val q100Sql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |    (CAST(1 AS BIGINT), 'merge scan filter order'),
      |    (CAST(2 AS BIGINT), 'group join key column'),
      |    (CAST(3 AS BIGINT), 'index batch row value')),
      |terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (
      |  SELECT doc_id, len(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS dl
      |  FROM documents),
      |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT query_id, unnest(list_filter(
      |    string_split_regex(lower(query_text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM q),
      |scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    ROUND(SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4)
      |      AS score
      |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
      |    JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1, 2)
      |SELECT query_id, rank, doc_id, score FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** Retrieval-quality evaluation
    * ([[graft.operators.Retrieval.evalRanking]]): self-retrieval probe —
    * every 50th document's first 6 tokens become a query whose one
    * relevant document is its source; BM25 top-10 is then scored as
    * per-query reciprocal rank and recall@10. The oracle replays the
    * whole chain: query derivation, BM25, rank cut, metric arithmetic —
    * including queries whose source doc falls outside the top 10
    * (rr = 0 rows must surface, not drop). */
  val q101IrEval: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 50 === 7)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(graft.operators.TextAnalysis.tokens(
          lower(col("text"))), 1, 6)).as("query_text"))
    val qrels = queries.select(col("query_id"),
      col("query_id").as("doc_id"))
    val ranked = graft.operators.Retrieval.bm25TopK(docs, queries, k = 10)
    graft.operators.Retrieval.evalRanking(ranked, qrels, k = 10)
  }

  val q101Sql: String =
    """WITH q AS (
      |  SELECT doc_id AS query_id,
      |    array_to_string(list_filter(
      |      string_split_regex(lower(text), '\s+'), x -> len(x) > 0)[1:6],
      |      ' ') AS query_text
      |  FROM documents WHERE doc_id % 50 = 7),
      |terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (
      |  SELECT doc_id, len(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS dl
      |  FROM documents),
      |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT query_id, unnest(list_filter(
      |    string_split_regex(lower(query_text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM q),
      |scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    ROUND(SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4)
      |      AS score
      |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
      |    JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT query_id, rank, doc_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |    FROM scored)
      |  WHERE rank <= 10),
      |hits AS (
      |  SELECT r.query_id, r.rank
      |  FROM ranked r JOIN q ON r.query_id = q.query_id
      |    AND r.doc_id = q.query_id),
      |perq AS (
      |  SELECT query_id, MIN(rank) AS first, COUNT(*) AS hits_at_k
      |  FROM hits GROUP BY 1)
      |SELECT q.query_id,
      |  ROUND(COALESCE(CAST(1 AS DOUBLE) / first, 0), 4) AS rr,
      |  COALESCE(hits_at_k, CAST(0 AS BIGINT)) AS hits_at_k,
      |  CAST(1 AS BIGINT) AS n_rel,
      |  ROUND(COALESCE(CAST(hits_at_k AS DOUBLE), 0), 4) AS recall_at_k
      |FROM q LEFT JOIN perq ON q.query_id = perq.query_id""".stripMargin

  /** CCNet-style LM bucketing
    * ([[graft.operators.TextAnalysis.perplexityBuckets]]): every doc
    * scored by the corpus bigram LM, then labeled head/middle/tail by
    * PER-LANGUAGE score terciles — the crawl-quality stratification a
    * global cutoff gets wrong across languages. Oracle replays the LM
    * (q59's CTEs), the per-lang `quantile_cont` cutoffs (the q78 parity
    * device), and both `>=` bucket edges. */
  val q102PerplexityBuckets: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.operators.TextAnalysis.perplexityBuckets(
      docs, docs, "doc_id", col("text"), col("lang"))
  }

  val q102Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM (
      |  SELECT unnest(t) AS term FROM toks)),
      |lm AS (
      |  SELECT bg.doc_id, COUNT(*) AS n_bigrams,
      |    ROUND(AVG(ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 4) AS avg_logp
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      |  GROUP BY bg.doc_id),
      |sl AS (
      |  SELECT d.doc_id, d.lang, lm.n_bigrams, lm.avg_logp
      |  FROM documents d JOIN lm USING (doc_id)),
      |cuts AS (
      |  SELECT lang,
      |    ROUND(quantile_cont(avg_logp, CAST(1 AS DOUBLE) / 3), 4) AS lo,
      |    ROUND(quantile_cont(avg_logp, CAST(2 AS DOUBLE) / 3), 4) AS hi
      |  FROM sl GROUP BY lang)
      |SELECT doc_id, lang, n_bigrams, avg_logp,
      |  CASE WHEN avg_logp >= hi THEN 'head'
      |       WHEN avg_logp >= lo THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM sl JOIN cuts USING (lang)""".stripMargin

  /** Order-insensitive exact dedup
    * ([[graft.operators.TextAnalysis.bagFingerprint]] through
    * [[graft.operators.Dedup.exactDedup]]): every 25th document is
    * re-added with its token order REVERSED (ids +10000) — the
    * reflowed-scrape duplicate class — and the sorted-multiset
    * fingerprint must flag exactly those as duplicates while the plain
    * content fingerprint sees nothing. Oracle replays the derivation,
    * the sorted-token md5, and the keep-lowest-id ranking. */
  val q103BagDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val toks = graft.operators.TextAnalysis.tokens(lower(col("text")))
    val reflowed = docs.filter(col("doc_id") % 25 === 3)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat_ws(" ", reverse(toks)).as("text"))
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(reflowed)
    graft.operators.Dedup.exactDedup(corpus,
        graft.operators.TextAnalysis.bagFingerprint(col("text")),
        col("doc_id"))
      .select(col("doc_id"), col("is_duplicate"))
  }

  val q103Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, array_to_string(list_reverse(
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0)), ' ')
      |  FROM documents WHERE doc_id % 25 = 3),
      |fp AS (
      |  SELECT doc_id, md5(array_to_string(list_sort(
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0)), ' ')) AS fp
      |  FROM corpus)
      |SELECT doc_id,
      |  (ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id)) > 1
      |    AS is_duplicate
      |FROM fp""".stripMargin

  /** D4-style diversity selection
    * ([[graft.operators.Sampling.diversitySelect]]): q68's deterministic
    * k-means, then at most 40 kept per cluster preferring the LEAST
    * prototypical members (lowest centroid cosine first) — semantic
    * balance + anti-prototype pruning in one rank. The oracle replays
    * both Lloyd rounds (the shared q68 CTE chain) plus the per-cluster
    * rank-and-cut. */
  val q104DiversitySelect: Q = (s, dir) =>
    graft.operators.Sampling.diversitySelect(
      t(s, dir, "embeddings"), k = 8, iters = 2, quota = 40)

  val q104Sql: String = kmeansReplayWith + """
SELECT vec_id, cluster, cos, rk FROM (
  SELECT vec_id, CAST(cl AS INT) AS cluster, cos,
    CAST(ROW_NUMBER() OVER (PARTITION BY cl
      ORDER BY cos, vec_id) AS INT) AS rk
  FROM final)
WHERE rk <= 40"""

  /** Corpus snapshot diff ([[graft.operators.Dedup.snapshotDiff]]): a
    * derived second corpus version (every id ≡1 mod 10 dropped, ≡2
    * rewritten, ≡3 re-added under a fresh id) classified per id as
    * added/removed/changed/unchanged — the refresh-churn audit. Oracle
    * replays the derivation, both md5 fingerprints, and the full-outer
    * classification. */
  val q105SnapshotDiff: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val newV = docs.filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("fresh "), col("text")).as("text")))
    graft.operators.Dedup.snapshotDiff(docs, newV, "doc_id", col("text"))
  }

  val q105Sql: String =
    """WITH newv AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 1
      |  UNION ALL
      |  SELECT doc_id + 10000, 'fresh ' || text
      |  FROM documents WHERE doc_id % 10 = 3),
      |a AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fa
      |  FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fb
      |  FROM newv)
      |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN fa = fb THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin

  /** Split-leakage audit
    * ([[graft.operators.Sampling.splitLeakageAudit]]): q24's MinHash
    * near-dup pairs against q45's naive doc-level hash split, counted
    * per unordered split combination — the quantified eval-
    * contamination report (`is_leak` rows are near-dup pairs straddling
    * train/val/test) that motivates q91's component-level split. Oracle
    * reuses q24's shared pair CTEs + q45's bucket arithmetic. */
  val q106LeakAudit: Q = (s, dir) => {
    val pairs = q24MinhashDedup(s, dir)
    val assign = graft.operators.Sampling.assignSplit(
        t(s, dir, "documents"), col("doc_id"), "exp1")
      .select(col("doc_id"), col("split"))
    graft.operators.Sampling.splitLeakageAudit(pairs, assign)
  }

  val q106Sql: String =
    s"""WITH $q24PairCtes,
       |asn AS (
       |  SELECT doc_id,
       |    CASE WHEN bucket < 800000 THEN 'train'
       |         WHEN bucket < 900000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':exp1'), 1, 15))
       |        ::BIGINT % 1000000 AS bucket
       |    FROM documents)),
       |pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
       |lab AS (
       |  SELECT least(a.split, b.split) AS split_a,
       |    greatest(a.split, b.split) AS split_b
       |  FROM pr JOIN asn a ON pr.id_a = a.doc_id
       |    JOIN asn b ON pr.id_b = b.doc_id)
       |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  split_a <> split_b AS is_leak
       |FROM lab GROUP BY split_a, split_b""".stripMargin

  /** IVF recall sweep ([[graft.operators.Similarity.ivfRecallSweep]]):
    * recall@5 of q43's IVF configuration at nprobe ∈ {1, 2, 4} against
    * the exact brute-force top-5 — the tuning curve, fully
    * hash-verified (unlike q28's rows-only LSH probe, every discrete
    * choice here replays in DuckDB: q43's CTEs per setting + the q26
    * ground-truth shape + integer intersection counts). */
  val q107IvfRecallSweep: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.ivfRecallSweep(emb, queries, k = 5,
      numCells = 16, nprobes = Seq(1, 2, 4))
  }

  val q107Sql: String = {
    def perNp(np: Int): String =
      s"""cand$np AS (
         |  SELECT p.query_id, a.vec_id,
         |    ROUND(list_cosine_similarity(p.qvec::DOUBLE[],
         |      a.embedding::DOUBLE[]), 4) AS cosine
         |  FROM (SELECT vec_id AS query_id, embedding AS qvec, cell
         |        FROM ranked WHERE vec_id < 3 AND rn <= $np) p
         |  JOIN asg a ON a.cell = p.cell),
         |top$np AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rank
         |    FROM cand$np)
         |  WHERE rank <= 5)""".stripMargin
    s"""WITH nc AS (
       |  SELECT LEAST(4096, GREATEST(16, COUNT(*) // 32)) AS n
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cell, embedding AS cvec
       |  FROM embeddings ORDER BY vec_id LIMIT (SELECT n FROM nc)),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
       |      c.cvec::DOUBLE[]), 4) AS cos
       |  FROM embeddings e CROSS JOIN cent c),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell) AS rn
       |  FROM scored),
       |asg AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
       |          e.embedding::DOUBLE[]), 4) DESC, e.vec_id) AS rk
       |    FROM embeddings q CROSS JOIN embeddings e WHERE q.vec_id < 3)
       |  WHERE rk <= 5),
       |${perNp(1)},
       |${perNp(2)},
       |${perNp(4)},
       |allr AS (
       |  SELECT 1 AS nprobe, query_id, vec_id FROM top1
       |  UNION ALL SELECT 2, query_id, vec_id FROM top2
       |  UNION ALL SELECT 4, query_id, vec_id FROM top4)
       |SELECT r.nprobe, r.query_id,
       |  CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS hits,
       |  ROUND(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    ::DOUBLE / 5, 4) AS recall
       |FROM allr r LEFT JOIN truth t
       |  ON r.query_id = t.query_id AND r.vec_id = t.vec_id
       |GROUP BY r.nprobe, r.query_id""".stripMargin
  }

  /** Incremental IVF index refresh
    * ([[graft.operators.Similarity.addToIvfIndex]]): the corpus is
    * indexed in two generations against ONE frozen centroid set (every
    * 5th vector arrives as the second batch), then served. Assignment
    * is a pure per-row function of the centroids, so the merged index
    * serves identically to a full rebuild — the oracle is q43's replay
    * shape over the whole corpus, and the hash gate proves the
    * equivalence. */
  val q108IvfAdd: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val cents = graft.operators.Similarity.buildIvfIndex(emb, 16).centroids
    val base = graft.operators.Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 5 =!= 0), 16, centroids = cents)
    val merged = graft.operators.Similarity.addToIvfIndex(
      base, emb.filter(col("vec_id") % 5 === 0))
    val queries = emb.filter(col("vec_id") >= 3 && col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.ivfTopKWithIndex(merged, queries, k = 5,
      nprobe = 2)
  }

  val q108Sql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cell, embedding AS cvec
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |scored AS (
      |  SELECT e.vec_id, e.embedding, c.cell,
      |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
      |      c.cvec::DOUBLE[]), 4) AS cos
      |  FROM embeddings e CROSS JOIN cent c),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cell) AS rn
      |  FROM scored),
      |asg AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS qvec, cell
      |  FROM ranked WHERE vec_id >= 3 AND vec_id < 6 AND rn <= 2),
      |cand AS (
      |  SELECT p.query_id, a.vec_id,
      |    ROUND(list_cosine_similarity(p.qvec::DOUBLE[],
      |      a.embedding::DOUBLE[]), 4) AS cosine
      |  FROM probes p JOIN asg a ON a.cell = p.cell)
      |SELECT query_id, rank, vec_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, vec_id) AS rank
      |  FROM cand)
      |WHERE rank <= 5""".stripMargin

  /** Dictionary topic tagging ([[graft.operators.TextAnalysis
    * .keywordTag]]): three keyword dictionaries matched in one native
    * WordListHitCounts pass (the langGuess machinery pointed at user
    * topics); docs tagged with every topic hit ≥ 4 times, occurrence
    * multiplicity counted. Oracle replays each list's filtered token
    * count. */
  val q109KeywordTag: Q = (s, dir) =>
    graft.operators.TextAnalysis.keywordTag(
      t(s, dir, "documents"), "doc_id", col("text"),
      topics = Seq(
        "joins" -> Seq("join", "merge", "hash"),
        "ordering" -> Seq("sort", "order", "window"),
        "io" -> Seq("scan", "read", "write", "line")),
      minHits = 4)

  val q109Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, 'joins' AS topic, CAST(len(list_filter(t,
      |    x -> x IN ('join', 'merge', 'hash'))) AS BIGINT) AS n_hits
      |  FROM toks
      |  UNION ALL
      |  SELECT doc_id, 'ordering', CAST(len(list_filter(t,
      |    x -> x IN ('sort', 'order', 'window'))) AS BIGINT)
      |  FROM toks
      |  UNION ALL
      |  SELECT doc_id, 'io', CAST(len(list_filter(t,
      |    x -> x IN ('scan', 'read', 'write', 'line'))) AS BIGINT)
      |  FROM toks)
      |SELECT doc_id, topic, n_hits FROM hits WHERE n_hits >= 4""".stripMargin

  /** ICT pair generation ([[graft.operators.TextAnalysis.ictPairs]]):
    * deterministic inverse-cloze query/context splits (middle third vs
    * remainder) over every document with ≥ 12 tokens — the
    * self-supervised retriever-training pairs. Oracle replays the
    * `⌊n/3⌋` span arithmetic and both string reassemblies. */
  val q110IctPairs: Q = (s, dir) =>
    graft.operators.TextAnalysis.ictPairs(
      t(s, dir, "documents"), "doc_id", col("text"), minTokens = 12)

  val q110Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, t, len(t) AS n,
      |    CAST(floor(len(t) / 3) AS INT) + 1 AS a,
      |    CAST(floor(len(t) * 2 / 3) AS INT) AS b
      |  FROM toks WHERE len(t) >= 12)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |  array_to_string(t[a:b], ' ') AS query_text,
      |  array_to_string(list_concat(t[1:a-1], t[b+1:n]), ' ')
      |    AS context_text
      |FROM spans""".stripMargin

  /** Fold-normalized exact dedup ([[graft.operators.TextAnalysis
    * .foldedFingerprint]]): accent-fold (native NFD expression) +
    * casefold + punctuation collapse before hashing — the
    * Unicode-variant duplicate class the plain content fingerprint
    * structurally misses. The corpus plants two renderings per 25 docs:
    * a diacritic re-encoding (`a→á` etc.) and an upper-case +
    * separator-noise copy; both collapse onto their source doc. Oracle:
    * DuckDB's `strip_accents` chain (verified char-for-char with the
    * NFD fold on Latin-1). */
  val q111FoldDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val accented = docs.filter(col("doc_id") % 25 === 7)
      .select((col("doc_id") + 20000).as("doc_id"),
        translate(col("text"), "aeio", "áéíó")
          .as("text"))
    val noisy = docs.filter(col("doc_id") % 25 === 12)
      .select((col("doc_id") + 40000).as("doc_id"),
        regexp_replace(upper(col("text")), " ", " -- ").as("text"))
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(accented).unionByName(noisy)
    graft.operators.Dedup.exactDedup(corpus,
        graft.operators.TextAnalysis.foldedFingerprint(col("text")),
        col("doc_id"))
      .select(col("doc_id"), col("is_duplicate"))
  }

  val q111Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 20000,
      |    translate(text, 'aeio', 'áéíó')
      |  FROM documents WHERE doc_id % 25 = 7
      |  UNION ALL
      |  SELECT doc_id + 40000, regexp_replace(upper(text), ' ', ' -- ', 'g')
      |  FROM documents WHERE doc_id % 25 = 12),
      |fp AS (
      |  SELECT doc_id, md5(trim(regexp_replace(lower(strip_accents(text)),
      |    '[^a-z0-9]+', ' ', 'g'))) AS fp
      |  FROM corpus)
      |SELECT doc_id,
      |  (ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id)) > 1
      |    AS is_duplicate
      |FROM fp""".stripMargin

  /** Johnson–Lindenstrauss random projection ([[graft.operators
    * .Similarity.randomProject]]): 64 → 16 dims through a deterministic
    * Rademacher ±1/√16 matrix derived from portable md5 parity — the
    * cheap distance-preserving reduction that runs BEFORE the ANN
    * machinery at scale. One narrow codegen projection (sign matrix in
    * the references array, no unrolling). The oracle rebuilds every
    * sign with the same md5-parity device and replays each output
    * component via an ORDERED list dot product. */
  val q112RandomProj: Q = (s, dir) =>
    graft.operators.Similarity.randomProject(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, outDim = 16, seed = 7L)
      .select(col("vec_id"), posexplode(col("proj")))
      .toDF("vec_id", "dim", "v")
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        // + 0.0 folds IEEE negative zero to +0.0 — the engines round
        // tiny sums to -0.0 on different rows, and the hash compare is
        // string-based ('-0.0' != '0.0')
        (round(col("v"), 4) + lit(0.0)).as("v"))

  val q112Sql: String =
    """WITH signs AS (
      |  SELECT i, list_transform(range(0, 64), j ->
      |    CASE WHEN ('0x' || substr(md5(7 || '_' || i || '_' || j), 1, 15))
      |      ::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END) AS s
      |  FROM (SELECT unnest(range(0, 16)) AS i))
      |SELECT e.vec_id, s.i AS dim,
      |  ROUND(list_dot_product(e.embedding::DOUBLE[], s.s) / sqrt(16), 4)
      |    + 0.0 AS v
      |FROM embeddings e CROSS JOIN signs s""".stripMargin

  /** kNN label propagation ([[graft.operators.Classify.knnPropagate]]):
    * rows with `vec_id % 5 = 0` have their label masked to null, then
    * receive the majority label of their 5 nearest LABELED neighbors by
    * 4-dp cosine — the seed-set → full-corpus auto-annotation step.
    * Vote ties break (votes desc, label asc); neighbor ties on
    * (cosine desc, id). The oracle replays the mask, every neighbor
    * rank, and both tie-breaks. */
  val q113KnnLabel: Q = (s, dir) =>
    graft.operators.Classify.knnPropagate(
      t(s, dir, "embeddings").withColumn("label",
        when(col("vec_id") % 5 === 0, lit(null)).otherwise(col("label"))),
      "vec_id", "embedding", "label", k = 5)

  val q113Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN vec_id % 5 = 0 THEN NULL ELSE label END AS label
      |  FROM embeddings),
      |nn AS (
      |  SELECT u.vec_id AS query_id, l.label,
      |    ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
      |      ROUND(list_cosine_similarity(u.embedding::DOUBLE[],
      |        l.embedding::DOUBLE[]), 4) DESC, l.vec_id) AS rank
      |  FROM e u CROSS JOIN e l
      |  WHERE u.label IS NULL AND l.label IS NOT NULL),
      |votes AS (
      |  SELECT query_id, label, COUNT(*) AS votes
      |  FROM nn WHERE rank <= 5 GROUP BY 1, 2)
      |SELECT query_id AS vec_id, label AS pred_label, votes FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY votes DESC, label) AS rn
      |  FROM votes)
      |WHERE rn = 1""".stripMargin

  /** Per-(source, lang) data card ([[graft.operators.TextAnalysis
    * .dataCard]]): the dataset-report rollup — doc/token weights,
    * length profile (exact interpolated median), exact-duplicate share,
    * and distinct-trigram diversity. Two corpus aggregations joined on
    * the slice keys; the oracle replays every metric including the
    * `percentile ≡ quantile_cont` device and the trigram explode. */
  val q114DataCard: Q = (s, dir) =>
    graft.operators.TextAnalysis.dataCard(
      t(s, dir, "documents"), "doc_id", col("text"))

  val q114Sql: String =
    """WITH base AS (
      |  SELECT source, lang,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |n AS (SELECT source, lang, len(t) AS n, t, fp FROM base),
      |doc_stats AS (
      |  SELECT source, lang, COUNT(*) AS n_docs,
      |    CAST(SUM(n) AS BIGINT) AS total_tokens,
      |    ROUND(AVG(n), 2) AS mean_tokens,
      |    ROUND(quantile_cont(n, 0.5), 1) AS p50_tokens,
      |    ROUND(1.0 - COUNT(DISTINCT fp)::DOUBLE / COUNT(*), 4)
      |      AS dup_rate
      |  FROM n GROUP BY 1, 2),
      |tg AS (
      |  SELECT source, lang, t[CAST(i AS INT)] || ' ' ||
      |    t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS g
      |  FROM n, unnest(range(1, n - 1)) AS u(i) WHERE n >= 3),
      |tri AS (
      |  SELECT source, lang,
      |    ROUND(COUNT(DISTINCT g)::DOUBLE / COUNT(*), 4)
      |      AS trigram_diversity
      |  FROM tg GROUP BY 1, 2)
      |SELECT d.source, d.lang, d.n_docs, d.total_tokens, d.mean_tokens,
      |  d.p50_tokens, d.dup_rate, t.trigram_diversity
      |FROM doc_stats d LEFT JOIN tri t
      |  ON t.source = d.source AND t.lang = d.lang""".stripMargin

  /** BPE encode + pack end-to-end ([[graft.operators.Bpe.encodeDocs]] →
    * [[graft.operators.Bpe.packTokenStream]]): the actual pretraining
    * data-prep output — every document tokenized into learned subword
    * ids (merges applied to word TYPES only, vocab arrays joined back),
    * then concat-and-cut into 128-token training sequences per source,
    * each sequence hashed order-exactly over its id stream. The oracle
    * replays the full q93 merge chain, the id assignment, both
    * position explosions, the prefix-sum pack arithmetic, and every
    * sequence hash. */
  val q115BpePack: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = graft.operators.Bpe.trainBpe(
      graft.operators.Bpe.wordTypes(docs, col("text")), bpeRounds)
    val enc = graft.operators.Bpe.encodeDocs(model, docs, "doc_id",
      col("text"))
    graft.operators.Bpe.packTokenStream(
      enc.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
      "source", "doc_id", capacity = 128)
  }

  val q115Sql: String =
    s"""WITH $bpeCtes,
       |sub AS (SELECT word, string_split(sym, ' ') AS subs
       |  FROM t$bpeRounds),
       |vocab AS (
       |  SELECT token,
       |    CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT)
       |      AS token_id
       |  FROM (SELECT DISTINCT unnest(string_split(sym, ' ')) AS token
       |    FROM t$bpeRounds)),
       |toks AS (
       |  SELECT doc_id, source, list_filter(
       |    string_split_regex(lower(text), '${"\\"}s+'),
       |    x -> len(x) > 0) AS t
       |  FROM documents),
       |dw AS (
       |  SELECT doc_id, source, CAST(i AS BIGINT) AS wp,
       |    t[CAST(i AS INT)] AS word
       |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
       |ds AS (
       |  SELECT doc_id, source, wp, CAST(j AS BIGINT) AS sp,
       |    subs[CAST(j AS INT)] AS token
       |  FROM (SELECT dw.*, sub.subs FROM dw JOIN sub USING (word)),
       |    unnest(range(1, len(subs) + 1)) AS u(j)),
       |pos AS (
       |  SELECT doc_id, source, token,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wp, sp) - 1
       |      AS pos
       |  FROM ds),
       |cnt AS (SELECT source, doc_id, COUNT(*) AS n
       |  FROM pos GROUP BY 1, 2),
       |st AS (
       |  SELECT source, doc_id,
       |    COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS strt
       |  FROM cnt),
       |g AS (
       |  SELECT p.source, v.token_id, st.strt + p.pos AS gpos
       |  FROM pos p
       |  JOIN st ON st.source = p.source AND st.doc_id = p.doc_id
       |  JOIN vocab v USING (token))
       |SELECT source, CAST(gpos // 128 AS BIGINT) AS seq_id,
       |  COUNT(*) AS n_tokens,
       |  md5(string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY gpos))
       |    AS seq_hash
       |FROM g GROUP BY 1, 2""".stripMargin

  /** Sessionized next-event training pairs ([[graft.operators
    * .EventSequences.sessionPairs]]): q19's gaps-and-islands
    * sessionization extended into training-example extraction — every
    * non-initial event becomes a (≤5-event prefix → next event type)
    * pair, the behavioral analogue of next-token data. The oracle
    * replays the session cumsum, the (ts, id) tie-break, the bounded
    * prefix window, and every joined prefix string. */
  val q116SessionPairs: Q = (s, dir) =>
    graft.operators.EventSequences.sessionPairs(
      events(s, dir), "user_id", "event_id", "ts", "event_type",
      gapMinutes = 30, maxPrefix = 5)

  val q116Sql: String =
    """WITH s AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s2 AS (
      |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_idx
      |  FROM s),
      |p AS (
      |  SELECT user_id, session_idx,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
      |      ORDER BY ts, event_id) - 1 AS BIGINT) AS step,
      |    string_agg(event_type, ' ') OVER (
      |      PARTITION BY user_id, session_idx ORDER BY ts, event_id
      |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS prefix_text,
      |    event_type AS next_type
      |  FROM s2)
      |SELECT user_id, session_idx, step, prefix_text, next_type
      |FROM p WHERE step >= 1""".stripMargin

  /** Distributed-strategy BPE training ([[graft.operators.Bpe]]
    * `trainDistributed`): q93's training with the driver route disabled
    * (`maxDriverVocab = 0`) so the cluster path — one vocab-sized pair
    * aggregation plus a one-row argmax collect per round, the chosen
    * merge applied as a narrow shuffle-free projection — runs under the
    * SAME oracle CTE chain as the driver path. BpeSpec pins the two
    * strategies equal; this entry makes the 100M-type-web-vocabulary
    * route itself hash-green rather than only spec-pinned. */
  val q117BpeDistributed: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.operators.Bpe.trainBpe(
      graft.operators.Bpe.wordTypes(docs, col("text")), bpeRounds,
      maxDriverVocab = 0L).merges
  }

  /** Tokenizer fertility/compression audit ([[graft.operators.Bpe
    * .fertilityStats]]): per-language BPE tokens-per-word and
    * chars-per-token of the q93-trained model — the fairness table a
    * data card quotes next to its mixture weights (a high-fertility
    * language pays more sequence length per word of content). Same
    * cost shape as q94: merges touch word TYPES only, docs explode to
    * words and join the broadcast vocab lengths, one |langs|-row
    * aggregate. The oracle replays the merge chain, the per-word
    * subword lengths, and every ratio. */
  val q118BpeFertility: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = graft.operators.Bpe.trainBpe(
      graft.operators.Bpe.wordTypes(docs, col("text")), bpeRounds)
    graft.operators.Bpe.fertilityStats(model, docs, "doc_id",
      col("text"), Seq("lang"))
  }

  val q118Sql: String =
    s"""WITH $bpeCtes,
       |tl AS (SELECT word, len(string_split(sym, ' ')) AS bpe_len
       |  FROM t$bpeRounds),
       |dw AS (
       |  SELECT doc_id, lang, unnest(list_filter(
       |    string_split_regex(lower(text), '${"\\"}s+'),
       |    x -> len(x) > 0)) AS word FROM documents)
       |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(len(word)) AS BIGINT) AS word_chars,
       |  CAST(SUM(COALESCE(bpe_len, len(word))) AS BIGINT) AS bpe_tokens,
       |  ROUND(CAST(SUM(COALESCE(bpe_len, len(word))) AS DOUBLE)
       |    / COUNT(*), 4) AS tokens_per_word,
       |  ROUND(CAST(SUM(len(word)) AS DOUBLE)
       |    / SUM(COALESCE(bpe_len, len(word))), 4) AS chars_per_token
       |FROM dw LEFT JOIN tl USING (word) GROUP BY lang""".stripMargin

  /** Streamed-index BM25 serving ([[graft.streaming.IndexIngest]]):
    * the corpus ingested as two micro-batches into an at-rest index dir
    * (marker-ledger commit protocol), then q70's exact query set served
    * from the read-back index — under q70's full-corpus oracle, so the
    * streaming maintenance path itself is hash-gated (the q117
    * convention: the scale/incremental route gets its own oracle
    * entry). Served tf ids are cast back to long before ranking so
    * score ties break numerically, exactly as the batch path. */
  /** Reusable at-rest index dir for the streamed-serve queries, keyed
    * by the source-table identity (path + mtime + length) so a
    * regenerated corpus gets a fresh dir while bench reps REUSE the
    * committed index — reuse IS the protocol's replay path (markers
    * short-circuit the ingest), and serving from the artifact is the
    * amortized shape. Bounded disk: one dir per (query, corpus state),
    * not one per invocation. */
  private def streamIndexDir(tag: String, dir: String,
      table: String): String = {
    // corpus identity = recursive (name, mtime, size) over the table's
    // files — File.lastModified/length on the directory alone is
    // filesystem-dependent and would key a regenerated corpus to the
    // same (stale) index dir
    def sig(f: java.io.File): String =
      if (f.isDirectory)
        // listFiles returns NULL on IO/permission errors — treat as
        // empty rather than NPE; the root-existence check below still
        // fails fast on a missing table
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName)
          .map(sig).mkString(f.getName + "{", ",", "}")
      else s"${f.getName}:${f.lastModified}:${f.length}"
    val root = new java.io.File(s"$dir/$table.parquet")
    // a missing/unreadable table root would otherwise key a constant
    // ('name:0:0') signature and silently reuse a stale index dir
    require(root.exists(),
      s"streamIndexDir: table root ${root.getAbsolutePath} does not exist")
    // pid-scoped: IndexIngest's ledger is single-writer, so the dir is
    // shared across this process's bench reps but never across
    // concurrently-running processes; cleaned on JVM exit
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|${sig(root)}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-$tag-$key-p${ProcessHandle.current.pid}")
    registerCleanup(out)
    out.getAbsolutePath
  }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def registerCleanup(dir: java.io.File): Unit =
    if (cleanupRegistered.add(dir.getAbsolutePath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(dir)
      }))

  val q119Bm25StreamServe: Q = (s, dir) => {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val ingestDir = streamIndexDir("q119", dir, "documents")
    graft.streaming.IndexIngest.ingestBm25Batch(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L, ingestDir)
    graft.streaming.IndexIngest.ingestBm25Batch(
      docs.filter(pmod(col("doc_id"), lit(2)) =!= 0), 1L, ingestDir)
    val idx = graft.streaming.IndexIngest.readBm25(s, ingestDir)
    val numericIdx = graft.operators.Retrieval.Bm25Index(
      idx.tf.withColumn("__id", col("__id").cast("long")),
      idx.df, idx.stats)
    val queries = Seq(
      (1L, "table hash join value"),
      (2L, "spark window agg batch"),
      (3L, "fast slow row scan")).toDF("query_id", "query_text")
    graft.operators.Retrieval.bm25TopKWithIndex(numericIdx, queries, k = 5)
  }

  /** Streamed-index IVF serving: q43's centroids bootstrapped, the
    * embedding corpus ingested as two micro-batches against them, the
    * read-back index served with q43's parameters — hash-gated by
    * q43's oracle (ingest ≡ rebuild is the operator's contract; this
    * entry proves it through the at-rest dirs and commit protocol). */
  val q120IvfStreamServe: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cents = emb.select(col("vec_id").cast("long"), col("embedding"))
      .orderBy("vec_id").limit(16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
    val ingestDir = streamIndexDir("q120", dir, "embeddings")
    graft.streaming.IndexIngest.bootstrapIvf(s, ingestDir, cents)
    graft.streaming.IndexIngest.ingestIvfBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, ingestDir)
    graft.streaming.IndexIngest.ingestIvfBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) =!= 0), 1L, ingestDir)
    graft.operators.Similarity.ivfTopKWithIndex(
      graft.streaming.IndexIngest.readIvf(s, ingestDir), queries,
      k = 5, nprobe = 4)
  }

  /** Streamed-index BM25 DELETION
    * ([[graft.streaming.IndexIngest.deleteBm25Docs]]), oracle-gated:
    * the corpus ingested as two micro-batches, a known takedown set
    * (doc_id ≡ 3 mod 10) deleted under the namespaced `del-` ledger
    * (staged snapshot → negative df/stats partials → tombstones → tf
    * purge), then q70's exact query set served from the read-back
    * index — hash-gated by q70's oracle over corpus-MINUS-deleted, so
    * the deletion protocol's served-score exactness is proven by the
    * correctness gate, not only by spec (the q119 convention applied
    * to deletion). Warm bench reps replay ingest AND deletion as O(1)
    * marker no-ops — the amortized serve shape. */
  val q121Bm25Delete: Q = (s, dir) => {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val ingestDir = streamIndexDir("q121", dir, "documents")
    graft.streaming.IndexIngest.ingestBm25Batch(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L, ingestDir)
    graft.streaming.IndexIngest.ingestBm25Batch(
      docs.filter(pmod(col("doc_id"), lit(2)) =!= 0), 1L, ingestDir)
    // bounded takedown list (a deletion is a governance event, not a
    // corpus-scale operation)
    val doomed = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id").cast("string")).as[String].collect().toSeq
    graft.streaming.IndexIngest.deleteBm25Docs(s, ingestDir, doomed,
      deleteId = 0L)
    val idx = graft.streaming.IndexIngest.readBm25(s, ingestDir)
    val numericIdx = graft.operators.Retrieval.Bm25Index(
      idx.tf.withColumn("__id", col("__id").cast("long")),
      idx.df, idx.stats)
    val queries = Seq(
      (1L, "table hash join value"),
      (2L, "spark window agg batch"),
      (3L, "fast slow row scan")).toDF("query_id", "query_text")
    graft.operators.Retrieval.bm25TopKWithIndex(numericIdx, queries, k = 5)
  }

  /** q70's oracle over the corpus minus the deleted docs — served
    * scores after deletion must equal a rebuild that never saw them. */
  val q121Sql: String =
    q70Sql.replace("FROM documents", "FROM documents WHERE doc_id % 10 <> 3")

  /** Streamed-index PQ serving ([[graft.streaming.IndexIngest
    * .ingestPqBatch]]): q62's deterministic codebook (the 16 lowest-id
    * vectors sliced into 8 subspaces) bootstrapped as the frozen
    * artifact, the embedding corpus ingested as two micro-batches of
    * code rows under the marker ledger, the read-back index served
    * with q62's ADC parameters — hash-gated by q62's full-corpus
    * oracle, completing streamed maintenance for the third index
    * family (BM25 q119, IVF q120, PQ here). */
  val q122PqStreamServe: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val base = emb.select(col("vec_id").cast("long"), col("embedding"))
      .orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Float](1).toSeq).toSeq
    val dim = base.head.size
    val sd = dim / 8
    val cb = (0 until 8).map(j => base.map(_.slice(j * sd, j * sd + sd)))
    val ingestDir = streamIndexDir("q122", dir, "embeddings")
    graft.streaming.IndexIngest.bootstrapPq(s, ingestDir, cb)
    graft.streaming.IndexIngest.ingestPqBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, ingestDir)
    graft.streaming.IndexIngest.ingestPqBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) =!= 0), 1L, ingestDir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.pqTopKWithIndex(
      graft.streaming.IndexIngest.readPq(s, ingestDir), queries, k = 5)
  }

  /** Right-to-be-forgotten at REST, oracle-gated
    * ([[graft.streaming.DedupIngest.deleteCorpusDocs]]): a corpus dir in
    * the DedupIngest layout (corpus rows + id-keyed MinHash signature
    * and band-index sides), a known takedown set (doc_id ≡ 3 mod 10)
    * deleted under the `del-` marker ledger, then served: each surviving
    * doc with the number of near-dup CANDIDATES its band buckets still
    * yield. Hash-gated against DuckDB replaying the band index over
    * corpus-MINUS-deleted — so BOTH purge surfaces are under the
    * correctness gate: a stale corpus row changes the output grain, a
    * stale band row changes a candidate count (the deleted doc would
    * still surface as somebody's candidate). Band keys here are the
    * PORTABLE form (comma-joined 8-minima slices of [[q24SigCtes]]'s
    * signatures) so the oracle replays them verbatim; the ingest-side
    * dedup gates are spec-covered (DedupIngestSpec), this entry gates
    * the DELETION protocol. Warm bench reps skip the build (marker) and
    * replay the deletion as an O(1) no-op — the amortized serve shape,
    * as q119/q121. */
  val q123CorpusForget: Q = (s, dir) => {
    import s.implicits._
    val d = streamIndexDir("q123", dir, "documents")
    val root = new java.io.File(d)
    val built = new java.io.File(root, "_built")
    if (!built.exists()) {
      // wipe a half-built dir (crash between the writes below) so reuse
      // never serves a partial corpus; the _built marker commits it
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(root)
      val docs = t(s, dir, "documents")
      docs.select("doc_id", "text", "lang").write.parquet(s"$d/corpus")
      val sigs = portableMinhashSigs(s, dir)
      sigs.select(col("doc_id").cast("string").as("__mid"), col("sig"))
        .write.parquet(s"$d/msigs")
      sigs.select(col("doc_id").cast("string").as("__mid"),
          posexplode(expr("transform(sequence(0, 7), r -> " +
            "concat_ws(',', transform(slice(sig, r*8+1, 8), " +
            "x -> cast(x as string))))"))
            .as(Seq("band_idx", "band_key")))
        .select("band_idx", "band_key", "__mid")
        .write.parquet(s"$d/mbands")
      graft.operators.Dedup.releasePersisted()
      built.createNewFile(): Unit
    }
    // bounded takedown list — a governance event, not a corpus scan
    val doomed = t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id").cast("string")).as[String].collect().toSeq
    graft.streaming.DedupIngest.deleteCorpusDocs(s, d, doomed, deleteId = 0L)
    val corpus = s.read.parquet(s"$d/corpus")
    val bands = s.read.parquet(s"$d/mbands")
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__mid") =!= col("b.__mid"))
      .select(col("a.__mid").as("__mid"), col("b.__mid").as("__other"))
      .distinct()
      .groupBy("__mid").agg(count(lit(1)).as("n_cands"))
    corpus.select(col("doc_id"), col("lang"))
      .join(cands, col("doc_id").cast("string") === col("__mid"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"))
  }

  val q123Sql: String = {
    val sigCtes = q24SigCtes.replace("FROM documents)",
      "FROM documents WHERE doc_id % 10 <> 3)")
    s"""WITH $sigCtes,
       |bk AS (
       |  SELECT doc_id, band_idx, array_to_string(bkey, ',') AS band_key
       |  FROM band),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other
       |  FROM bk a JOIN bk b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |      AND a.doc_id <> b.doc_id),
       |nc AS (SELECT doc_id, COUNT(*) AS n_cands FROM cand GROUP BY doc_id)
       |SELECT d.doc_id, d.lang, COALESCE(nc.n_cands, 0) AS n_cands
       |FROM documents d LEFT JOIN nc ON nc.doc_id = d.doc_id
       |WHERE d.doc_id % 10 <> 3""".stripMargin
  }

  /** Residual-encoded IVF-PQ ADC top-5
    * ([[graft.operators.Similarity.ivfPqResidualTopK]]) — the IVFADC
    * composite FAISS's `IndexIVFPQ` defaults to: PQ codes describe the
    * residual against the assigned cell centroid, distances serve in
    * the `rr − 2·rc + cc` squared-L2 form with no vector
    * reconstruction. Every discrete choice (cell assignment, code
    * assignment, probe ranking, final rank) happens on 4dp-rounded
    * values with id/code tie-breaks, so DuckDB replays the WHOLE
    * pipeline — centroids, residuals, the next-16-by-id residual
    * codebook, per-cell query lookup tables, ADC sums. */
  val q124IvfPqResidual: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.operators.Similarity.ivfPqResidualTopK(emb, queries, k = 5,
      numCells = 16, nprobe = 4, m = 8, codebookSize = 16)
  }

  val q124Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |cent AS (
      |  SELECT vec_id AS cell, e AS cvec FROM e ORDER BY vec_id LIMIT 16),
      |scored AS (
      |  SELECT e.vec_id, e.e, c.cell,
      |    ROUND(list_cosine_similarity(e.e, c.cvec), 4) AS cos
      |  FROM e CROSS JOIN cent c),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cell) AS rn
      |  FROM scored),
      |asg AS (SELECT vec_id, e, cell FROM ranked WHERE rn = 1),
      |res AS (
      |  SELECT a.vec_id, a.cell,
      |    list_transform(range(1, len(a.e) + 1),
      |      i -> a.e[i] - c.cvec[i]) AS r
      |  FROM asg a JOIN cent c ON c.cell = a.cell),
      |cbsrc AS (
      |  SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 16 OFFSET 16),
      |cb AS (
      |  SELECT CAST(j AS INT) AS j,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1
      |      AS INT) AS code,
      |    list_slice(r, j * 8 + 1, j * 8 + 8) AS cvec
      |  FROM cbsrc, unnest(range(0, 8)) AS u(j)),
      |subs AS (
      |  SELECT vec_id, cell, CAST(j AS INT) AS j,
      |    list_slice(r, j * 8 + 1, j * 8 + 8) AS sub
      |  FROM res, unnest(range(0, 8)) AS u(j)),
      |assign AS (
      |  SELECT s.vec_id, s.cell, s.j, cb.code,
      |    ROUND(list_dot_product(s.sub, s.sub)
      |      - 2 * list_dot_product(s.sub, cb.cvec)
      |      + list_dot_product(cb.cvec, cb.cvec), 4) AS d
      |  FROM subs s JOIN cb ON cb.j = s.j),
      |codes AS (
      |  SELECT vec_id, cell, j, code FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
      |      ORDER BY d ASC, code) AS rn
      |    FROM assign) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, e AS qvec, cell
      |  FROM ranked WHERE vec_id < 3 AND rn <= 4),
      |qres AS (
      |  SELECT p.query_id, p.cell,
      |    list_transform(range(1, len(p.qvec) + 1),
      |      i -> p.qvec[i] - c.cvec[i]) AS qr
      |  FROM probes p JOIN cent c ON c.cell = p.cell),
      |qsubs AS (
      |  SELECT query_id, cell, CAST(j AS INT) AS j,
      |    list_slice(qr, j * 8 + 1, j * 8 + 8) AS qsub
      |  FROM qres, unnest(range(0, 8)) AS u(j)),
      |adc AS (
      |  SELECT q.query_id, c.vec_id,
      |    ROUND(SUM(list_dot_product(q.qsub, q.qsub)
      |      - 2 * list_dot_product(q.qsub, cb.cvec)
      |      + list_dot_product(cb.cvec, cb.cvec)), 4) AS dist_adc
      |  FROM codes c
      |  JOIN cb ON cb.j = c.j AND cb.code = c.code
      |  JOIN qsubs q ON q.cell = c.cell AND q.j = c.j
      |  GROUP BY q.query_id, c.vec_id)
      |SELECT query_id, rank, vec_id, dist_adc + 0.0 AS dist_adc FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY dist_adc ASC, vec_id) AS rank
      |  FROM adc) WHERE rank <= 5""".stripMargin

  /** Logistic linear probe trained on frozen embeddings
    * ([[graft.operators.Classify.trainLogisticEmb]]): 3 rounds of
    * full-batch GD on mean log-loss (y = label < 5), then every vector
    * scored with the trained margin — the discriminative sibling of
    * q87's Naive Bayes and the embedding-head quality filter a training
    * mix actually deploys. Full-batch means no sample-order dependence:
    * the oracle UNROLLS the three iterations as CTEs (the q93 BPE
    * device applied to GD) — each round one sigmoid pass and one
    * per-dimension gradient aggregate — and replays margins to 4 dp.
    * Scale: each round is a narrow codegen pass (native dot against
    * the broadcast weight literal) plus a |dim|-row shuffle; driver
    * state is dim+1 doubles. */
  val q125LogitProbe: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val model = graft.operators.Classify.trainLogisticEmb(
      emb, col("embedding"), col("label") < 5, iters = 3, lr = 0.5)
    graft.operators.Classify.scoreLogisticEmb(
        model, emb, "vec_id", col("embedding"))
      // + 0.0 folds IEEE negative zero (q112's device): a margin that
      // rounds to ±0.0 must hash identically cross-engine
      .select(col("vec_id"), (round(col("logit"), 4) + lit(0.0)).as("logit"),
        col("pred"))
  }

  /** The unrolled-GD CTE chain shared by the probe queries (q125 scores,
    * q127 reweights): `e` (vectors + binary y + raw label), `n`, and
    * w0/b0 → w`iters`/b`iters` via per-round sigmoid + gradient CTEs. */
  private def logitGdCtes(iters: Int, lr: String): String = {
    val head =
      """e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |    CAST(label < 5 AS DOUBLE) AS y
        |  FROM embeddings),
        |n AS (SELECT COUNT(*)::DOUBLE AS n FROM e),
        |w0 AS (SELECT CAST(i AS INT) AS dim, 0.0 AS wv
        |  FROM unnest(range(0, 64)) AS t(i)),
        |b0 AS (SELECT 0.0 AS b)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""p$k AS (
         |  SELECT vec_id, y,
         |    1.0 / (1.0 + exp(-((SELECT b FROM b${k - 1})
         |      + list_dot_product(v, (SELECT list(wv ORDER BY dim)
         |          FROM w${k - 1}))))) AS p
         |  FROM e),
         |g$k AS (
         |  SELECT CAST(u.i AS INT) AS dim,
         |    SUM((p.p - p.y) * e.v[CAST(u.i AS INT) + 1]) AS g
         |  FROM p$k p JOIN e ON e.vec_id = p.vec_id
         |  CROSS JOIN unnest(range(0, 64)) AS u(i)
         |  GROUP BY u.i),
         |w$k AS (
         |  SELECT w.dim, w.wv - $lr * g.g / (SELECT n FROM n) AS wv
         |  FROM w${k - 1} w JOIN g$k g ON g.dim = w.dim),
         |b$k AS (
         |  SELECT (SELECT b FROM b${k - 1})
         |    - $lr * (SELECT SUM(p - y) FROM p$k)
         |      / (SELECT n FROM n) AS b)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$steps"
  }

  val q125Sql: String =
    s"""WITH ${logitGdCtes(3, "0.5")}
       |SELECT e.vec_id,
       |  ROUND((SELECT b FROM b3) + list_dot_product(e.v,
       |    (SELECT list(wv ORDER BY dim) FROM w3)), 4) + 0.0 AS logit,
       |  CAST(((SELECT b FROM b3) + list_dot_product(e.v,
       |    (SELECT list(wv ORDER BY dim) FROM w3))) > 0 AS INT)
       |    AS pred
       |FROM e""".stripMargin

  /** ANN-gated margin bitext mining
    * ([[graft.operators.Similarity.mineBitextWithIndex]] — the CCMatrix
    * pipeline): every 5th vector is the "source language", the rest the
    * target pool — BOTH sides corpus-proportional, so the exact
    * all-pairs form ([[graft.operators.Similarity.mineBitext]], whose
    * contract requires a BOUNDED mining batch) would be quadratic in
    * SF. Instead each side gets an IVF index (16 lowest-id centroids),
    * candidates come from nprobe=4 cell-partitioned joins in BOTH
    * directions at depth 16, and the unchanged margin algebra (top-4
    * neighborhood means, 1.05 accept) runs over the candidate graph.
    * The oracle replays the whole gate: both centroid sets, both cell
    * assignments, both probe rankings, both candidate depth cuts, the
    * averages, the margin and the flag — all on 4dp-rounded values
    * with id tie-breaks (the q43 convention applied to q126). The
    * exact≡gated equivalence at full probes/depth is spec-checked. */
  val q126BitextMine: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    // the coarse quantizer must SCALE with the corpus (constant target
    // cell size ≈ 32, the scaladoc's subquadratic condition — fixed
    // cells would re-grow the per-probe scan linearly with SF); the
    // formula is replayed by the oracle's scalar-subquery LIMIT
    val numCells = graft.operators.Similarity.scaledCellCount(emb.count())
    graft.operators.Similarity.mineBitextWithIndex(
      emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      k = 4, depth = 16, threshold = 1.05, numCells = numCells, nprobe = 4)
  }

  val q126Sql: String =
    """WITH src AS (
      |  SELECT vec_id AS id, embedding::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id % 5 = 0),
      |tgt AS (
      |  SELECT vec_id AS id, embedding::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id % 5 <> 0),
      |nc AS (
      |  SELECT LEAST(4096, GREATEST(16, COUNT(*) // 32)) AS n
      |  FROM embeddings),
      |cent_t AS (
      |  SELECT id AS cell, v AS cv FROM tgt ORDER BY id
      |  LIMIT (SELECT n FROM nc)),
      |cent_s AS (
      |  SELECT id AS cell, v AS cv FROM src ORDER BY id
      |  LIMIT (SELECT n FROM nc)),
      |rt AS (
      |  SELECT t.id, t.v, c.cell, ROW_NUMBER() OVER (PARTITION BY t.id
      |    ORDER BY ROUND(list_cosine_similarity(t.v, c.cv), 4) DESC,
      |      c.cell) AS rn
      |  FROM tgt t CROSS JOIN cent_t c),
      |asg_t AS (SELECT id, v, cell FROM rt WHERE rn = 1),
      |rs AS (
      |  SELECT s.id, s.v, c.cell, ROW_NUMBER() OVER (PARTITION BY s.id
      |    ORDER BY ROUND(list_cosine_similarity(s.v, c.cv), 4) DESC,
      |      c.cell) AS rn
      |  FROM src s CROSS JOIN cent_s c),
      |asg_s AS (SELECT id, v, cell FROM rs WHERE rn = 1),
      |ps AS (
      |  SELECT s.id, s.v, c.cell, ROW_NUMBER() OVER (PARTITION BY s.id
      |    ORDER BY ROUND(list_cosine_similarity(s.v, c.cv), 4) DESC,
      |      c.cell) AS rn
      |  FROM src s CROSS JOIN cent_t c),
      |pt AS (
      |  SELECT t.id, t.v, c.cell, ROW_NUMBER() OVER (PARTITION BY t.id
      |    ORDER BY ROUND(list_cosine_similarity(t.v, c.cv), 4) DESC,
      |      c.cell) AS rn
      |  FROM tgt t CROSS JOIN cent_s c),
      |fwd AS (
      |  SELECT p.id AS src_id, a.id AS tgt_id,
      |    ROUND(list_cosine_similarity(p.v, a.v), 4) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY p.id
      |      ORDER BY ROUND(list_cosine_similarity(p.v, a.v), 4) DESC,
      |        a.id) AS rn
      |  FROM (SELECT id, v, cell FROM ps WHERE rn <= 4) p
      |  JOIN asg_t a ON a.cell = p.cell),
      |fwdd AS (SELECT * FROM fwd WHERE rn <= 16),
      |bwd AS (
      |  SELECT a.id AS src_id, p.id AS tgt_id,
      |    ROUND(list_cosine_similarity(p.v, a.v), 4) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY p.id
      |      ORDER BY ROUND(list_cosine_similarity(p.v, a.v), 4) DESC,
      |        a.id) AS rn
      |  FROM (SELECT id, v, cell FROM pt WHERE rn <= 4) p
      |  JOIN asg_s a ON a.cell = p.cell),
      |bwdd AS (SELECT * FROM bwd WHERE rn <= 16),
      |ax AS (
      |  SELECT src_id, AVG(cos) AS a FROM fwdd WHERE rn <= 4 GROUP BY 1),
      |ay AS (
      |  SELECT tgt_id, AVG(cos) AS a FROM bwdd WHERE rn <= 4 GROUP BY 1),
      |pairs AS (
      |  SELECT DISTINCT src_id, tgt_id, cos FROM (
      |    SELECT src_id, tgt_id, cos FROM fwdd
      |    UNION ALL SELECT src_id, tgt_id, cos FROM bwdd)),
      |m AS (
      |  SELECT p.src_id, p.tgt_id, p.cos,
      |    CASE WHEN 0.5 * (ax.a + ay.a) > 0
      |      THEN ROUND(p.cos / (0.5 * (ax.a + ay.a)), 4) END AS margin
      |  FROM pairs p JOIN ax ON ax.src_id = p.src_id
      |  JOIN ay ON ay.tgt_id = p.tgt_id)
      |SELECT src_id, tgt_id, cos AS cosine, margin,
      |  CASE WHEN margin >= 1.05 THEN 1 ELSE 0 END AS accepted
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
      |    ORDER BY margin DESC NULLS LAST, tgt_id) AS rn
      |  FROM m)
      |WHERE rn = 1""".stripMargin

  /** Domain reweighting from per-domain proxy loss
    * ([[graft.operators.Classify.excessLossWeights]]): q125's trained
    * probe scores every vector, per-label mean log-loss feeds the
    * DoReMi multiplicative-weights softmax (frozen-proxy closed form)
    * — the weights a mixture sampler (q92) would consume. The oracle
    * extends q125's unrolled-GD CTE chain with the loss, the
    * per-domain means and the softmax. One |domains|-row aggregate +
    * a bounded single-partition softmax window. */
  val q127DomainWeights: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val model = graft.operators.Classify.trainLogisticEmb(
      emb, col("embedding"), col("label") < 5, iters = 3, lr = 0.5)
    val scored = graft.operators.Classify.scoreLogisticEmb(
        model, emb, "vec_id", col("embedding"))
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    graft.operators.Classify.excessLossWeights(
        scored, "label", col("label") < 5, col("logit"), eta = 1.0)
      .select(col("label"), col("n_docs"),
        round(col("mean_loss"), 4).as("mean_loss"),
        round(col("weight"), 4).as("weight"))
  }

  val q127Sql: String =
    s"""WITH ${logitGdCtes(3, "0.5")},
       |sc AS (
       |  SELECT e.label, e.y,
       |    (SELECT b FROM b3) + list_dot_product(e.v,
       |      (SELECT list(wv ORDER BY dim) FROM w3)) AS logit
       |  FROM e),
       |byg AS (
       |  SELECT label, COUNT(*) AS n_docs,
       |    AVG(ln(1.0 + exp(-(2.0 * y - 1.0) * logit))) AS mean_loss
       |  FROM sc GROUP BY label)
       |SELECT label, n_docs, ROUND(mean_loss, 4) AS mean_loss,
       |  ROUND(exp(1.0 * mean_loss)
       |    / SUM(exp(1.0 * mean_loss)) OVER (), 4) AS weight
       |FROM byg""".stripMargin

  /** Perceptual-hash image dedup through a REAL codec round-trip
    * ([[graft.operators.Multimodal.encodeGrayPngs]] →
    * [[graft.operators.Multimodal.decodeGrayPixels]] →
    * [[graft.functions.VectorExpressions.DHashBits]] →
    * [[graft.operators.Dedup.simhashPairsFromHashes]]): 8×8 grayscale
    * images are synthesized from a PORTABLE pixel formula (first md5
    * byte of "pid:i"), PNG-encoded and decoded with actual JDK ImageIO,
    * dHashed (56 difference bits), and near-dup paired by the
    * pigeonhole Hamming join. Docs ≡3 (mod 10) carry a one-pixel-edited
    * copy of doc−3's image — the planted near-dup class (Hamming ≤ 1).
    * The oracle replays pixels → dHash → brute-force Hamming pairs
    * from the FORMULA: PNG is lossless, so the decoded grid must equal
    * the generated grid — any codec deviation changes the hash and
    * fails the gate, which is what makes a real-codec path oracleable
    * at all. Payloads never shuffle (iterator-to-iterator codec
    * passes); the pair join is the guarded simhash piece join. */
  val q128ImageDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .repartition(col("doc_id"))
    val base = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 3, col("doc_id") - 3)
        .otherwise(col("doc_id")).as("__pid"))
    // fused md5-byte kernel (r21): one native pass replaces the
    // 64-element interpreted transform + md5 hex/conv per element —
    // values bit-identical (SigExpressionsSpec); the i=0 near-dup shift
    // is applied HOF-free on the first element only
    val pxBase = graft.functions.SigExpressions.md5ByteSeq(
      concat(col("__pid").cast("string"), lit(":")), 64)
    val gen = base
      .select(col("doc_id"), pxBase.as("__b"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 3,
          concat(
            array(pmod(element_at(col("__b"), 1) + 16, lit(256)).cast("int")),
            slice(col("__b"), 2, 63)))
          .otherwise(col("__b")).as("__px"))
    val pngs = graft.operators.Multimodal.encodeGrayPngs(
      gen, "doc_id", "__px", 8, 8)
    val dec = graft.operators.Multimodal.decodeGrayPixels(
      pngs, "media_id", "payload")
    val hashed = dec.filter(col("decoded"))
      .select(col("media_id").as("doc_id"),
        graft.functions.VectorExpressions.dhashBits(col("pixels"), 8, 8)
          .as("simhash"))
    graft.operators.Dedup.simhashPairsFromHashes(hashed, "doc_id",
      numBits = 56, maxHamming = 3)
  }

  val q128Sql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 3 THEN doc_id - 3 ELSE doc_id END AS pid
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, list_transform(range(0, 64), i ->
      |    CAST((('0x' || substr(md5(pid || ':' || i), 1, 2))::INT
      |      + CASE WHEN doc_id % 10 = 3 AND i = 0 THEN 16 ELSE 0 END)
      |      % 256 AS INT)) AS p
      |  FROM base),
      |dh AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 56), k ->
      |    CASE WHEN p[CAST(k // 7 AS INT) * 8 + CAST(k % 7 AS INT) + 2]
      |            > p[CAST(k // 7 AS INT) * 8 + CAST(k % 7 AS INT) + 1]
      |      THEN CAST(1 AS BIGINT) << CAST(k AS INT)
      |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h
      |  FROM px)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
      |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin

  /** Image RESIZE oracle-gated behind the real codec (q128's device
    * extended one pipeline stage): 8×8 gray pixels from the portable
    * md5 formula → REAL JDK PNG round trip (lossless → decoded ≡
    * formula) → [[graft.operators.Multimodal.resizeGrayNearest]] down
    * to 4×4 → per-image dHash + weighted pixel checksum. DuckDB
    * replays the formula, the nearest-neighbor index arithmetic, the
    * 12-bit hash and the checksum verbatim — any codec or resample
    * deviation fails the gate. */
  val q156ImageResize: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .repartition(col("doc_id"))
    // fused md5-byte kernel (r21, the q128 device): the %256 of the
    // original expression is the identity on a 0-255 digest byte
    val gen = docs.select(col("doc_id"),
      graft.functions.SigExpressions.md5ByteSeq(
        concat(col("doc_id").cast("string"), lit(":")), 64).as("__px"))
    val pngs = graft.operators.Multimodal.encodeGrayPngs(
      gen, "doc_id", "__px", 8, 8)
    val dec = graft.operators.Multimodal.decodeGrayPixels(
      pngs, "media_id", "payload")
    dec.filter(col("decoded"))
      .select(col("media_id").as("doc_id"),
        graft.operators.Multimodal.resizeGrayNearest(
          col("pixels"), 8, 8, 4, 4).as("__sm"))
      .select(col("doc_id"),
        graft.functions.VectorExpressions.dhashBits(col("__sm"), 4, 4)
          .as("dhash"),
        expr("aggregate(zip_with(__sm, sequence(1, 16), " +
          "(v, w) -> cast(v * w as bigint)), cast(0 as bigint), " +
          "(a, x) -> a + x)").as("pixsum"))
  }

  val q156Sql: String =
    """WITH px AS (
      |  SELECT doc_id, list_transform(range(0, 64), i ->
      |    CAST(('0x' || substr(md5(doc_id || ':' || i), 1, 2))::INT
      |      % 256 AS INT)) AS p
      |  FROM documents),
      |sm AS (
      |  SELECT doc_id, list_transform(range(0, 16), k ->
      |    p[(CAST(k // 4 AS INT) * 2) * 8 + (CAST(k % 4 AS INT) * 2) + 1])
      |    AS q
      |  FROM px)
      |SELECT doc_id,
      |  CAST(list_sum(list_transform(range(0, 12), k ->
      |    CASE WHEN q[CAST(k // 3 AS INT) * 4 + CAST(k % 3 AS INT) + 2]
      |            > q[CAST(k // 3 AS INT) * 4 + CAST(k % 3 AS INT) + 1]
      |      THEN CAST(1 AS BIGINT) << CAST(k AS INT)
      |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash,
      |  CAST(list_sum(list_transform(range(0, 16), k ->
      |    CAST(q[CAST(k AS INT) + 1] AS BIGINT) * (k + 1))) AS BIGINT)
      |    AS pixsum
      |FROM sm""".stripMargin

  /** Hilbert-curve clustering key ([[graft.operators.Layout
    * .withHilbertKey]] — q155's better-locality sibling: consecutive
    * keys are always ADJACENT cells, so range-contiguous files cover
    * connected regions with no Z-seam teleports). Same exact-integer
    * quantization; the classic xy→d loop replays level by level — the
    * oracle generates one CTE per bit level (8 levels at 8 bits/dim),
    * each applying the rx/ry extraction, the d increment and the
    * reflect-and-swap rotation in integer SQL. */
  val q157HilbertKey: Q = (s, dir) => {
    val ev = events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    graft.operators.Layout.withHilbertKey(
        ev, col("user_id"), col("ts_us"), bits = 8, keyCol = "hkey")
      .select(col("event_id"), col("hkey"))
  }

  val q157Sql: String = {
    val bits = 8
    val n = 1 << bits
    val levels = (0 until bits).map { k =>
      val sVal = n >> (k + 1)
      s"""l${k + 1} AS (
         |  SELECT event_id,
         |    CASE WHEN ry = 0 THEN CASE WHEN rx = 1
         |      THEN ${n - 1} - y ELSE y END ELSE x END AS x,
         |    CASE WHEN ry = 0 THEN CASE WHEN rx = 1
         |      THEN ${n - 1} - x ELSE x END ELSE y END AS y,
         |    d + ${sVal.toLong * sVal} * xor(3 * rx, ry) AS d
         |  FROM (SELECT event_id, x, y, d,
         |    CASE WHEN (x & $sVal) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (y & $sVal) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM l$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |l0 AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * ${n - 1})
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS x,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * ${n - 1})
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM events),
       |$levels
       |SELECT event_id, d AS hkey FROM l$bits""".stripMargin
  }

  /** Interpolated Kneser-Ney bigram perplexity scores
    * ([[graft.operators.TextAnalysis.knBigramLmScores]]) — the
    * smoothing the KenLM-based CCNet quality filter actually runs,
    * next to q59's add-one baseline: discounted bigram mass
    * interpolates with the CONTINUATION probability (distinct-history
    * counts), so often-seen-but-single-context words stop being
    * flattered. Same plan shape as q59 (one pair-keyed shuffle); the
    * oracle replays counts, both N1+ tables, T and every log term. */
  val q129KnLm: Q = (s, dir) =>
    graft.operators.TextAnalysis.knBigramLmScores(
      t(s, dir, "documents").repartition(col("doc_id")), "doc_id",
      col("text"))

  val q129Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
      |hd AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1, COUNT(*) AS nf
      |  FROM c2 GROUP BY w1),
      |bwd AS (SELECT w2, COUNT(*) AS nb FROM c2 GROUP BY w2),
      |tt AS (SELECT COUNT(*) AS tt FROM c2),
      |scored AS (
      |  SELECT bg.doc_id,
      |    ln((c2.c2 - 0.75) / hd.c1
      |      + 0.75 * hd.nf / hd.c1 * (bwd.nb / tt.tt)) AS lp
      |  FROM bg JOIN c2 USING (w1, w2) JOIN hd USING (w1)
      |  JOIN bwd USING (w2) CROSS JOIN tt)
      |SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 4) AS avg_logp
      |FROM scored GROUP BY doc_id""".stripMargin

  /** Embedding covariance matrix
    * ([[graft.operators.Similarity.embeddingCovariance]]): the full
    * upper-triangle sample covariance from ONE
    * [[graft.functions.MomentSums]] scan — the statistic behind
    * whitening ([[graft.operators.Similarity.whitenEmbeddings]],
    * spec-gated to produce identity covariance), anisotropy audits and
    * PCA preprocessing. The corpus is never pair-exploded: the typed
    * aggregate's `1+d+d(d+1)/2`-double buffer is the only shuffled
    * state. The oracle replays Σx, Σxy and the cov formula per pair. */
  val q130EmbedCov: Q = (s, dir) =>
    graft.operators.Similarity.embeddingCovariance(
        t(s, dir, "embeddings"), "embedding", 64)
      .select(col("i"), col("j"),
        (round(col("cov"), 4) + lit(0.0)).as("cov"))

  val q130Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT COUNT(*)::DOUBLE AS n FROM e),
      |x AS (SELECT vec_id, CAST(i AS INT) AS i, v[CAST(i AS INT) + 1] AS x
      |  FROM e, unnest(range(0, 64)) AS u(i)),
      |sx AS (SELECT i, SUM(x) AS sx FROM x GROUP BY i),
      |p AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy
      |  FROM x a JOIN x b ON b.vec_id = a.vec_id AND b.i >= a.i
      |  GROUP BY a.i, b.i)
      |SELECT p.i, p.j, ROUND((p.sxy - sa.sx * sb.sx / (SELECT n FROM n))
      |    / ((SELECT n FROM n) - 1.0), 4) + 0.0 AS cov
      |FROM p JOIN sx sa ON sa.i = p.i JOIN sx sb ON sb.i = p.j""".stripMargin

  /** Generated oracle chain for the unigram-LM tokenizer (q131): one
    * Viterbi DP unroll = `maxLen` position CTEs (each the argmax over
    * ≤ `maxPieceLen` split branches, ties (score DESC, split ASC)),
    * plus a `maxLen`-step backtrack walk — run twice (initial scores,
    * then the hard-EM re-scores). Integer path scores make every
    * comparison exact cross-engine ([[graft.operators.UnigramLm]]'s
    * exactness note); `2²⁰` is the quantization. */
  private def unigramCtes(maxLen: Int, maxPieceLen: Int,
      vocabSize: Int): String = {
    // one DP + backtrack pass against vocabulary table `voc`: emits
    // b{tag}1..b{tag}maxLen, bp{tag}, wk{tag}0..wk{tag}maxLen,
    // pieces{tag}, c{tag} (freq-weighted piece counts)
    def pass(tag: String, voc: String): String = {
      val dp = (1 to maxLen).map { i =>
        val branches = (math.max(0, i - maxPieceLen) until i).map { j =>
          s"""SELECT w.word, b.best + v.s AS best, $j AS bj
             |      FROM w JOIN b$tag$j b ON b.word = w.word
             |      JOIN $voc v ON v.p = substr(w.word, $j + 1, ${i - j})
             |      WHERE len(w.word) >= $i""".stripMargin
        }.mkString("\n      UNION ALL\n      ")
        s"""b$tag$i AS MATERIALIZED (
           |  SELECT word, best, bj FROM (
           |    SELECT word, best, bj, ROW_NUMBER() OVER (PARTITION BY word
           |      ORDER BY best DESC, bj ASC) AS rn FROM (
           |      $branches))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val bp = s"bp$tag AS MATERIALIZED (" + (1 to maxLen)
        .map(i => s"SELECT word, $i AS i, bj FROM b$tag$i")
        .mkString(" UNION ALL ") + ")"
      val walk = (1 to maxLen).map { k =>
        s"""wk$tag$k AS MATERIALIZED (
           |  SELECT w.word, bp.bj AS pos,
           |    substr(w.word, bp.bj + 1, w.pos - bp.bj) AS piece
           |  FROM wk$tag${k - 1} w JOIN bp$tag bp
           |    ON bp.word = w.word AND bp.i = w.pos
           |  WHERE w.pos > 0)""".stripMargin
      }.mkString(",\n")
      val pieces = s"pieces$tag AS MATERIALIZED (" + (1 to maxLen)
        .map(i => s"SELECT word, piece FROM wk$tag$i")
        .mkString(" UNION ALL ") + ")"
      s"""b${tag}0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS best, 0 AS bj FROM w),
         |$dp,
         |$bp,
         |wk${tag}0 AS MATERIALIZED (SELECT word, len(word) AS pos FROM w),
         |$walk,
         |$pieces,
         |c$tag AS MATERIALIZED (
         |  SELECT p.piece AS p, CAST(SUM(w.f) AS BIGINT) AS cnt
         |  FROM pieces$tag p JOIN w ON w.word = p.word GROUP BY p.piece)"""
        .stripMargin
    }
    s"""w AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text),
       |      '\\s+'), x -> len(x) > 0)) AS word FROM documents)
       |  GROUP BY word),
       |cand AS MATERIALIZED (
       |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS p,
       |    CAST(SUM(f) AS BIGINT) AS cnt
       |  FROM w, unnest(range(1, len(word) + 1)) AS u(i),
       |    unnest(range(1, least($maxPieceLen,
       |      len(word) - CAST(i AS INT) + 1) + 1)) AS v(l)
       |  GROUP BY 1),
       |t0 AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cand),
       |voc0 AS MATERIALIZED (
       |  SELECT p, CAST(floor(ln(cnt / (SELECT t FROM t0)) * 1048576
       |    + 0.5) AS BIGINT) AS s
       |  FROM (
       |    SELECT p, cnt FROM cand WHERE len(p) = 1
       |    UNION ALL
       |    SELECT p, cnt FROM (
       |      SELECT p, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, p)
       |        AS rn FROM cand WHERE len(p) > 1)
       |    WHERE rn <= $vocabSize)),
       |${pass("r1_", "voc0")},
       |t1 AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cr1_),
       |nv AS MATERIALIZED (SELECT COUNT(*) AS nv FROM voc0),
       |voc1 AS MATERIALIZED (
       |  SELECT voc0.p, CAST(floor(ln(
       |    (COALESCE(c.cnt, 0) + 1) / ((SELECT t FROM t1)
       |      + (SELECT nv FROM nv))) * 1048576 + 0.5) AS BIGINT) AS s
       |  FROM voc0 LEFT JOIN cr1_ c ON c.p = voc0.p),
       |${pass("r2_", "voc1")}""".stripMargin
  }

  /** Unigram-LM tokenizer trained by hard-EM
    * ([[graft.operators.UnigramLm]]) — the SentencePiece model family
    * next to BPE (q93/q117): substring candidates scored by corpus
    * log-frequency, word types Viterbi-segmented, scores re-estimated
    * from the segmentation (Laplace over the fixed vocabulary), a
    * second Viterbi, and the final per-piece usage stats. INTEGER
    * -quantized log-probs make every DP comparison exact, so the
    * oracle replays both full Viterbi passes as unrolled position CTEs
    * with the (score DESC, split ASC) tie-break — float Viterbi would
    * tie same-multiset paths only up to summation order and could not
    * be hash-gated. The oracle unrolls to the corpus max word length
    * (8, all SFs). */
  val q131UnigramLm: Q = (s, dir) => {
    // persisted: training runs ~4 actions over the type frame (vocab
    // collect, total, EM counts, final stats) — without the cache each
    // re-tokenizes the corpus
    val words = graft.operators.PersistTracker.trackPersist(
      graft.operators.Bpe.wordTypes(
        t(s, dir, "documents").repartition(col("doc_id")), col("text")))
    assertMaxWordLen(words, 8, "q131")
    val model = graft.operators.UnigramLm.trainUnigram(
      words, maxPieceLen = 4, vocabSize = 48, rounds = 1)
    graft.operators.UnigramLm.pieceStats(words, model)
  }

  /** The q131/q132 oracles unroll Viterbi to a FIXED word length; a
    * corpus whose longest word exceeds it would surface only as an
    * opaque hash-gate failure — fail loudly here instead (one cheap
    * 1-row aggregate over the already-persisted type frame). */
  private def assertMaxWordLen(words: DataFrame, maxLen: Int,
      tag: String): Unit = {
    val got = words.agg(max(length(col("word")))).head.getInt(0)
    require(got <= maxLen,
      s"$tag: oracle Viterbi unrolls to maxLen=$maxLen but the corpus " +
        s"max word length is $got — regenerate the CTE chain")
  }

  val q131Sql: String =
    s"""WITH ${unigramCtes(maxLen = 8, maxPieceLen = 4, vocabSize = 48)}
       |SELECT c.p AS piece, c.cnt AS cnt, v.s AS score
       |FROM cr2_ c JOIN voc1 v ON v.p = c.p""".stripMargin

  /** Corpus-wide apply of the trained unigram model (q118's fertility
    * audit for the SECOND tokenizer family): per-language
    * pieces-per-word and chars-per-piece of q131's hard-EM model —
    * segmentation happens once per word TYPE, documents join the
    * per-type piece counts (the [[graft.operators.Bpe]] encode-once
    * device; the type table joins plain, not broadcast — web-scale
    * vocabularies exceed broadcast budgets and AQE picks the strategy).
    * Oracle: q131's full chain + the doc-word join + every ratio. */
  val q132UnigramEncode: Q = (s, dir) => {
    val docs = t(s, dir, "documents").repartition(col("doc_id"))
    val words = graft.operators.PersistTracker.trackPersist(
      graft.operators.Bpe.wordTypes(docs, col("text")))
    assertMaxWordLen(words, 8, "q132")
    val model = graft.operators.UnigramLm.trainUnigram(
      words, maxPieceLen = 4, vocabSize = 48, rounds = 1)
    val np = graft.operators.UnigramLm.segmentWords(words, model)
      .select(col("word"), size(col("pieces")).cast("long").as("__np"),
        length(col("word")).cast("long").as("__chars"))
    docs.select(col("doc_id"), col("lang"),
        explode(graft.operators.TextAnalysis.tokens(lower(col("text"))))
          .as("word"))
      .join(np, Seq("word"))
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("__np")).as("n_pieces"),
        round(sum(col("__np")).cast("double") / count(lit(1)), 4)
          .as("pieces_per_word"),
        round(sum(col("__chars")).cast("double") / sum(col("__np")), 4)
          .as("chars_per_piece"))
  }

  val q132Sql: String =
    s"""WITH ${unigramCtes(maxLen = 8, maxPieceLen = 4, vocabSize = 48)},
       |wp AS MATERIALIZED (
       |  SELECT p.word, COUNT(*) AS np, len(p.word) AS chars FROM (
       |    SELECT word, piece FROM piecesr2_) p
       |  GROUP BY p.word),
       |dw AS (
       |  SELECT doc_id, lang, unnest(list_filter(
       |    string_split_regex(lower(text), '${"\\"}s+'),
       |    x -> len(x) > 0)) AS word FROM documents)
       |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(np) AS BIGINT) AS n_pieces,
       |  ROUND(CAST(SUM(np) AS DOUBLE) / COUNT(*), 4) AS pieces_per_word,
       |  ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(np), 4) AS chars_per_piece
       |FROM dw JOIN wp USING (word) GROUP BY lang""".stripMargin

  /** Audio feature extraction through a REAL codec round-trip
    * ([[graft.operators.Multimodal.encodePcmWavs]] →
    * [[graft.operators.Multimodal.decodeWavSamples]]): 8-bit mono PCM
    * synthesized from the portable md5 formula, wrapped in a RIFF/WAV
    * container, decoded with the actual JDK `javax.sound.sampled`
    * parser, then the classic audio-quality signals (peak, RMS
    * energy, zero-crossing count) computed from the DECODED samples —
    * the q128 device applied to audio: PCM is lossless, so the oracle
    * replays the features from the generating formula and any decoder
    * deviation fails the hash gate. Payloads never shuffle. */
  val q133AudioFeatures: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .repartition(col("doc_id"))
    // fused md5-byte kernel (r21, the q128 device)
    val gen = docs.select(col("doc_id"),
      graft.functions.SigExpressions.md5ByteSeq(
        concat(col("doc_id").cast("string"), lit(":a:")), 64).as("__s"))
    val wavs = graft.operators.Multimodal.encodePcmWavs(
      gen, "doc_id", "__s", sampleRate = 8000)
    val dec = graft.operators.Multimodal.decodeWavSamples(
      wavs, "media_id", "payload")
    val base = dec.filter(col("decoded"))
      .select(col("media_id").as("doc_id"), col("samples"))
    // ONE aggregate pass (r21): energy stats and zero-crossings both
    // group by the document the samples never leave — fused, the WAV
    // encode→decode subtree runs once instead of twice (only the
    // exchange below it was reused across the two aggregates) and the
    // per-doc join disappears. posexplode pairs each sample with its
    // successor (element_at is 1-based); the last sample contributes no
    // crossing — the when() guard yields NULL there, which the sum's
    // otherwise(0) keeps out, exactly the old sequence(1, size-1) bound.
    base
      .select(col("doc_id"), col("samples"),
        posexplode(col("samples")).as(Seq("__p", "__v")))
      .select(col("doc_id"), col("__v"),
        when(col("__p") < size(col("samples")) - 1,
          (col("__v") >= 128) =!=
            (element_at(col("samples"), col("__p") + 2) >= 128))
          .as("__flip"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_samples"),
        max(abs(col("__v") - 128)).as("peak"),
        sum(when(col("__flip"), 1L).otherwise(0L)).as("zc"),
        round(sqrt(avg(((col("__v") - 128) * (col("__v") - 128))
          .cast("double"))), 4).as("rms"))
      .select(col("doc_id"), col("n_samples"), col("peak"), col("zc"),
        col("rms"))
  }

  val q133Sql: String =
    """WITH s AS (
      |  SELECT doc_id, list_transform(range(0, 64), i ->
      |    ('0x' || substr(md5(doc_id || ':a:' || i), 1, 2))::INT) AS s
      |  FROM documents),
      |v AS (SELECT doc_id, unnest(s) AS v FROM s),
      |a AS (
      |  SELECT doc_id, COUNT(*) AS n_samples,
      |    MAX(abs(v - 128)) AS peak,
      |    ROUND(sqrt(AVG(CAST((v - 128) * (v - 128) AS DOUBLE))), 4)
      |      AS rms
      |  FROM v GROUP BY doc_id),
      |p AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN (s[CAST(i AS INT)] >= 128)
      |      <> (s[CAST(i AS INT) + 1] >= 128) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS zc
      |  FROM s, unnest(range(1, 64)) AS u(i) GROUP BY doc_id)
      |SELECT a.doc_id, a.n_samples, a.peak, p.zc, a.rms
      |FROM a JOIN p ON p.doc_id = a.doc_id""".stripMargin

  /** Video frame pipeline with REAL per-frame decode
    * ([[graft.operators.Multimodal.encodeFrameContainer]] →
    * [[graft.operators.Multimodal.demuxFrames]] →
    * [[graft.operators.Multimodal.decodeGrayPixels]]): 3-frame videos
    * (synthesized frames with progressive pixel edits), packed into
    * the length-prefixed frame container, demuxed, each frame decoded
    * with actual ImageIO, dHashed, and the inter-frame Hamming deltas
    * aggregated — the temporal scene-change signal of a video dedup
    * pipeline. Container + PNG are both lossless, so the oracle
    * replays frames → dHash → consecutive-pair Hamming from the
    * generating formula (the q128/q133 device); container demux and
    * frame decode are therefore hash-gated. mp4/mkv demux stays the
    * documented stub — this entry proves the pipeline SHAPE end to
    * end with a real codec where the JDK has one. */
  val q134VideoFrames: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .repartition(col("doc_id"))
    // the 64 md5 base pixels are frame-independent: hoist them to ONE
    // aliased array per doc BELOW the frame explode (r20 — inlined,
    // the interpreted-lambda md5s ran once per FRAME, 3x the work;
    // r20: 0.82 -> 0.41 s, pixel parity exact)
    // (r21) the 64 base pixels come from the fused md5-byte kernel (one
    // native pass; the transform+md5+conv chain was interpreted), and
    // the per-frame shift touches only the first 2f elements, so the
    // 64-element interpreted lambda shrinks to a ≤4-element one over a
    // slice — values bit-identical in both steps
    val gen = docs
      .select(col("doc_id"), graft.functions.SigExpressions.md5ByteSeq(
        concat(col("doc_id").cast("string"), lit(":v:")), 64).as("__base"))
      .select(col("doc_id"), col("__base"),
        explode(sequence(lit(0), lit(2))).as("f"))
      .select(col("doc_id"), col("f"),
        concat(
          expr("transform(slice(__base, 1, 2 * f), " +
            "x -> cast((x + 16) % 256 as int))"),
          slice(col("__base"), col("f") * 2 + 1, lit(64) - col("f") * 2))
          .as("__px"))
    val pngs = graft.operators.Multimodal.encodeGrayPngs(
      gen.select((col("doc_id") * 4 + col("f")).as("fid"), col("__px")),
      "fid", "__px", 8, 8)
    val packed = graft.operators.Multimodal.encodeFrameContainer(
      pngs.select(expr("media_id div 4").as("doc_id"),
        expr("media_id % 4").as("f"), col("payload")),
      "doc_id", "f", "payload")
    val demuxed = graft.operators.Multimodal.demuxFrames(
      packed, "media_id", "payload")
    val dec = graft.operators.Multimodal.decodeGrayPixels(
      demuxed.select((col("media_id") * 4 + col("frame_idx")).as("fid"),
        col("frame")),
      "fid", "frame")
    // NOT persisted (r21 measurement): the three consumers (both
    // self-join sides + the frame count) share the container-pack
    // exchange, so the expensive PNG-encode subtree below it is already
    // reused — only the cheap demux/decode/dHash tail re-runs per
    // consumer, and caching it measured flat (1.24 vs 1.29 s steady).
    val hashed = dec.filter(col("decoded"))
      .select(expr("media_id div 4").as("doc_id"),
        expr("media_id % 4").as("f"),
        graft.functions.VectorExpressions.dhashBits(col("pixels"), 8, 8)
          .as("h"))
    val pairs = hashed.as("a").join(hashed.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.f") === col("a.f") + 1)
      .select(col("a.doc_id").as("doc_id"),
        graft.operators.Dedup.hamming64(col("a.h"), col("b.h")).as("hd"))
    val nf = hashed.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
    nf.join(
      pairs.groupBy("doc_id")
        .agg(sum("hd").cast("long").as("total_hamming")),
      Seq("doc_id"))
  }

  val q134Sql: String =
    """WITH fr AS (
      |  SELECT doc_id, f, list_transform(range(0, 64), i ->
      |    CAST((('0x' || substr(md5(doc_id || ':v:' || i), 1, 2))::INT
      |      + CASE WHEN i < 2 * f THEN 16 ELSE 0 END) % 256 AS INT)) AS p
      |  FROM documents, unnest(range(0, 3)) AS u(f)),
      |dh AS (
      |  SELECT doc_id, f, CAST(list_sum(list_transform(range(0, 56), k ->
      |    CASE WHEN p[CAST(k // 7 AS INT) * 8 + CAST(k % 7 AS INT) + 2]
      |            > p[CAST(k // 7 AS INT) * 8 + CAST(k % 7 AS INT) + 1]
      |      THEN CAST(1 AS BIGINT) << CAST(k AS INT)
      |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h
      |  FROM fr),
      |pr AS (
      |  SELECT a.doc_id, bit_count(xor(a.h, b.h)) AS hd
      |  FROM dh a JOIN dh b ON b.doc_id = a.doc_id AND b.f = a.f + 1),
      |nf AS (SELECT doc_id, COUNT(*) AS n_frames FROM dh GROUP BY doc_id)
      |SELECT nf.doc_id, nf.n_frames,
      |  CAST(SUM(pr.hd) AS BIGINT) AS total_hamming
      |FROM nf JOIN pr ON pr.doc_id = nf.doc_id
      |GROUP BY nf.doc_id, nf.n_frames""".stripMargin

  /** PageRank over the embedding kNN graph
    * ([[graft.operators.GraphOps.pageRank]]): each vector points at its
    * 4 most-cosine-similar peers ([[graft.operators.GraphOps
    * .knnEdgesExact]], q113's 4dp + id-tie edge discipline), then 3
    * power iterations at damping 0.85 — the link-analysis hub score
    * ("which documents are everyone's neighbour") used for
    * representativeness ranking and dup-cluster centrality. The rank is
    * FIXED-POINT (longs at 10^12, explicit integer div — see
    * [[graft.operators.GraphOps]]): float power iteration lands on a
    * decimal grid after one round, so the next round's quarter-sums sit
    * EXACTLY on rounding midpoints where one summation-order ulp flips
    * any float rounding scheme (measured: ~5% of ranks diverged ±1e-12
    * cross-engine before the integer form). The oracle unrolls all
    * three iterations as CTEs — the q125 GD device applied to power
    * iteration, on the q131 integer grid. */
  val q135PageRank: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val edges = graft.operators.GraphOps.knnEdgesExact(
      emb, "vec_id", "embedding", k = 4)
    graft.operators.GraphOps.pageRank(
      edges, emb.select("vec_id"), "vec_id", iters = 3)
  }

  /** The 3-iteration integer-fixed-point PageRank CTE chain shared by
    * the graph queries (q135 kNN graph, q140 dup-star graph): expects
    * an `ed(src, dst)` edge CTE and a `$nodes($idCol)` node CTE; emits
    * deg, n, pr0..pr3. All-integer (see [[graft.operators.GraphOps]]).
    */
  private def pageRankCtes(nodes: String, idCol: String): String = {
    def step(k: Int): String =
      s"""pr$k AS (
         |  SELECT e2.$idCol, (SELECT (1000000000000 * 3) // (20 * n) FROM n)
         |    + COALESCE(CAST(SUM((p.pr * 17) // (20 * d.deg)) AS BIGINT), 0)
         |    AS pr
         |  FROM $nodes e2
         |  LEFT JOIN ed ON ed.dst = e2.$idCol
         |  LEFT JOIN deg d ON d.src = ed.src
         |  LEFT JOIN pr${k - 1} p ON p.$idCol = ed.src
         |  GROUP BY e2.$idCol)""".stripMargin
    s"""deg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY src),
       |n AS (SELECT COUNT(*) AS n FROM $nodes),
       |pr0 AS (
       |  SELECT $idCol, (SELECT 1000000000000 // n FROM n) AS pr
       |  FROM $nodes),
       |${step(1)},
       |${step(2)},
       |${step(3)}""".stripMargin
  }

  val q135Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |x AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |ed AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rn FROM x)
       |  WHERE rn <= 4),
       |${pageRankCtes("e", "vec_id")}
       |SELECT vec_id, CAST(pr AS BIGINT) AS pr_e12 FROM pr3""".stripMargin

  /** Training-shard planner ([[graft.operators.Sampling.shardPlan]]):
    * every document gets a contiguous shard id under a 2000-token
    * budget in the deterministic epoch-1 training order — the manifest
    * a trainer's data loader consumes. The global running token sum
    * uses the two-pass partition-offset device (no single-partition
    * window); the oracle replays it with one window SUM over the
    * replayed md5 order key. */
  val q136ShardPlan: Q = (s, dir) =>
    graft.operators.Sampling.shardPlan(
      t(s, dir, "documents"), "doc_id",
      graft.operators.TextAnalysis.tokenCount(col("text")),
      budget = 2000L, epoch = 1, salt = "shard")

  val q136Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(text, '\s+'),
      |      x -> len(x) > 0)) AS n_tokens,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard:e1'),
      |      1, 15))::BIGINT % 1000000 AS k
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY k, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - n_tokens AS BIGINT) AS start_offset
      |  FROM toks)
      |SELECT doc_id, n_tokens, start_offset,
      |  start_offset // 2000 AS shard_id
      |FROM c""".stripMargin

  /** Distributed EXACT quantiles ([[graft.operators.Sampling
    * .exactQuantiles]]): percentile_disc of o_totalprice at 4 ranks by
    * value-count + two-pass cumulative selection — no global sort, no
    * approx sketch, shuffle bounded by |distinct values|. The oracle
    * replays the rank targets (ceil on the same IEEE q·n product) and
    * the covering-range join. */
  val q137ExactQuantile: Q = (s, dir) =>
    graft.operators.Sampling.exactQuantiles(
      t(s, dir, "orders"), col("o_totalprice"),
      Seq(0.25, 0.5, 0.75, 0.95))

  val q137Sql: String =
    """WITH s AS (
      |  SELECT o_totalprice AS v, COUNT(*) AS c
      |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM s),
      |cum AS (
      |  SELECT v, CAST(c AS BIGINT) AS c,
      |    CAST(SUM(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM s),
      |t AS (
      |  SELECT CAST(q AS DOUBLE) AS q,
      |    CAST(CEIL(CAST(q AS DOUBLE) * (SELECT n FROM n)) AS BIGINT)
      |      AS target_rank
      |  FROM (VALUES (0.25), (0.5), (0.75), (0.95)) AS qs(q))
      |SELECT t.q, t.target_rank, cum.v AS value
      |FROM t JOIN cum
      |  ON cum.cum - cum.c < t.target_rank AND t.target_rank <= cum.cum"""
      .stripMargin

  /** Streamed mini-batch k-means under the marker ledger
    * ([[graft.streaming.IndexIngest.ingestKmeansBatch]]): seed state =
    * the 8 lowest-id quantized vectors, two micro-batches (even then
    * odd ids) folded as per-cluster INTEGER partials — batch t assigned
    * against the state accumulated through t−1 (Sculley's mini-batch
    * k-means in the order-free batch-aggregate form) — then the full
    * corpus served against the final state. Extends the streamed-
    * maintenance family (q119/q120/q122) from indexes to MODELS; same
    * crash/replay protocol, warm reps replay ingest as O(1) no-ops.
    * The oracle unrolls both batch updates (assign → integer partial →
    * elementwise state add) and the final assignment. */
  val q138KmeansStream: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val ingestDir = streamIndexDir("q138", dir, "embeddings")
    val seeds = graft.operators.Clustering.seedSums(emb, k = 8)
    graft.streaming.IndexIngest.bootstrapKmeans(s, ingestDir, seeds)
    graft.streaming.IndexIngest.ingestKmeansBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, ingestDir)
    graft.streaming.IndexIngest.ingestKmeansBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) =!= 0), 1L, ingestDir)
    val sums = graft.streaming.IndexIngest.readKmeansSums(s, ingestDir)
    graft.operators.Clustering.assignClusters(emb, sums)
      .select(col("vec_id"), col("cluster"), col("cos"))
  }

  val q138Sql: String = {
    def assign(src: String): String =
      s"""  SELECT vec_id, q, cl, cos FROM (
         |    SELECT z.vec_id, z.q, c.cl,
         |      ROUND(list_cosine_similarity(z.q, c.s), 4) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY z.vec_id ORDER BY
         |        ROUND(list_cosine_similarity(z.q, c.s), 4) DESC, c.cl) AS rk
         |    FROM $src z CROSS JOIN %CENTS% c) WHERE rk = 1""".stripMargin
    def partial(assigned: String, name: String): String =
      s"""$name AS (
         |  SELECT cl, LIST(v ORDER BY i) AS s FROM (
         |    SELECT a.cl, r.i, SUM(a.q[r.i]) AS v
         |    FROM $assigned a, range(1, 65) r(i) GROUP BY a.cl, r.i)
         |  GROUP BY cl)""".stripMargin
    def accumulate(prev: String, part: String, name: String): String =
      s"""$name AS (
         |  SELECT p.cl, CASE WHEN n.s IS NULL THEN p.s
         |    ELSE list_transform(range(1, 65), i -> p.s[i] + n.s[i])
         |    END AS s
         |  FROM $prev p LEFT JOIN $part n USING (cl))""".stripMargin
    s"""WITH qz AS (
       |  SELECT vec_id,
       |    CASE WHEN s > 0 THEN
       |      list_transform(e, x -> CAST(floor(x*127.0/s + 0.5) AS DOUBLE))
       |    ELSE list_transform(e, x -> 0.0) END AS q
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
       |          list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS s
       |        FROM embeddings)),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
       |    q AS s
       |  FROM qz ORDER BY vec_id LIMIT 8),
       |b0 AS (SELECT * FROM qz WHERE vec_id % 2 = 0),
       |a1 AS (
       |${assign("b0").replace("%CENTS%", "c0")}),
       |${partial("a1", "p1")},
       |${accumulate("c0", "p1", "c1")},
       |b1 AS (SELECT * FROM qz WHERE vec_id % 2 <> 0),
       |a2 AS (
       |${assign("b1").replace("%CENTS%", "c1")}),
       |${partial("a2", "p2")},
       |${accumulate("c1", "p2", "c2")},
       |final AS (
       |${assign("qz").replace("%CENTS%", "c2")})
       |SELECT vec_id, CAST(cl AS INT) AS cluster, cos FROM final"""
      .stripMargin
  }

  /** WordPiece tokenizer ([[graft.operators.WordPiece]]): the THIRD
    * family beside BPE (q93/q94) and unigram-LM (q131/q132) —
    * position-aware frequency vocab (word-initial vs "##" continuation
    * forms) + BERT's greedy longest-match-first encode, which needs no
    * score quantization at all: the segmentation is a deterministic
    * function of the vocab sets with no ties (at most one piece can
    * match a given position+length). The oracle replays candidate
    * counting per form, the pooled top-K selection, the longest-match
    * table, and the greedy walk as a RECURSIVE CTE (positions strictly
    * advance, one terminal row per word). */
  val q139WordPiece: Q = (s, dir) => {
    val words = graft.operators.PersistTracker.trackPersist(
      graft.operators.Bpe.wordTypes(
        t(s, dir, "documents").repartition(col("doc_id")), col("text")))
    val model = graft.operators.WordPiece.trainWordPiece(
      words, maxPieceLen = 4, vocabSize = 48)
    graft.operators.WordPiece.pieceStats(words, model)
  }

  val q139Sql: String =
    """WITH RECURSIVE w AS MATERIALIZED (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '\s+'), x -> len(x) > 0)) AS word FROM documents)
      |  GROUP BY word),
      |cand AS MATERIALIZED (
      |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS p,
      |    CAST(i AS INT) = 1 AS init,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM w, unnest(range(1, len(word) + 1)) AS u(i),
      |    unnest(range(1, least(4,
      |      len(word) - CAST(i AS INT) + 1) + 1)) AS v(l)
      |  GROUP BY 1, 2),
      |voc AS MATERIALIZED (
      |  SELECT p, init FROM cand WHERE len(p) = 1
      |  UNION ALL
      |  SELECT p, init FROM (
      |    SELECT p, init, ROW_NUMBER() OVER (ORDER BY cnt DESC, p,
      |      CAST(init AS INT) DESC) AS rn
      |    FROM cand WHERE len(p) > 1)
      |  WHERE rn <= 48),
      |pos_enum AS MATERIALIZED (
      |  SELECT word, CAST(i AS INT) AS pos
      |  FROM w, unnest(range(1, len(word) + 1)) AS u(i)),
      |best AS MATERIALIZED (
      |  SELECT word, pos, p FROM (
      |    SELECT pe.word, pe.pos, v.p,
      |      ROW_NUMBER() OVER (PARTITION BY pe.word, pe.pos
      |        ORDER BY len(v.p) DESC) AS rn
      |    FROM pos_enum pe JOIN voc v
      |      ON v.init = (pe.pos = 1)
      |      AND substr(pe.word, pe.pos, len(v.p)) = v.p)
      |  WHERE rn = 1),
      |seg AS (
      |  SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM w
      |  UNION ALL
      |  SELECT s.word,
      |    CASE WHEN b.p IS NULL THEN len(s.word) + 1000
      |      ELSE s.pos + len(b.p) END,
      |    CASE WHEN b.p IS NULL THEN ['[UNK]']
      |      ELSE list_append(s.pieces,
      |        CASE WHEN s.pos = 1 THEN b.p ELSE '##' || b.p END) END
      |  FROM seg s LEFT JOIN best b ON b.word = s.word AND b.pos = s.pos
      |  WHERE s.pos <= len(s.word)),
      |final AS (SELECT word, pieces FROM seg WHERE pos > len(word))
      |SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt
      |FROM (SELECT word, unnest(pieces) AS piece FROM final) x
      |JOIN w USING (word)
      |GROUP BY piece""".stripMargin

  /** PageRank over the near-dup STAR graph — the graph operator
    * composed with the dedup chain: q44's verified star edges
    * (symmetrized) feed [[graft.operators.GraphOps.pageRank]], ranking
    * documents by duplication-cluster centrality (anchors of big
    * template families accumulate mass; singleton docs sit at the
    * teleport floor) — the "which boilerplate dominates my corpus"
    * signal. Shares the portable-signature CTE chain with the whole
    * banded family and the integer PageRank chain with q135, so
    * neither can drift. */
  val q140DupPagerank: Q = (s, dir) => {
    val pairs = q24StarEdges(s, dir)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(
        pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    graft.operators.GraphOps.pageRank(
      edges, t(s, dir, "documents").select("doc_id"), "doc_id", iters = 3)
  }

  val q140Sql: String =
    s"""WITH $q24StarCtes,
       |prs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
       |ed AS (
       |  SELECT id_a AS src, id_b AS dst FROM prs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
       |nodes AS (SELECT doc_id FROM documents),
       |${pageRankCtes("nodes", "doc_id")}
       |SELECT doc_id, CAST(pr AS BIGINT) AS pr_e12 FROM pr3""".stripMargin

  /** Distributed ANN self-join ([[graft.operators.Similarity
    * .ivfKnnJoin]]): every vector's 3 approximate nearest neighbours
    * via the cell-partitioned kNN join — the corpus-scale kNN-graph
    * builder where NOTHING broadcasts: narrow probe selection
    * (sort_array over the (1−cos, cell) struct — monotone at 4dp, no
    * −0.0 sort hazard), shuffle join on cell, WindowGroupLimit top-k.
    * The oracle replays assignment, probe ranks, the self-excluded
    * candidate join, and final ranks with q43's devices. */
  val q141KnnJoin: Q = (s, dir) =>
    // numCells = auto (scaledCellCount): the quantizer scales with the
    // corpus — fixed 16 cells measured 32x wall at 10x corpus (the
    // per-probe scan is nprobe/numCells of the corpus); the oracle's
    // nc scalar subquery replays the same formula
    graft.operators.Similarity.ivfKnnJoin(
      t(s, dir, "embeddings"), k = 3, nprobe = 4)

  val q141Sql: String =
    """WITH nc AS (
      |  SELECT LEAST(4096, GREATEST(16, COUNT(*) // 32)) AS n
      |  FROM embeddings),
      |cent AS (
      |  SELECT vec_id AS cell, embedding AS cvec
      |  FROM embeddings ORDER BY vec_id LIMIT (SELECT n FROM nc)),
      |scored AS (
      |  SELECT e.vec_id, e.embedding, c.cell,
      |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
      |      c.cvec::DOUBLE[]), 4) AS cos
      |  FROM embeddings e CROSS JOIN cent c),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cell) AS rn
      |  FROM scored),
      |asg AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS qvec, cell
      |  FROM ranked WHERE rn <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id,
      |    ROUND(list_cosine_similarity(p.qvec::DOUBLE[],
      |      a.embedding::DOUBLE[]), 4) AS cosine
      |  FROM probes p JOIN asg a
      |    ON a.cell = p.cell AND a.vec_id <> p.query_id)
      |SELECT query_id, rank, vec_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, vec_id) AS rank
      |  FROM cand)
      |WHERE rank <= 3""".stripMargin

  /** PageRank over the SCALABLE kNN graph — q135's documented
    * production swap made real and oracle-gated: edges come from the
    * cell-partitioned ANN self-join (q141, nothing broadcasts) instead
    * of the exact O(n²) build, then the same integer fixed-point
    * iterations. Non-uniform out-degrees exercise pageRank's general
    * (pr·17) div (20·deg) path (IVF recall loss can drop edges, so
    * deg ≤ k varies — handled exactly, per-edge floor semantics). */
  val q142AnnPagerank: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val edges = graft.operators.Similarity.ivfKnnJoin(
        emb, k = 4, nprobe = 4)
      .select(col("query_id").as("src"), col("vec_id").as("dst"))
    graft.operators.GraphOps.pageRank(
      edges, emb.select("vec_id"), "vec_id", iters = 3)
  }

  val q142Sql: String =
    s"""WITH nc AS (
       |  SELECT LEAST(4096, GREATEST(16, COUNT(*) // 32)) AS n
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cell, embedding AS cvec
       |  FROM embeddings ORDER BY vec_id LIMIT (SELECT n FROM nc)),
       |cscored AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
       |      c.cvec::DOUBLE[]), 4) AS cos
       |  FROM embeddings e CROSS JOIN cent c),
       |cranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell) AS rn
       |  FROM cscored),
       |asg AS (SELECT vec_id, embedding, cell FROM cranked WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, cell
       |  FROM cranked WHERE rn <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id,
       |    ROUND(list_cosine_similarity(p.qvec::DOUBLE[],
       |      a.embedding::DOUBLE[]), 4) AS cosine
       |  FROM probes p JOIN asg a
       |    ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |ed AS (
       |  SELECT query_id AS src, vec_id AS dst FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |    FROM cand)
       |  WHERE rank <= 4),
       |nodes AS (SELECT vec_id FROM embeddings),
       |${pageRankCtes("nodes", "vec_id")}
       |SELECT vec_id, CAST(pr AS BIGINT) AS pr_e12 FROM pr3""".stripMargin

  /** Per-group EXACT quantiles ([[graft.operators.Sampling
    * .groupQuantiles]]): the per-language document-length profile,
    * exact (q137's keyed sibling) — per-key cumulative counts under a
    * key-partitioned window, every quantile resolved in one pass by
    * exploding the quantile list against the covering cumulative
    * range. */
  val q143GroupQuantiles: Q = (s, dir) =>
    graft.operators.Sampling.groupQuantiles(
        t(s, dir, "documents"), col("lang"),
        col("n_chars").cast("double"), Seq(0.25, 0.5, 0.9))
      .withColumnRenamed("key", "lang")

  val q143Sql: String =
    """WITH s AS (
      |  SELECT lang, CAST(n_chars AS DOUBLE) AS v, COUNT(*) AS c
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT lang, v, CAST(c AS BIGINT) AS c,
      |    CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM s),
      |nk AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM s GROUP BY 1)
      |SELECT cum.lang, CAST(q AS DOUBLE) AS q,
      |  CAST(CEIL(CAST(q AS DOUBLE) * nk.n) AS BIGINT) AS target_rank,
      |  cum.v AS value
      |FROM cum JOIN nk ON nk.lang = cum.lang
      |CROSS JOIN (VALUES (0.25), (0.5), (0.9)) AS qs(q)
      |WHERE cum.cum - cum.c < CAST(CEIL(CAST(q AS DOUBLE) * nk.n) AS BIGINT)
      |  AND CAST(CEIL(CAST(q AS DOUBLE) * nk.n) AS BIGINT) <= cum.cum"""
      .stripMargin

  /** Temperature mixture sampling ([[graft.operators.Sampling
    * .temperatureMixture]]): the multilingual α-sampling (mC4/XLM-R) at
    * α = 0.5 — keep rate per language ∝ √(n_min/n_k), smallest language
    * fully kept, no RNG, corpus never shuffles. α is pinned to 0.5 in
    * the battery because IEEE sqrt is correctly rounded on every
    * engine while general pow is only libm-accurate at the cutoff
    * boundary. */
  val q144TempMixture: Q = (s, dir) =>
    graft.operators.Sampling.temperatureMixture(
        t(s, dir, "documents"), col("lang"), col("doc_id"),
        alpha = 0.5, salt = "temp1")
      .select("doc_id", "lang", "source")

  val q144Sql: String =
    """WITH nk AS (
      |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      |nmin AS (SELECT MIN(n) AS nmin FROM nk),
      |cuts AS (
      |  SELECT lang, CAST(FLOOR(
      |    sqrt(CAST((SELECT nmin FROM nmin) AS DOUBLE) / CAST(n AS DOUBLE))
      |    * 1000000 + 0.5) AS BIGINT) AS cut
      |  FROM nk)
      |SELECT d.doc_id, d.lang, d.source
      |FROM documents d JOIN cuts ON cuts.lang = d.lang
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':temp1'),
      |    1, 15))::BIGINT % 1000000 < cuts.cut""".stripMargin

  /** Per-dimension z-score standardization ([[graft.operators
    * .Similarity.standardizeEmbeddings]]): q130's moment scan turned
    * into the feature-scaling pass — μ/σ from the same single
    * aggregate, corpus through one diagonal AffineProject codegen
    * pass. Every arithmetic step replays in SQL (sample variance,
    * sqrt, reciprocal-MULTIPLY — written `·(1/σ)` on both sides, not
    * `/σ`, because those are different doubles), gated at 4dp under
    * the covariance oracle's float-sum-order discipline. */
  val q145Standardize: Q = (s, dir) =>
    graft.operators.Similarity.standardizeEmbeddings(
        t(s, dir, "embeddings"), "embedding", dim = 64)
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "dim", "z")
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        (round(col("z"), 4) + lit(0.0)).as("z"))

  val q145Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
      |stats AS (
      |  SELECT CAST(j AS INT) AS j,
      |    SUM(v[CAST(j AS INT) + 1]) AS sx,
      |    SUM(v[CAST(j AS INT) + 1] * v[CAST(j AS INT) + 1]) AS sxx
      |  FROM e, unnest(range(0, 64)) AS u(j)
      |  GROUP BY 1),
      |scale AS (
      |  SELECT j, sx / (SELECT n FROM n) AS mu,
      |    CASE WHEN sqrt((sxx - sx * sx / (SELECT n FROM n))
      |        / ((SELECT n FROM n) - 1.0)) > 0
      |      THEN 1.0 / sqrt((sxx - sx * sx / (SELECT n FROM n))
      |        / ((SELECT n FROM n) - 1.0))
      |      ELSE 1.0 END AS inv
      |  FROM stats)
      |SELECT e.vec_id, CAST(s.j AS BIGINT) AS dim,
      |  ROUND((e.v[s.j + 1] - s.mu) * s.inv, 4) + 0.0 AS z
      |FROM e CROSS JOIN scale s""".stripMargin

  /** Pseudo-relevance-feedback retrieval ([[graft.operators.Retrieval
    * .prfTopK]]): q70's queries through the Rocchio expansion loop —
    * top-3 feedback docs, 2 idf·ftf expansion terms (non-query, ties
    * lexicographic), expanded rescore. The oracle replays BOTH scoring
    * rounds plus the feedback term selection on q70's CTE chain. */
  val q146PrfSearch: Q = (s, dir) => {
    import s.implicits._
    val queries = Seq(
      (1L, "table hash join value"),
      (2L, "spark window agg batch"),
      (3L, "fast slow row scan")).toDF("query_id", "query_text")
    graft.operators.Retrieval.prfTopK(
      graft.operators.Retrieval.buildIndex(t(s, dir, "documents")),
      queries, k = 5, fbDocs = 3, fbTerms = 2)
  }

  val q146Sql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |    (CAST(1 AS BIGINT), 'table hash join value'),
      |    (CAST(2 AS BIGINT), 'spark window agg batch'),
      |    (CAST(3 AS BIGINT), 'fast slow row scan')),
      |terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (
      |  SELECT doc_id, len(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS dl
      |  FROM documents),
      |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT query_id, unnest(list_filter(
      |    string_split_regex(lower(query_text), '\s+'), x -> len(x) > 0)) AS term
      |  FROM q),
      |scored1 AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    ROUND(SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4)
      |      AS score
      |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
      |    JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1, 2),
      |fb AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |    FROM scored1)
      |  WHERE rank <= 3),
      |cand AS (
      |  SELECT fb.query_id, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS ftf
      |  FROM tf JOIN fb USING (doc_id) GROUP BY 1, 2),
      |wexp AS (
      |  SELECT c.query_id, c.term,
      |    ROUND(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * c.ftf, 4) AS w
      |  FROM cand c JOIN dfreq ON dfreq.term = c.term CROSS JOIN stats
      |  WHERE NOT EXISTS (SELECT 1 FROM qt
      |    WHERE qt.query_id = c.query_id AND qt.term = c.term)),
      |expn AS (
      |  SELECT query_id, term FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY w DESC, term) AS r
      |    FROM wexp)
      |  WHERE r <= 2),
      |qt2 AS (
      |  SELECT query_id, term FROM qt
      |  UNION
      |  SELECT query_id, term FROM expn),
      |scored2 AS (
      |  SELECT qt2.query_id, tf.doc_id,
      |    ROUND(SUM(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4)
      |      AS score
      |  FROM tf JOIN qt2 USING (term) JOIN dfreq USING (term)
      |    JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1, 2)
      |SELECT query_id, rank, doc_id, score FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank
      |  FROM scored2)
      |WHERE rank <= 5""".stripMargin

  /** Ordered funnel progression ([[graft.operators.EventSequences
    * .funnel]]): every user's earliest strictly-increasing
    * view → click → purchase chain (greedy-earliest, which dominates
    * any feasible chain), stalled users keep their prefix. One
    * filtered min-aggregate per stage chained by left joins — no
    * windows, heavy users cost only their scan. Timestamps surface as
    * unix micros (epoch_us on the oracle side). */
  val q147Funnel: Q = (s, dir) =>
    graft.operators.EventSequences.funnel(
      events(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  val q147Sql: String =
    """WITH f1 AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t1_us
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |f2 AS (
      |  SELECT f1.user_id, f1.t1_us, MIN(epoch_us(e.ts)) AS t2_us
      |  FROM f1 LEFT JOIN events e ON e.user_id = f1.user_id
      |    AND e.event_type = 'click' AND epoch_us(e.ts) > f1.t1_us
      |  GROUP BY 1, 2),
      |f3 AS (
      |  SELECT f2.user_id, f2.t1_us, f2.t2_us, MIN(epoch_us(e.ts)) AS t3_us
      |  FROM f2 LEFT JOIN events e ON e.user_id = f2.user_id
      |    AND e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t2_us
      |  GROUP BY 1, 2, 3)
      |SELECT user_id, t1_us, t2_us, t3_us,
      |  CAST(CASE WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END AS INT)
      |    AS stage_reached
      |FROM f3""".stripMargin

  /** PRF over the STREAMED index (the engine's convention: every
    * incremental/streamed route earns its own oracle entry — q119's
    * pattern applied to q146): two-batch ingest under the marker
    * ledger, then the full Rocchio expansion loop served from the
    * committed at-rest index, gated by q146's full-corpus oracle. Warm
    * bench reps replay the ingest as O(1) no-ops (amortized serve
    * pricing, as q119-q122). */
  val q148PrfStreamServe: Q = (s, dir) => {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val ingestDir = streamIndexDir("q148", dir, "documents")
    graft.streaming.IndexIngest.ingestBm25Batch(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L, ingestDir)
    graft.streaming.IndexIngest.ingestBm25Batch(
      docs.filter(pmod(col("doc_id"), lit(2)) =!= 0), 1L, ingestDir)
    val idx = graft.streaming.IndexIngest.readBm25(s, ingestDir)
    val numericIdx = graft.operators.Retrieval.Bm25Index(
      idx.tf.withColumn("__id", col("__id").cast("long")),
      idx.df, idx.stats)
    val queries = Seq(
      (1L, "table hash join value"),
      (2L, "spark window agg batch"),
      (3L, "fast slow row scan")).toDF("query_id", "query_text")
    graft.operators.Retrieval.prfTopK(numericIdx, queries, k = 5,
      fbDocs = 3, fbTerms = 2)
  }

  /** Weekly cohort retention over the event log — the classic
    * engagement matrix: users cohorted by first-activity week, counted
    * in each later week they return. Two user-keyed aggregates and a
    * |user·weeks| join; weeks as epoch-seconds BIGINT so no calendar
    * formatting crosses engines (both engines' date_trunc('week') is
    * ISO-Monday, sessions pinned UTC). */
  val q149Retention: Q = (s, dir) => {
    val ev = events(s, dir)
      .select(col("user_id"),
        unix_seconds(date_trunc("week", col("ts"))).as("__wk"))
    val cohort = ev.groupBy("user_id").agg(min("__wk").as("__cw"))
    ev.distinct().join(cohort, "user_id")
      .groupBy(col("__cw").as("cohort_week_s"),
        expr("(__wk - __cw) div 604800").as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  val q149Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS wk
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, MIN(wk) AS cw FROM ev GROUP BY 1)
      |SELECT cw AS cohort_week_s, (wk - cw) // 604800 AS week_offset,
      |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
      |FROM ev JOIN cohort USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Last-touch attribution ([[graft.operators.EventSequences
    * .lastTouchAttribution]]): every purchase credited to the latest
    * same-user click in the 30 minutes before it (ties to the lowest
    * click id), null when unattributed — the batch twin of the
    * stream-stream interval join ([[graft.streaming.EventStreams
    * .attributionPairsStream]], spec-gated ≡ across a micro-batch
    * boundary). One interval join on the user key + a per-conversion
    * argmax window. */
  val q150Attribution: Q = (s, dir) =>
    graft.operators.EventSequences.lastTouchAttribution(
      events(s, dir), "user_id", "event_id", "ts", "event_type",
      touchType = "click", convType = "purchase", windowMinutes = 30)

  val q150Sql: String =
    """WITH conv AS (
      |  SELECT event_id AS conv_id, user_id,
      |    CAST(epoch_us(ts) AS BIGINT) AS conv_us
      |  FROM events WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT user_id AS tu, event_id AS touch_id,
      |    CAST(epoch_us(ts) AS BIGINT) AS touch_us
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT conv.conv_id, conv.user_id, conv.conv_us,
      |    touch.touch_id, touch.touch_us,
      |    ROW_NUMBER() OVER (PARTITION BY conv.conv_id
      |      ORDER BY touch.touch_us DESC NULLS LAST, touch.touch_id)
      |      AS r
      |  FROM conv LEFT JOIN touch
      |    ON touch.tu = conv.user_id
      |    AND touch.touch_us <= conv.conv_us
      |    AND touch.touch_us > conv.conv_us - 1800000000)
      |SELECT conv_id, user_id, conv_us, touch_id, touch_us,
      |  conv_us - touch_us AS gap_us
      |FROM j WHERE r = 1""".stripMargin

  /** Fixed-size weighted sampling WITHOUT replacement
    * ([[graft.operators.Sampling.weightedTopK]], Efraimidis–Spirakis
    * exponential keys): exactly 40 documents, length-weighted —
    * q73's Bernoulli sibling with a guaranteed size. Keys ln(u)/w on
    * the md5-hash u, snapped to the 1e-12 grid before the rank (ln is
    * libm-accurate, not correctly rounded; unstructured keys make
    * grid coincidences negligible). Distributed TakeOrdered prefix. */
  val q151WeightedTopK: Q = (s, dir) =>
    graft.operators.Sampling.weightedTopK(
        t(s, dir, "documents"), col("doc_id"),
        col("n_chars").cast("double"), k = 40, salt = "wtk1")
      .select(col("doc_id"), col("n_chars"),
        (col("__key") + lit(0.0)).as("key"))

  val q151Sql: String =
    """SELECT doc_id, n_chars,
      |  FLOOR(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)
      |      || ':wtk1'), 1, 15))::BIGINT % 1000000 + 1.0) / 1000001.0)
      |    / CAST(n_chars AS DOUBLE) * 1e12 + 0.5) / 1e12 + 0.0 AS key
      |FROM documents
      |ORDER BY key DESC, doc_id
      |LIMIT 40""".stripMargin

  /** Recursive on-disk parquet byte count of a fixture dir (bench
    * premises; sidecars and hidden files excluded by suffix). */
  private def parquetBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(parquetBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  /** The two-micro-batch stream harness every oracle-gated stream twin
    * (q152–q154) feeds from: `ev` — `(…, ts timestamp, …)` — split at
    * its event-time midpoint into two parquet files (so per-user
    * event-time order holds across the boundary by construction),
    * built ONCE per corpus under [[streamIndexDir]]'s content key.
    * Both files are written into a staging dir renamed into `in/` as
    * one unit — a crash between the two writes must never leave a
    * half-populated dir that later reps would stream as complete.
    * Returns a `readStream` on the dir with `maxFilesPerTrigger = 1`
    * (mtimes order the files oldest-first), i.e. two GENUINE
    * micro-batches through whatever stateful operator the caller
    * stacks on top. */
  private def eventStreamSource(s: SparkSession, dir: String, tag: String,
      ev: DataFrame): DataFrame = {
    val root = streamIndexDir(tag, dir, "events")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sessionState.newHadoopConf())
    val inDir = new org.apache.hadoop.fs.Path(s"$root/in")
    if (!fs.exists(inDir)) {
      val bounds = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head()
      val cut = bounds.getLong(0) / 2 + bounds.getLong(1) / 2
      stageStreamFiles(s, root, Seq(
        ev.filter(unix_micros(col("ts")) < cut),
        ev.filter(unix_micros(col("ts")) >= cut)))
    }
    s.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in")
  }

  /** Write `batches` as single parquet files `b1..bN` under `root/in`,
    * mtimes 2 min apart oldest-first (the file source's arrival
    * order), staged and renamed into place as ONE unit — a crash
    * between writes must never leave a half-populated dir that later
    * reps would stream as complete. */
  private def stageStreamFiles(s: SparkSession, root: String,
      batches: Seq[DataFrame]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sessionState.newHadoopConf())
    val stageIn = new org.apache.hadoop.fs.Path(s"$root/in.stage")
    if (fs.exists(stageIn)) fs.delete(stageIn, true)
    fs.mkdirs(stageIn)
    def writeBatch(batch: DataFrame, name: String, mtime: Long): Unit = {
      val stage = s"$root/stage-$name"
      batch.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part in $stage"))
      val target = new org.apache.hadoop.fs.Path(stageIn, s"$name.parquet")
      fs.rename(part, target)
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
      new java.io.File(target.toUri.getPath).setLastModified(mtime): Unit
    }
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (b, i) =>
      writeBatch(b, s"b${i + 1}", now - 120000L * (batches.size - 1 - i))
    }
    val inDir = new org.apache.hadoop.fs.Path(s"$root/in")
    if (!fs.rename(stageIn, inDir)) fs.delete(stageIn, true)
  }

  /** [[eventStreamSource]]'s DISORDERED twin — built so the drop-late
    * stream variants are provably WRONG on it and only the
    * watermark-buffered reorder variants match the batch oracle. The
    * log splits on event-id PARITY instead of the event-time midpoint,
    * so the second micro-batch carries events event-time-EARLIER than
    * the first batch's per-user frontier — genuine cross-batch
    * disorder, verified at first build (at least one user must have a
    * batch-2 event strictly older than one of their batch-1 events —
    * exactly the rows q152/q154's drop-late operators discard and
    * count). Returns the stream AND the watermark delay, sized to the
    * full event-time span + 60 s so every late event is still inside
    * the horizon: the reorder contract, not the drop contract, decides
    * the output. A third file carries one far-future sentinel row
    * (user_id −1, type `__flush`, no consuming operator): its only job
    * is to push the final watermark past every real event so the
    * buffered operators' event-time timeouts flush all pending state
    * in the closing no-data batch. The sentinel itself never reaches a
    * sink — one lone event emits no session pair, and an unknown stage
    * never advances a funnel. */
  private def disorderedStreamSource(s: SparkSession, dir: String,
      tag: String, ev: DataFrame, project: Seq[String])
      : (DataFrame, String) = {
    val root = streamIndexDir(tag, dir, "events")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sessionState.newHadoopConf())
    val inDir = new org.apache.hadoop.fs.Path(s"$root/in")
    val bounds = ev.agg(min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx")).head()
    val delaySec =
      (bounds.getLong(1) - bounds.getLong(0)) / 1000000L + 61L
    if (!fs.exists(inDir)) {
      val b1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val b2 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      val regressedUsers = b1
        .groupBy("user_id").agg(max(unix_micros(col("ts"))).as("hi1"))
        .join(b2.groupBy("user_id")
          .agg(min(unix_micros(col("ts"))).as("lo2")), "user_id")
        .filter(col("lo2") < col("hi1")).count()
      require(regressedUsers > 0,
        s"disorderedStreamSource($tag): the parity split produced no " +
          "cross-batch regression — the feed would not exercise the " +
          "reorder path")
      val sentinel = s.range(1).select(
        lit(-1L).as("user_id"), lit(-1L).as("event_id"),
        timestamp_micros(lit(
          bounds.getLong(1) + (delaySec + 60L) * 1000000L)).as("ts"),
        lit("__flush").as("event_type"))
      stageStreamFiles(s, root,
        Seq(b1, b2, sentinel).map(_.selectExpr(project: _*)))
    }
    (s.readStream
      .schema(ev.selectExpr(project: _*).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in"),
      s"$delaySec seconds")
  }

  /** Run an AvailableNow streaming transform into a uniquely-named
    * in-memory sink (fresh checkpoint per invocation, cleaned on JVM
    * exit) and block until drained; returns the sink table name.
    *
    * Stateful-operator shuffle partitions are pinned to 8 for the
    * stream's lifetime (the conf is captured into the checkpoint at
    * first batch): each micro-batch pays one HDFS-state-store
    * commit per partition PER STATEFUL OPERATOR — a stream-stream join
    * alone carries four stores — and the two-file harness's batches
    * are far too small to need 32-way state. Measured on q153: 7.9 s →
    * ~3 s at sf0.1, scale-flat either way (the cost is store count,
    * not data). Production deployments size this with the cluster;
    * the pin lives in the bench harness, not the operators. */
  private def runStreamToTable(s: SparkSession, tag: String,
      out: DataFrame): String = {
    val tbl = s"${tag}_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"$tbl-ckpt")
    registerCleanup(ckpt)
    // measured, not assumed: the RocksDB provider was tried here and is
    // SLOWER at this state size (q153 3.9 vs 3.3 s — per-partition
    // native store init dominates when state is a few thousand rows);
    // the default HDFS-backed store stays. At production state sizes
    // the trade reverses — that's a deployment conf, not a harness one.
    // 8 vs 4 vs 2 re-measured (r16, same-JVM steady-state on
    // q153/q152/q158): identical within noise — below 8 partitions the
    // cost floor is per-OPERATOR commit overhead, not partition count.
    // The env knob stays for deployment experiments.
    val before = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTS", "8"))
    try {
      val q = out.writeStream.format("memory").queryName(tbl)
        .outputMode("append")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", before)
    tbl
  }

  /** STREAMED funnel, oracle-gated under q147 (the q148 convention
    * applied to the event-analytics family: the streaming twin runs
    * INSIDE the query and the batch oracle hash-gates its final state).
    * The event log is split at its time midpoint into two parquet files
    * (per-user order across batches holds by construction — the
    * [[graft.streaming.EventStreams.funnelStream]] contract), fed as a
    * real file-source stream with maxFilesPerTrigger=1 under
    * AvailableNow (two genuine micro-batches through a fresh
    * checkpoint), folded by flatMapGroupsWithState, and each user's
    * highest-stage emission projected to q147's schema. The batch-file
    * dir is corpus-keyed and reused across bench reps (write once);
    * checkpoint and memory sink are per-invocation. Driver state =
    * |users|·|stages| emitted rows in the memory sink — bounded by the
    * funnel's own output size. */
  val q152FunnelStreamServe: Q = (s, dir) => {
    val stages = Seq("view", "click", "purchase")
    val ev = events(s, dir).select(col("user_id"), col("ts"),
      col("event_type"))
    import s.implicits._
    val stream = eventStreamSource(s, dir, "q152", ev)
      .as[graft.streaming.EventStreams.FunnelEvent]
    val tbl = runStreamToTable(s, "q152_funnel",
      graft.streaming.EventStreams.funnelStream(stream, stages).toDF())
    // a user's LAST emission (highest stage) is their final funnel state
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("stage_reached").desc)
    s.table(tbl)
      .withColumn("__rn", row_number().over(wU))
      .filter(col("__rn") === 1)
      .select(col("user_id"),
        element_at(col("ts_us"), 1).as("t1_us"),
        when(size(col("ts_us")) >= 2, element_at(col("ts_us"), 2))
          .as("t2_us"),
        when(size(col("ts_us")) >= 3, element_at(col("ts_us"), 3))
          .as("t3_us"),
        col("stage_reached"))
  }

  /** STREAMED last-touch attribution, oracle-gated under q150 (the q152
    * convention): the event log streams through the two-file harness,
    * [[graft.streaming.EventStreams.attributionPairsStream]]'s
    * stream-stream interval join (both sides watermarked, filtered off
    * the SAME file source) emits the (conversion × in-window touch)
    * pair feed across a real micro-batch boundary, and the batch-side
    * reduction the stream deliberately leaves to its consumer — the
    * per-conversion argmax, LEFT-joined so unattributed purchases keep
    * their null row — folds the sink to q150's schema under its
    * oracle. */
  val q153AttributionStream: Q = (s, dir) => {
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      col("ts"), col("event_type"))
    val stream = eventStreamSource(s, dir, "q153", ev)
    val pairs = graft.streaming.EventStreams.attributionPairsStream(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"),
      "user_id", "event_id", "ts", windowMinutes = 30)
    val tbl = runStreamToTable(s, "q153_attr", pairs)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        unix_micros(col("ts")).as("conv_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id")
      .orderBy(col("touch_us").desc, col("touch_id"))
    val best = s.table(tbl)
      .select(col("conv_id"), col("touch_id"),
        unix_micros(col("touch_ts")).as("touch_us"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    conv.join(best, Seq("conv_id"), "left")
      .select(col("conv_id"), col("user_id"), col("conv_us"),
        col("touch_id"), col("touch_us"),
        (col("conv_us") - col("touch_us")).as("gap_us"))
  }

  /** STREAMED sessionized next-event pairs, oracle-gated under q116:
    * [[graft.streaming.EventStreams.sessionPairStream]]'s
    * flatMapGroupsWithState sessionization folds the two-file harness's
    * micro-batches — sessions and prefixes crossing the batch boundary
    * (per-user order across it holds by the midpoint split) — and the
    * appended pair set IS the final state, hash-gated against the batch
    * gaps-and-islands oracle. */
  val q154SessionPairsStream: Q = (s, dir) => {
    import s.implicits._
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      col("ts"), col("event_type"))
    val stream = eventStreamSource(s, dir, "q154", ev)
      .as[graft.streaming.EventStreams.SessionEvent]
    val tbl = runStreamToTable(s, "q154_sess",
      graft.streaming.EventStreams.sessionPairStream(
        stream, gapMinutes = 30, maxPrefix = 5).toDF())
    s.table(tbl).select(col("user_id"), col("session_idx"),
      col("step"), col("prefix_text"), col("next_type"))
  }

  /** The WATERMARK-BUFFERED funnel under q147's oracle over a feed the
    * drop-late twin provably fails ([[disorderedStreamSource]]: parity
    * split, second micro-batch event-time-earlier than the first's
    * per-user frontier): [[graft.streaming.EventStreams
    * .funnelStreamBuffered]] folds every late-but-in-horizon event at
    * its true position (per-user pending buffer + event-time-timeout
    * flush), so the sink's final state still hash-matches the batch
    * funnel — the oracle gate the r11 verdict asked for on the stream
    * variant that actually serves disordered crawl feeds. Same final-
    * state projection as q152 (a user's highest-stage emission). */
  val q158FunnelStreamReorder: Q = (s, dir) => {
    val stages = Seq("view", "click", "purchase")
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      col("ts"), col("event_type"))
    import s.implicits._
    val (stream, delay) = disorderedStreamSource(s, dir, "q158", ev,
      Seq("user_id", "ts", "event_type"))
    val tbl = runStreamToTable(s, "q158_funnel",
      graft.streaming.EventStreams.funnelStreamBuffered(
        stream.as[graft.streaming.EventStreams.FunnelEvent], stages,
        watermarkDelay = delay).toDF())
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("stage_reached").desc)
    s.table(tbl)
      // the flush sentinel (user −1) emits nothing — the filter just
      // documents that it must not reach the oracle comparison
      .filter(col("user_id") >= 0)
      .withColumn("__rn", row_number().over(wU))
      .filter(col("__rn") === 1)
      .select(col("user_id"),
        element_at(col("ts_us"), 1).as("t1_us"),
        when(size(col("ts_us")) >= 2, element_at(col("ts_us"), 2))
          .as("t2_us"),
        when(size(col("ts_us")) >= 3, element_at(col("ts_us"), 3))
          .as("t3_us"),
        col("stage_reached"))
  }

  /** The WATERMARK-BUFFERED session pairs under q116's oracle over the
    * same disordered feed (q158's convention): [[graft.streaming
    * .EventStreams.sessionPairStreamBuffered]] reorders
    * late-but-in-horizon events before the session fold, so the
    * appended pair set over a feed full of cross-batch regressions —
    * pairs the drop-late q154 operator would strand — still equals the
    * batch gaps-and-islands extraction, hash-gated. */
  val q159SessionPairsReorder: Q = (s, dir) => {
    import s.implicits._
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      col("ts"), col("event_type"))
    val (stream, delay) = disorderedStreamSource(s, dir, "q159", ev,
      Seq("user_id", "event_id", "ts", "event_type"))
    val tbl = runStreamToTable(s, "q159_sess",
      graft.streaming.EventStreams.sessionPairStreamBuffered(
        stream.as[graft.streaming.EventStreams.SessionEvent],
        gapMinutes = 30, maxPrefix = 5, watermarkDelay = delay).toDF())
    s.table(tbl).filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_idx"),
        col("step"), col("prefix_text"), col("next_type"))
  }

  /** Dimension-general Hilbert clustering key ([[graft.operators
    * .Layout.withHilbertKeyN]], Skilling's transpose algorithm) over
    * THREE dims of the event log — the ≥3-dim storage-layout key q157's
    * 2-D rotation could not express. Exact-integer end-to-end, so the
    * oracle replays the whole derivation: the quantization, one CTE per
    * (bit level, axis) inverse-undo exchange (21 of them at 8 bits × 3
    * dims), the sequential Gray fold, the last-axis correction term,
    * and the final interleave. LayoutSpec separately pins the curve
    * properties (bijection, unit-step adjacency) on full grids. */
  val q160HilbertKey3d: Q = (s, dir) => {
    val ev = events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    graft.operators.Layout.withHilbertKeyN(
        ev, Seq(col("user_id"), col("ts_us"), col("event_id")),
        bits = 8, keyCol = "hkey")
      .select(col("event_id"), col("hkey"))
  }

  /** STREAMED CLUSTERED INGEST oracle-gated under q155's key formula
    * ([[graft.streaming.LayoutIngest]] — the layout lever's write
    * path): the event log streams through the two-file harness into a
    * z-order-clustered table (fixed grid bootstrapped from the table's
    * global min/max — the same bounds q155's oracle reads via scalar
    * subqueries), each micro-batch publishing sorted range-partitioned
    * files behind the atomic-rename + commit-marker protocol, the
    * compaction cadence folding the L0 batch dirs into one
    * re-clustered generation. The final table's (event_id, zkey) must
    * hash-match the batch formula — any drift in per-batch
    * quantization, the publish protocol, or the fold loses rows or
    * mints different keys and fails the gate. Bench reps reuse the
    * corpus-keyed table: the marker ledger short-circuits the replayed
    * batches (the q148 warm-replay convention). */
  val q161ClusteredIngest: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q161", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      // table creation sizes the grid ONCE from the known domain —
      // exactly the min/max the oracle replays as scalar subqueries
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q161", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q161-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      compactEvery = Some(2), smallFileBytes = 64L << 20,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** RIGHT-TO-BE-FORGOTTEN on the streamed clustered table
    * ([[graft.streaming.LayoutIngest.delete]]): q161's ingest into
    * a separate corpus-keyed table, then a targeted delete of a 2%
    * user slice — the delete rewrites ONLY the data dirs whose parquet
    * footer statistics intersect the box (the layout paying off on
    * the WRITE side: a time-ordered table would rewrite everything),
    * through the same WAL-manifest/commit-marker protocol, idempotent
    * behind its delete marker (bench reps replay to a no-op — the
    * IndexIngest RTBF convention). The oracle replays the key formula
    * over `events` MINUS the same integer-arithmetic slice; a delete
    * that loses a survivor, resurrects a deleted row, or perturbs one
    * key fails the hash. */
  val q162ClusteredDelete: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q162", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q162", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q162-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      compactEvery = Some(2), smallFileBytes = 64L << 20,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    // the forget box: the middle 2% of the user domain, derived from
    // the PERSISTED grid with the same integer arithmetic the oracle
    // replays ((mx-mn)*49//100 — floor division, non-negative)
    val grid = graft.streaming.LayoutIngest.readGrid(s, tableDir)
    val (umn, umx) = grid.bounds.head
    graft.streaming.LayoutIngest.delete(s, tableDir,
      graft.streaming.LayoutIngest.DmlTarget.Boxes(Seq(Seq(("user_id",
        umn + (umx - umn) * 49 / 100,
        umn + (umx - umn) * 51 / 100)))), id = 1L)
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** The HILBERT-curve streamed clustered table under q160's oracle
    * (q161's protocol, the better-locality curve): grid = 3 dims ×
    * 8 bits, curve "hilbert" — every micro-batch keys with the
    * Skilling N-dim form at fixed bounds, so the streamed table's keys
    * replay q160's 21-CTE derivation exactly. One table property line
    * switches the curve; everything else (publish, markers, compaction,
    * replay) is q161's machinery verbatim. */
  val q163HilbertIngest: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q163", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        min("event_id"), max("event_id")).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us", "event_id"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3)),
            (b.getLong(4), b.getLong(5))),
          bits = 8, curve = "hilbert"))
    }
    val stream = eventStreamSource(s, dir, "q163", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q163-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      compactEvery = Some(2), smallFileBytes = 64L << 20,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey").as("hkey"))
  }

  /** FILE-LEVEL-PRUNED box scan on the streamed clustered table
    * ([[graft.streaming.LayoutIngest.scanBox]]): q161's build, then a
    * box query for the middle 2% user slice — dirs whose footer
    * statistics are disjoint from the box are never opened (Spark's
    * own reader only skips row groups inside files it already listed),
    * the residual predicate makes the result exact regardless of
    * pruning. Oracle = the events INSIDE the same integer-arithmetic
    * slice with their keys — a pruner that drops a dir holding one
    * matching row fails the hash. */
  val q164ClusteredScan: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q164", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q164", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q164-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      compactEvery = Some(2), smallFileBytes = 64L << 20,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    val grid = graft.streaming.LayoutIngest.readGrid(s, tableDir)
    val (umn, umx) = grid.bounds.head
    graft.streaming.LayoutIngest.scanBox(s, tableDir,
      Seq(("user_id",
        umn + (umx - umn) * 49 / 100,
        umn + (umx - umn) * 51 / 100)))
      .select(col("event_id"), col("zkey"))
  }

  /** RANGE-SPLIT COMPACTION under q164's oracle
    * ([[graft.streaming.LayoutIngest.compact]]'s `targetFileBytes`
    * path): q161's build, but the fold is forced to publish a
    * generation of MULTIPLE range-disjoint `range-k/` leaf units
    * (target ≈ a sixth of the table), then the middle 2% user slice is
    * scanned THROUGH the split table. This is the shape a 100 TB fold
    * actually has — one monolithic generation dir would make every
    * later box open the whole fold; the split keeps file-level pruning
    * alive across compactions. The query refuses to answer from an
    * unsplit table (the gate's premise), and the hash gate proves the
    * split publish + leaf-granularity read rule lose nothing: a leaf
    * dropped by [[graft.streaming.LayoutIngest.read]]'s liveness rule
    * or mis-pruned by the box scan fails the oracle. Warm bench reps
    * reuse the folded table (one gen → the fold guard skips). */
  val q165SplitCompactScan: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q165", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q165", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q165-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    val dataDir = new java.io.File(s"$tableDir/data")
    def tops = Option(dataDir.listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
    // fold the whole L0 tail once, sized to force a ~6-way range split
    if (tops.length >= 2)
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L, parquetBytes(dataDir) / 6))
    val leaves = tops.flatMap(t =>
      Option(t.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => d.isDirectory && d.getName.startsWith("range-")))
    require(leaves.length >= 2,
      s"q165: expected a range-split generation, got ${leaves.length} leaves")
    val grid = graft.streaming.LayoutIngest.readGrid(s, tableDir)
    val (umn, umx) = grid.bounds.head
    graft.streaming.LayoutIngest.scanBox(s, tableDir,
      Seq(("user_id",
        umn + (umx - umn) * 49 / 100,
        umn + (umx - umn) * 51 / 100)))
      .select(col("event_id"), col("zkey"))
  }

  /** BLOOM-SIDECAR POINT LOOKUP on the streamed clustered table
    * ([[graft.streaming.LayoutIngest.scanPoints]]): q161's build with
    * a per-unit Bloom filter on `event_id` — a column the layout does
    * NOT cluster, so min/max statistics cannot prune an equality
    * probe (every unit's range intersects a mid-domain id). The scan
    * probes three ids derived from the table's own domain with
    * integer arithmetic the oracle replays; units whose bloom
    * excludes all three are never opened (the query refuses to answer
    * unless the blooms actually pruned), false positives and
    * bloom-less units are covered by the `isin` residual, so the
    * hash gate proves exactness end-to-end. Oracle = the key formula
    * over events restricted to the same IN list. */
  val q166BloomPointScan: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q166", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16, bloomCols = Seq("event_id")))
    }
    val stream = eventStreamSource(s, dir, "q166", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q166-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    // fold into a ~8-leaf range-split generation (q165's shape): with
    // only the two L0 batch dirs every unit holds ids from the whole
    // domain and a spread probe could not prune anything
    val dataDir = new java.io.File(s"$tableDir/data")
    if (Option(dataDir.listFiles()).getOrElse(Array.empty[java.io.File])
        .count(_.isDirectory) >= 2)
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L, parquetBytes(dataDir) / 8))
    val eb = ev.agg(min("event_id"), max("event_id")).head()
    val (emn, emx) = (eb.getLong(0), eb.getLong(1))
    val probes = Seq(1L, 3L, 5L).map(j => emn + (emx - emn) * j / 7)
    val (hit, live) = graft.streaming.LayoutIngest.pointProbeDirs(
      s, tableDir, "event_id", probes)
    require(hit.size < live.size,
      s"q166: the bloom must prune some units, got ${hit.size}/${live.size}")
    graft.streaming.LayoutIngest.scanPoints(s, tableDir, "event_id",
      probes)
      .select(col("event_id"), col("zkey"))
  }

  /** REGRID under q155's full-domain oracle
    * ([[graft.streaming.LayoutIngest.regrid]] — the domain-drift
    * answer): the event log is ingested under a deliberately-NARROW
    * grid whose user_id bound stops at mid-domain, so the upper half
    * of the users clamps to the edge cells (the premise is enforced:
    * the query refuses unless clamped rows exist). `regrid` then
    * rewrites into a fresh table under the TRUE domain — exactly the
    * bounds q155's oracle reads as scalar subqueries — so the gate
    * proves the rewrite re-keys every row under the new grid with
    * nothing lost and nothing invented: one clamped key surviving, one
    * row dropped by the half-split ingest, or one drifted quantization
    * fails the hash. Warm bench reps read the installed table (regrid
    * refuses an existing destination by contract). */
  val q167Regrid: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q167", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    if (!new java.io.File(s"$dstDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (umn, umx) = (b.getLong(0), b.getLong(1))
      val (tmn, tmx) = (b.getLong(2), b.getLong(3))
      val mid = umn + (umx - umn) / 2
      require(ev.filter(col("user_id") > mid).limit(1).count() > 0,
        "q167: the narrow grid must actually clamp rows")
      if (!new java.io.File(s"$srcDir/grid").exists()) {
        graft.streaming.LayoutIngest.bootstrap(s, srcDir,
          graft.streaming.LayoutIngest.Grid(
            Seq("user_id", "ts_us"),
            Seq((umn, mid), (tmn, tmx)), bits = 16))
        graft.streaming.LayoutIngest.ingestBatch(ev, 0L, srcDir,
          filesPerBatch = 4): Unit
      }
      graft.streaming.LayoutIngest.regrid(s, srcDir, dstDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((umn, umx), (tmn, tmx)), bits = 16))
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"))
  }

  /** CDC READ on the streamed clustered table
    * ([[graft.streaming.LayoutIngest.readSince]] — every row carries
    * the id of the micro-batch that ingested it, immutable through
    * folds): q161's build with the compaction cadence ON, so both
    * feed batches land and are folded into ONE generation before the
    * read — then `readSince(0)` must recover exactly the second
    * file's events from INSIDE the folded gen (row-level provenance;
    * the query refuses to answer from an unfolded table). The feed
    * splits the log at the timestamp midpoint the oracle replays
    * (`tmn//2 + tmx//2`), so the gate proves batch attribution
    * end-to-end: a fold that loses the column, a replay that
    * re-stamps a different id, or an off-by-one at the cut fails the
    * hash. The file-level pruning half of the contract (a CDC tail
    * read skips folded generations entirely from the stats sidecars)
    * is pinned in LayoutIngestSpec. */
  val q168CdcRead: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q168", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q168", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q168-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      compactEvery = Some(2), smallFileBytes = 1L << 30,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    // the gate's premise: provenance must be read THROUGH a fold
    val tops = Option(new java.io.File(s"$tableDir/data").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
    require(tops.exists(_.getName.startsWith("gen-")),
      s"q168: expected a folded generation, got ${tops.map(_.getName).toSeq}")
    graft.streaming.LayoutIngest.readSince(s, tableDir, 0L)
      .select(col("event_id"), col("zkey"))
  }

  /** q155's key formula restricted to the feed's SECOND file: the
    * two-file harness cuts the log at the timestamp midpoint
    * (`tmn/2 + tmx/2` in long arithmetic — positive values, so Scala
    * truncation ≡ DuckDB floor division). */
  val q168Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE CAST(epoch_us(ts) AS BIGINT) >=
       |    (SELECT tmn // 2 + tmx // 2 FROM b))
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  /** ADDITIVE SCHEMA EVOLUTION on the clustered table
    * ([[graft.streaming.LayoutIngest.tableSchema]] — the stored-union
    * sidecar): batch 0 lands the first half of the event log WITHOUT
    * the `value` column, batch 1 lands the second half WITH it, and
    * the fold normalizes both into one generation under the union
    * schema. The read must surface `value` as NULL for every
    * pre-evolution row and verbatim for every post-evolution row,
    * with the cluster keys untouched — the oracle replays the key
    * formula plus a CASE on the same midpoint cut, so a fold that
    * drops the new column, a read that fills the wrong rows, or a
    * key perturbed by the schema change fails the hash. The cut is
    * the two-file harness's (`tmn/2 + tmx/2`, positive longs:
    * truncation ≡ floor). */
  val q169SchemaEvolve: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q169", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val cut = b.getLong(2) / 2 + b.getLong(3) / 2
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") < cut).drop("value"),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") >= cut),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30)
    }
    // the gate's premise: the union schema must be read THROUGH a fold
    val tops = Option(new java.io.File(s"$tableDir/data").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
    require(tops.exists(_.getName.startsWith("gen-")),
      s"q169: expected a folded generation, got ${tops.map(_.getName).toSeq}")
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  /** STRING-BLOOM point lookup
    * ([[graft.streaming.LayoutIngest.scanPointsStr]]): q166's gate
    * through the STRING bloom path — the table carries a
    * high-cardinality string id (`eid_str = 'e' || event_id`, a
    * payload column the layout does not cluster and min/max stats
    * cannot prune), per-unit string blooms are built at publish, and
    * the scan probes three derived ids the oracle replays with the
    * same concatenation. The query refuses to answer unless the
    * blooms pruned; the `isin` residual keeps false positives exact,
    * so the hash gate proves the string hash path end-to-end (a
    * bloom whose string hashing disagrees between build and probe
    * drops a present value and fails the hash). */
  val q170StrBloomScan: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
      .withColumn("eid_str",
        concat(lit("e"), col("event_id").cast("string")))
    val root = streamIndexDir("q170", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16, bloomCols = Seq("eid_str")))
      // two halves + a sized fold: a q165-style range-split generation,
      // so the probes have many disjoint units to prune against
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      val dataDir = new java.io.File(s"$tableDir/data")
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L, parquetBytes(dataDir) / 8))
    }
    val eb = ev.agg(min("event_id"), max("event_id")).head()
    val (emn, emx) = (eb.getLong(0), eb.getLong(1))
    val probes = Seq(1L, 3L, 5L).map(j => s"e${emn + (emx - emn) * j / 7}")
    val (hit, live) = graft.streaming.LayoutIngest.pointProbeDirs(
      s, tableDir, "eid_str", probes)
    require(hit.size < live.size,
      s"q170: the string bloom must prune, got ${hit.size}/${live.size}")
    graft.streaming.LayoutIngest.scanPointsStr(s, tableDir, "eid_str",
      probes)
      .select(col("event_id"), col("zkey"), col("eid_str"))
  }

  val q170Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    'e' || CAST(event_id AS VARCHAR) AS eid_str,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE event_id IN (
       |    SELECT emn + ((emx - emn) * 1) // 7 FROM b UNION ALL
       |    SELECT emn + ((emx - emn) * 3) // 7 FROM b UNION ALL
       |    SELECT emn + ((emx - emn) * 5) // 7 FROM b))
       |SELECT event_id, $terms AS zkey, eid_str FROM q""".stripMargin
  }

  /** EXACTLY-ONCE STREAM CONSUMPTION of the clustered table through
    * Spark's own checkpoint machinery
    * ([[graft.streaming.LayoutTableSource]] — the CDC read side as a
    * real `readStream.format("graft-layout")` source, resolved via the
    * DataSourceRegister short name): the event log lands as a GAPPED
    * multi-batch ingest — batches 0 and 2 published, 1 deliberately
    * missing — and a file-sink consumer drains the table. The first
    * drain must deliver ONLY batch 0 (the offset is the contiguous
    * committed prefix: serving batch 2 over the gap would skip batch 1
    * forever once it commits — the premise is enforced with a refusal,
    * not assumed). Then the gap commits, the whole table FOLDS into
    * one generation, and the SAME checkpoint resumes: the second drain
    * must deliver exactly batches 1–2, read from INSIDE the fold via
    * the provenance sidecars. The sink's union is hashed against the
    * full q155 key formula — a double delivery, a skipped batch, an
    * offset that jumped the gap, or a fold that perturbed provenance
    * all fail the hash (the sink would carry dup or missing event
    * ids). Warm bench reps re-read the finished sink (the file sink's
    * own _spark_metadata keeps the read exact). */
  val q171CdcStreamConsume: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q171", dir, "events")
    val tableDir = s"$root/table"
    val sinkDir = s"$root/sink"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val cut = b.getLong(2) / 2 + b.getLong(3) / 2
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
      val s0 = ev.filter(col("ts_us") < cut)
      val s1 = ev.filter(col("ts_us") >= cut &&
        abs(hash(col("event_id"))) % 2 === 0)
      val s2 = ev.filter(col("ts_us") >= cut &&
        abs(hash(col("event_id"))) % 2 =!= 0)
      graft.streaming.LayoutIngest.ingestBatch(s0, 0L, tableDir, 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(s2, 2L, tableDir, 4): Unit
      require(graft.streaming.LayoutIngest
          .contiguousCommittedBatch(s, tableDir) == 0L,
        "q171: the harness must start with a gap at batch 1")
      def drain(): Unit = {
        val q = s.readStream.format("graft-layout")
          .option("path", tableDir).load()
          .writeStream.format("parquet").option("path", sinkDir)
          .option("checkpointLocation", s"$root/ckpt")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      drain()
      val afterFirst = s.read.parquet(sinkDir).count()
      val n0 = s0.count()
      require(s2.limit(1).count() > 0,
        "q171: the batch above the gap must be non-empty for the " +
          "holdback premise to bite")
      require(afterFirst == n0,
        s"q171: the gap must hold the offset back — first drain " +
          s"consumed $afterFirst rows, expected only batch 0's $n0")
      // the gap commits; the whole tail folds into ONE generation, so
      // the second drain reads its range from inside the fold
      graft.streaming.LayoutIngest.ingestBatch(s1, 1L, tableDir, 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30)
      val tops = Option(new java.io.File(s"$tableDir/data").listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
      require(tops.exists(_.getName.startsWith("gen-")),
        s"q171: expected a folded generation, got ${tops.map(_.getName).toSeq}")
      drain()
      done.createNewFile(): Unit
    }
    s.read.parquet(sinkDir).select(col("event_id"), col("zkey"))
  }

  /** RATE-LIMITED STREAM DRAIN of the clustered table
    * ([[graft.streaming.LayoutTableSource]]'s `maxBatchesPerTrigger`):
    * q171's consumer over a gapless three-batch ingest, capped at ONE
    * ingest batch per micro-batch — the catch-up discipline a 100 TB
    * backlog needs (one giant micro-batch is an unbounded unit of work
    * and an unbounded sink transaction). The premise is enforced: the
    * drain must take ≥ 3 non-empty micro-batches, each carrying at
    * most one ingest batch's rows, or the query refuses. The drained
    * union still hashes against the full q155 key formula — the cap
    * must change the STEPS, never the set. */
  val q174CdcStreamRatelimit: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q174", dir, "events")
    val tableDir = s"$root/table"
    val sinkDir = s"$root/sink"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (tmn, tmx) = (b.getLong(2), b.getLong(3))
      val cut1 = tmn + (tmx - tmn) / 3
      val cut2 = tmn + 2 * ((tmx - tmn) / 3)
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (tmn, tmx)), bits = 16))
      val slices = Seq(
        ev.filter(col("ts_us") < cut1),
        ev.filter(col("ts_us") >= cut1 && col("ts_us") < cut2),
        ev.filter(col("ts_us") >= cut2))
      slices.zipWithIndex.foreach { case (sl, i) =>
        graft.streaming.LayoutIngest.ingestBatch(
          sl, i.toLong, tableDir, 4): Unit
      }
      val maxSlice = slices.map(_.count()).max
      val q = s.readStream.format("graft-layout")
        .option("path", tableDir)
        .option("maxBatchesPerTrigger", "1")
        .load()
        .writeStream.format("parquet").option("path", sinkDir)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      q.processAllAvailable()
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      q.stop()
      require(nonEmpty.length >= 3,
        s"q174: the cap must split the drain into >= 3 micro-batches, " +
          s"got ${nonEmpty.length}")
      require(nonEmpty.forall(_.numInputRows <= maxSlice),
        s"q174: a micro-batch exceeded one ingest batch's rows: " +
          nonEmpty.map(_.numInputRows).mkString(","))
      done.createNewFile(): Unit
    }
    s.read.parquet(sinkDir).select(col("event_id"), col("zkey"))
  }

  /** CLEAN-RESTART FRONTIER OFFER of the rate-limited CDC stream —
    * the battery gate for the persisted offered-cursor
    * ([[graft.streaming.LayoutTableSource]], `offered-<n>` under the
    * engine metadataPath): q174's capped drain, STOPPED cleanly, three
    * more batches ingested, then the SAME checkpoint restarted. The
    * premise pins the cursor's whole point: the restarted query's
    * FIRST trigger must deliver rows (the cursor re-seeds at the
    * persisted frontier, so getOffset offers past the checkpoint
    * immediately) — without persistence the cursor resets to the
    * floor and the first ~checkpoint/cap triggers are EMPTY
    * full-listing creep-up rounds (exactly what a 100 TB consumer
    * restarting against a million-batch ledger cannot afford). The
    * cap discipline must survive the restart (each micro-batch ≤ one
    * ingest batch) and the two drains' union still hashes against the
    * full q155 key formula — pacing changed, the set never. */
  val q184CursorRestart: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q184", dir, "events")
    val tableDir = s"$root/table"
    val sinkDir = s"$root/sink"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (tmn, tmx) = (b.getLong(2), b.getLong(3))
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (tmn, tmx)), bits = 16))
      val cuts = (1 to 5).map(i => tmn + i * ((tmx - tmn) / 6))
      val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
      val slices = bounds.sliding(2).toSeq.map { case Seq(lo, hi) =>
        ev.filter(col("ts_us") >= lo && col("ts_us") < hi) }
      def drain(): Seq[org.apache.spark.sql.streaming
          .StreamingQueryProgress] = {
        val q = s.readStream.format("graft-layout")
          .option("path", tableDir)
          .option("maxBatchesPerTrigger", "1")
          .load()
          .writeStream.format("parquet").option("path", sinkDir)
          .option("checkpointLocation", s"$root/ckpt")
          .start()
        q.processAllAvailable()
        val progress = q.recentProgress.toSeq
        q.stop()
        progress
      }
      slices.take(3).zipWithIndex.foreach { case (sl, i) =>
        graft.streaming.LayoutIngest.ingestBatch(
          sl, i.toLong, tableDir, 4): Unit
      }
      drain(): Unit
      slices.drop(3).zipWithIndex.foreach { case (sl, i) =>
        graft.streaming.LayoutIngest.ingestBatch(
          sl, 3L + i, tableDir, 4): Unit
      }
      val p2 = drain()
      require(p2.nonEmpty && p2.head.numInputRows > 0,
        s"q184: the restarted stream's FIRST trigger must deliver " +
          "rows (frontier offered from the persisted cursor), got " +
          p2.map(_.numInputRows).mkString(","))
      val nonEmpty = p2.filter(_.numInputRows > 0)
      val maxSlice = slices.drop(3).map(_.count()).max
      require(nonEmpty.length >= 3,
        s"q184: the cap must split the second drain into >= 3 " +
          s"micro-batches, got ${nonEmpty.length}")
      require(nonEmpty.forall(_.numInputRows <= maxSlice),
        s"q184: a post-restart micro-batch exceeded one ingest " +
          s"batch's rows: ${nonEmpty.map(_.numInputRows).mkString(",")}")
      done.createNewFile(): Unit
    }
    s.read.parquet(sinkDir).select(col("event_id"), col("zkey"))
  }

  /** LIVE txn-stream + batch-append INTERLEAVE — the end-to-end gate
    * for the DEFAULT txn-minted regime
    * ([[graft.streaming.LayoutIngest.start]], no flag passed): the
    * event log lands through BOTH write surfaces on ONE table,
    * interleaved in ledger order 0,1 (stream) → 2,3 (batch appends) →
    * 4,5 (stream, same checkpoint restarted) → 6 (a batch append WHILE
    * the stream query is live) → 7 (the stream mints PAST the
    * concurrent append — a file staged after it, picked up by the
    * still-running query). Every id is premised exactly: under the
    * `ids = EpochKeyedIds` opt-in the restarted stream's epoch 2 would
    * collide with append id 2 and silently drop a slice — the hazard
    * whose demonstrated severity got the default FLIPPED to txn-minted
    * (r16 verdict #1). The final table hashes against q155's full key
    * formula: a dropped slice, a duplicated replay, or an id collision
    * fails the hash. */
  val q185TxnInterleave: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q185", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (tmn, tmx) = (b.getLong(2), b.getLong(3))
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (tmn, tmx)), bits = 16))
      val cuts = (1 to 7).map(i => tmn + i * ((tmx - tmn) / 8))
      val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
      val slices = bounds.sliding(2).toSeq.map { case Seq(lo, hi) =>
        ev.filter(col("ts_us") >= lo && col("ts_us") < hi) }
      val total = ev.count()
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sessionState.newHadoopConf())
      // one more arrival into the live stream's in-dir (the
      // stageStreamFiles convention, one file at a time)
      def addStreamFile(df: DataFrame, name: String): Unit = {
        val stage = s"$root/stage-$name"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part: $stage"))
        fs.rename(part, new org.apache.hadoop.fs.Path(
          s"$root/in", s"$name.parquet")): Unit
        fs.delete(new org.apache.hadoop.fs.Path(stage), true): Unit
      }
      def stream(availableNow: Boolean) = graft.streaming.LayoutIngest
        .start(
          s.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
            .parquet(s"$root/in"),
          tableDir, s"$root/ckpt", filesPerBatch = 2,
          availableNow = availableNow)
      def committed(): Long = graft.streaming.LayoutIngest
        .contiguousCommittedBatch(s, tableDir)
      def awaitLedger(n: Long): Unit = {
        val deadline = System.currentTimeMillis() + 120000L
        while (committed() < n) {
          require(System.currentTimeMillis() < deadline,
            s"q185: ledger stuck at ${committed()}, waiting for $n")
          Thread.sleep(25)
        }
      }
      // phase 1: stream drains slices 0,1 -> txn-minted ids 0,1
      stageStreamFiles(s, root, slices.take(2))
      val qa = stream(availableNow = true)
      qa.awaitTermination()
      require(committed() == 1L, s"q185: stream ids 0,1 first, " +
        s"ledger at ${committed()}")
      // phase 2: batch appends take 2,3 — under the default regime the
      // restarted stream's epochs would now collide here
      require(graft.streaming.LayoutIngest.appendNext(
        s, tableDir, slices(2), 2) == 2L, "q185: append must mint 2")
      require(graft.streaming.LayoutIngest.appendNext(
        s, tableDir, slices(3), 2) == 3L, "q185: append must mint 3")
      // phase 3: same checkpoint restarted LIVE; two more arrivals
      // mint 4,5 above the appends
      addStreamFile(slices(4), "b3")
      addStreamFile(slices(5), "b4")
      val qb = stream(availableNow = false)
      try {
        awaitLedger(5L)
        // phase 4: append WHILE the query is live — the tail lock
        // serializes, the reservation machinery keeps ids disjoint
        require(qb.isActive, "q185: the stream must be live here")
        val appendId = graft.streaming.LayoutIngest.appendNext(
          s, tableDir, slices(6), 2)
        require(appendId == 6L,
          s"q185: the live-phase append must mint 6, got $appendId")
        // phase 5: the stream mints PAST the concurrent append
        addStreamFile(slices(7), "b5")
        awaitLedger(7L)
        val deadline = System.currentTimeMillis() + 120000L
        while (graft.streaming.LayoutIngest.read(s, tableDir).count()
            < total) {
          require(System.currentTimeMillis() < deadline,
            "q185: rows missing after ledger 7")
          Thread.sleep(25)
        }
      } finally qb.stop()
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** SNAPSHOT-BOOTSTRAP TAIL of the clustered table
    * ([[graft.streaming.LayoutTableSource]]'s `startingBatch`): the
    * two-file midpoint ingest (batches 0 and 1), consumed by a FRESH
    * checkpoint floored at batch 1 — the Delta-startingVersion shape:
    * a new consumer reads the snapshot once and tails, instead of
    * replaying the whole history through the stream. The sink must
    * hold EXACTLY the second file's events (q168's readSince oracle —
    * the same midpoint arithmetic), so a floor that leaks history or
    * clips the tail fails the hash. */
  val q175CdcStreamTail: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q175", dir, "events")
    val tableDir = s"$root/table"
    val sinkDir = s"$root/sink"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val cut = b.getLong(2) / 2 + b.getLong(3) / 2
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") < cut), 0L, tableDir, 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") >= cut), 1L, tableDir, 4): Unit
      val q = s.readStream.format("graft-layout")
        .option("path", tableDir)
        .option("startingBatch", "1")
        .load()
        .writeStream.format("parquet").option("path", sinkDir)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      q.processAllAvailable()
      q.stop()
      done.createNewFile(): Unit
    }
    s.read.parquet(sinkDir).select(col("event_id"), col("zkey"))
  }

  /** ROW-KEYED MERGE (upsert) on the clustered table
    * ([[graft.streaming.LayoutIngest.mergeRows]] — the reference's
    * K5/K6 row-keyed update pattern generalized to the lakehouse
    * surface): q170's build (two batches, range-split fold, blooms on
    * `event_id`), then one merge batch that DOUBLES the value of five
    * mid-domain event ids (the oracle replays the id arithmetic) and
    * INSERTS one brand-new row at the domain corner (key emx+1000,
    * user umn, ts tmn → zkey 0 exactly). The bloom sidecars must prune
    * the rewrite (the query refuses if every unit is touched), and the
    * final table hashes against events with a CASE on the merged ids
    * plus the inserted row — a lost survivor, an unreplaced update, a
    * double-applied merge, or a perturbed key fails the hash. Bench
    * reps replay the merge to an O(1) no-op behind its marker (the
    * q162 RTBF convention). */
  val q172MergeUpsert: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q172", dir, "events")
    val tableDir = s"$root/table"
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id")).head()
    val (emn, emx) = (b.getLong(4), b.getLong(5))
    val mergeIds = (1 to 5).map(j => emn + (emx - emn) * j / 7)
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16, bloomCols = Seq("event_id")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      val dataDir = new java.io.File(s"$tableDir/data")
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L, parquetBytes(dataDir) / 8))
      // the gate's premise: the merge must be a PRUNED rewrite — a
      // point update that touches every unit is the row-keyed-update
      // failure mode this surface exists to avoid
      val (hit, live) = graft.streaming.LayoutIngest.pointProbeDirs(
        s, tableDir, "event_id", mergeIds :+ (emx + 1000L))
      require(hit.size < live.size,
        s"q172: the blooms must prune the merge, got ${hit.size}/${live.size}")
    }
    val updates = ev
      .filter(col("event_id").isInCollection(mergeIds))
      .withColumn("value", col("value") * 2)
      .unionByName(s.range(1).select(
        lit(emx + 1000L).as("event_id"),
        lit(b.getLong(0)).as("user_id"),
        lit(b.getLong(2)).as("ts_us"),
        lit(42.0).as("value")))
    graft.streaming.LayoutIngest.mergeRows(s, tableDir, "event_id",
      updates, batchId = 2L): Unit
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  /** STRING-KEYED MERGE on the clustered table — q172 through the
    * string-bloom pruning path (the realistic LLM-corpus shape: RTBF
    * and corrections arrive keyed on string DOCUMENT ids, not numeric
    * event ids): q170's table (`eid_str = 'e' || event_id`, string
    * blooms), one merge batch doubling three mid-domain string keys
    * and inserting a fresh `'e<emx+1000>'` row at the domain corner.
    * String keys have NO min/max sidecar range, so the bloom is the
    * ONLY pruner — the refusal premise proves it actually pruned. */
  val q173MergeUpsertStr: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("eid_str",
        concat(lit("e"), col("event_id").cast("string")))
    val root = streamIndexDir("q173", dir, "events")
    val tableDir = s"$root/table"
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id")).head()
    val (emn, emx) = (b.getLong(4), b.getLong(5))
    val mergeKeys = (1 to 3).map(j => s"e${emn + (emx - emn) * j / 5}")
    val newKey = s"e${emx + 1000}"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16, bloomCols = Seq("eid_str")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      val dataDir = new java.io.File(s"$tableDir/data")
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L, parquetBytes(dataDir) / 8))
      val (hit, live) = graft.streaming.LayoutIngest.pointProbeDirs(
        s, tableDir, "eid_str", mergeKeys :+ newKey)
      require(hit.size < live.size,
        s"q173: the string blooms must prune the merge, got " +
          s"${hit.size}/${live.size}")
    }
    val updates = ev
      .filter(col("eid_str").isInCollection(mergeKeys))
      .withColumn("value", col("value") * 2)
      .unionByName(s.range(1).select(
        lit(emx + 1000L).as("event_id"),
        lit(b.getLong(0)).as("user_id"),
        lit(b.getLong(2)).as("ts_us"),
        lit(42.0).as("value"),
        lit(newKey).as("eid_str")))
    graft.streaming.LayoutIngest.mergeRows(s, tableDir, "eid_str",
      updates, batchId = 2L): Unit
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("eid_str"), col("zkey"), col("value"))
  }

  val q173Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT 'e' || CAST((SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 5
       |    AS VARCHAR) AS kid
       |  FROM range(1, 4) t(j)),
       |q AS (
       |  SELECT 'e' || CAST(event_id AS VARCHAR) AS eid_str,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    CASE WHEN 'e' || CAST(event_id AS VARCHAR) IN
       |        (SELECT kid FROM k)
       |      THEN value * 2 ELSE value END AS value
       |  FROM events)
       |SELECT eid_str, $terms AS zkey, value FROM q
       |UNION ALL
       |SELECT 'e' || CAST((SELECT emx FROM b) + 1000 AS VARCHAR),
       |  CAST(0 AS BIGINT), 42.0""".stripMargin
  }

  /** TABLE-HISTORY LEDGER VIEW ([[graft.streaming.LayoutIngest.history]]
    * — the DESCRIBE HISTORY surface, driver-certified like everything
    * else): replay a KNOWN operation sequence — three ingests folded to
    * one `ingest-upto` watermark row, a tail ingest above a gap, a box
    * delete, a gap-filling row-keyed merge (whose append is itself a
    * ledger ingest), and a deliberately STANDING merge intent (the
    * crashed-merge state an operator must see as committed = false) —
    * and hash the (kind, id, committed) set against its literal oracle.
    * `at_ms` is excluded (file mtimes are not replayable). A watermark
    * that re-materialized per-batch rows, a lost tail marker, a merge
    * that failed to burn its ingest id, or an intent misreported as
    * committed all fail the hash. Every op is idempotent behind its
    * marker, so bench reps replay to O(metadata) no-ops. */
  val q176TableHistory: Q = (s, dir) => {
    val tableDir = buildHistoryLedger(s, dir, "q176")
    graft.streaming.LayoutIngest.history(s, tableDir)
      .select(col("kind"), col("id"), col("committed"))
  }

  /** The q176 ledger fixture: ingest 0-2, marker fold, gap-tail ingest
    * 4, delete 7, update 2, the DML-marker fold (del-7/upd-2
    * consolidate into one dml-log — history must read identically),
    * gap-filling merge 3, a standing intent 11 — one
    * exact ledger presentation both the API view (q176) and the SQL
    * TVF view (q186) hash against the same literal oracle. Built
    * EXACTLY once per table: the ops are each idempotent, but a
    * replayed compactMarkers would legitimately fold the gap-filled
    * 3/4 tail markers into the watermark — a DIFFERENT (also valid)
    * presentation than the one the oracle pins. */
  private def buildHistoryLedger(s: SparkSession, dir: String,
      tag: String): String = {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir(tag, dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us"), min("event_id"), max("event_id"))
        .head()
      val (umn, tmn, tmx) = (b.getLong(0), b.getLong(2), b.getLong(3))
      val (emn, emx) = (b.getLong(4), b.getLong(5))
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((umn, b.getLong(1)), (tmn, tmx)),
          bits = 16, bloomCols = Seq("event_id")))
      val cut1 = tmn + (tmx - tmn) / 4
      val cut2 = tmn + (tmx - tmn) / 2
      val cut3 = tmn + 3 * ((tmx - tmn) / 4)
      def ing(sl: DataFrame, id: Long): Unit =
        graft.streaming.LedgerLock.withLock(s, tableDir) {
          graft.streaming.LayoutIngest.ingestBatch(
            sl, id, tableDir, 2): Unit
        }
      ing(ev.filter(col("ts_us") < cut1), 0L)
      ing(ev.filter(col("ts_us") >= cut1 && col("ts_us") < cut2), 1L)
      ing(ev.filter(col("ts_us") >= cut2 && col("ts_us") < cut3), 2L)
      // fold the contiguous prefix to ONE watermark row, then a tail
      // ingest ABOVE a gap at 3 (it must keep its individual marker)
      graft.streaming.LayoutIngest.compactMarkers(s, tableDir)
      ing(ev.filter(col("ts_us") >= cut3), 4L)
      graft.streaming.LayoutIngest.delete(s, tableDir,
        graft.streaming.LayoutIngest.DmlTarget.Boxes(
          Seq(Seq(("user_id", umn, umn)))), id = 7L): Unit
      // a recorded UPDATE (id 2), then the DML-marker FOLD: both
      // statements' permanent records consolidate into ONE dml-log
      // file and history() must present them EXACTLY as before — the
      // r17 verdict's bound-the-DML-namespace ask, gated here because
      // this fixture is the ledger-presentation oracle (the
      // assignment reads only an UNTOUCHED column — the replayable
      // shape the record-time self-ref gate now requires; only the
      // ledger, never row content, matters to this gate)
      graft.streaming.LayoutIngest.update(s, tableDir,
        graft.streaming.LayoutIngest.DmlTarget.Boxes(
          Seq(Seq(("user_id", umn + 1, umn + 1)))),
        Seq("value" -> (col("user_id") % 97).cast("double")),
        id = 2L): Unit
      require(graft.streaming.LayoutIngest
          .compactDmlMarkers(s, tableDir) == 2,
        s"$tag premise: the fold must retire exactly del-7 and upd-2")
      require(!new java.io.File(s"$tableDir/markers/del-7").exists() &&
          !new java.io.File(s"$tableDir/markers/upd-2").exists(),
        s"$tag premise: individual DML markers must be gone post-fold")
      // the merge FILLS the gap: its append is ingest 3 in the ledger
      graft.streaming.LayoutIngest.mergeRows(s, tableDir, "event_id",
        ev.filter(col("event_id") === lit(emn + (emx - emn) / 2))
          .withColumn("value", col("value") * 2),
        batchId = 3L): Unit
      // the crashed-merge state: a standing intent, no commit marker
      new java.io.File(s"$tableDir/markers/merge-11.intent")
        .createNewFile(): Unit
      done.createNewFile(): Unit
    }
    tableDir
  }

  /** `graft_history` TVF — q176's ledger through the SQL surface
    * ([[graft.sql.GraftTvf]]): the same exact fixture, read as
    * `SELECT ... FROM graft_history('<dir>')` against the same literal
    * VALUES oracle — the TVF must present the ledger identically to
    * the API view. */
  val q186SqlHistory: Q = (s, dir) => {
    val tableDir = buildHistoryLedger(s, dir, "q186")
    s.sql("SELECT kind, id, committed " +
      s"FROM graft_history('$tableDir')")
  }

  /** FORMAT-LEVEL STREAMING SINK under q155's key oracle — q161's
    * streamed clustered ingest driven entirely through
    * `writeStream.format("graft-layout")`
    * ([[graft.streaming.LayoutStreamSink]]) instead of the library
    * API: the two-file harness streams the event log into the sink
    * (epoch-keyed ids, so bench reps replay the same content under
    * the same epochs and no-op on the marker ledger — q161's warm
    * convention), each micro-batch landing through the SAME publish
    * protocol (fixed-grid keying, atomic rename, commit marker,
    * compaction cadence). The final table's (event_id, zkey) must
    * hash-match the batch formula — an option-wiring slip, a dropped
    * epoch, or a sink-side re-execution of the micro-batch plan fails
    * the hash. */
  val q187StreamSink: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q187", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q187", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q187-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    val q = stream.writeStream
      .format("graft-layout")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .option("filesPerBatch", "8")
      .option("epochIds", "true")
      .option("compactEvery", "2")
      .option("smallFileBytes", (64L << 20).toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(tableDir)
    q.awaitTermination()
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** VACUUM under q162's delete oracle
    * ([[graft.streaming.LayoutIngest.vacuum]] — the retention sweep):
    * the event log lands as TWO batch splits chosen so the q162 forget
    * box exactly covers the first unit (its rewrite publishes a
    * ZERO-ROW replacement — the debris class deletes leave behind),
    * plus a planted dead ingest stage (the crash class a txn-regime
    * restart never revisits). Premises pin both classes present, then
    * vacuum must count and physically drop exactly them — and the
    * table must STILL hash against q162's oracle (events minus the
    * slice, keys replayed): a vacuum that touched one live row, one
    * live unit, or the provenance views fails the gate. */
  val q188Vacuum: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q188", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (umn, umx) = (b.getLong(0), b.getLong(1))
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((umn, umx), (b.getLong(2), b.getLong(3))),
          bits = 16))
      // q162's forget box, derived with the oracle's integer
      // arithmetic; batch 0 = exactly the box's rows, so the delete
      // rewrite empties that whole unit
      val (blo, bhi) = (umn + (umx - umn) * 49 / 100,
        umn + (umx - umn) * 51 / 100)
      val inBox = col("user_id") >= blo && col("user_id") <= bhi
      require(graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(inBox), 0L, tableDir, 1), "q188: batch 0")
      require(graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(!inBox), 1L, tableDir, 4), "q188: batch 1")
      require(graft.streaming.LayoutIngest.delete(s, tableDir,
        graft.streaming.LayoutIngest.DmlTarget.Boxes(
          Seq(Seq(("user_id", blo, bhi)))), id = 0L), "q188: delete")
      // premise: the emptied unit is PHYSICALLY present pre-vacuum
      val unitsBefore = Option(
        new java.io.File(s"$tableDir/data").list()).map(_.length)
        .getOrElse(0)
      require(unitsBefore == 2,
        s"q188 premise: want empty gen + live gen, got $unitsBefore")
      // premise: a crashed writer's ingest stage
      val dead = new java.io.File(s"$tableDir/data.stage-9")
      require(dead.mkdirs(), "q188: plant stage")
      java.nio.file.Files.write(
        new java.io.File(dead, "part-junk.parquet").toPath,
        Array[Byte](1, 2, 3))
      // the sweep runs through SQL — ops parity for the one
      // maintenance verb ([[graft.sql.GraftTvf.vacuum]]); the returned
      // row is the VacuumStats, including the del-0 marker folding
      // into the dml-log
      val st = s.sql(s"SELECT * FROM graft_vacuum('$tableDir')").head()
      require(st.getInt(2) == 1 && st.getInt(3) == 1 &&
          st.getInt(4) == 1,
        s"q188: SQL vacuum must sweep exactly the planted debris " +
          s"(1 ingest stage, 1 empty unit, 1 folded DML marker), " +
          s"got $st")
      require(new java.io.File(s"$tableDir/markers").list()
          .count(_.startsWith("dml-log-")) == 1 &&
          !new java.io.File(s"$tableDir/markers/del-0").exists(),
        "q188: the delete marker must have folded into one dml-log")
      require(!dead.exists(), "q188: stage must be gone")
      val unitsAfter = Option(
        new java.io.File(s"$tableDir/data").list()).map(_.length)
        .getOrElse(0)
      require(unitsAfter == 1,
        s"q188 premise: one live unit after vacuum, got $unitsAfter")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** TABLE→TABLE CDC REPLICATION in one Structured Streaming pipeline
    * — the use case the two stream halves compose for:
    * `readStream.format("graft-layout")` (exactly-once offsets over
    * the source ledger) feeding `writeStream.format("graft-layout")`
    * (txn-minted ids on the destination), rate-limited to one ingest
    * batch per micro-batch so the replication genuinely runs in
    * checkpointed steps. The destination re-keys under its own copy of
    * the grid, so its (event_id, zkey) must hash against the SAME
    * q155 formula as the source — a dropped/duplicated micro-batch or
    * a provenance/key column leaking through the pipeline fails the
    * gate (the sink REFUSES frames carrying reserved columns; the
    * replication projects them away like any real consumer). */
  val q189CdcReplicate: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q189", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val grid = graft.streaming.LayoutIngest.Grid(
        Seq("user_id", "ts_us"),
        Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
        bits = 16)
      graft.streaming.LayoutIngest.bootstrap(s, srcDir, grid)
      graft.streaming.LayoutIngest.bootstrap(s, dstDir, grid)
      val cut = b.getLong(2) / 2 + b.getLong(3) / 2
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") < cut), 0L, srcDir, 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") >= cut), 1L, srcDir, 4): Unit
      val q = s.readStream.format("graft-layout")
        .option("path", srcDir)
        .option("maxBatchesPerTrigger", "1")
        .load()
        .drop(graft.streaming.LayoutIngest.KeyCol,
          graft.streaming.LayoutIngest.BatchCol)
        .writeStream.format("graft-layout")
        .option("checkpointLocation", s"$root/ckpt")
        .start(dstDir)
      q.processAllAvailable()
      q.stop()
      require(graft.streaming.LayoutIngest
          .contiguousCommittedBatch(s, dstDir) >= 1L,
        "q189 premise: the cap must replicate in >= 2 micro-batches")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"))
  }

  /** SQL TIME TRAVEL via the `graft_table` TVF
    * ([[graft.sql.GraftTvf.table]]): the event log lands as two
    * batches split at the ts midpoint, and
    * `SELECT ... FROM graft_table('<dir>', 0)` must serve EXACTLY the
    * first batch's rows with their persisted keys — the as-of snapshot
    * through pure SQL, resolved to the relation plan (pushdown and
    * provenance pruning intact; the premise pins the full read too).
    * Oracle: q155's key formula restricted by the same integer
    * midpoint arithmetic. */
  val q190SqlTimeTravel: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q190", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val cut = b.getLong(2) / 2 + b.getLong(3) / 2
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") < cut), 0L, tableDir, 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(col("ts_us") >= cut), 1L, tableDir, 4): Unit
      // premise: the no-arg TVF serves the CURRENT state
      require(s.sql(s"SELECT count(*) FROM graft_table('$tableDir')")
          .head().getLong(0) == ev.count(),
        "q190 premise: graft_table('<dir>') must serve the full table")
      done.createNewFile(): Unit
    }
    s.sql("SELECT event_id, zkey " +
      s"FROM graft_table('$tableDir', 0)")
  }

  /** q155's formula restricted to batch 0's slice (ts below the
    * integer midpoint — the same `/2 + /2` floor arithmetic the
    * builder uses). */
  val q190Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE CAST(epoch_us(ts) AS BIGINT) <
       |    (SELECT tmn // 2 + tmx // 2 FROM b))
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  val q176Sql: String =
    """SELECT kind, id, committed FROM (VALUES
      |  ('ingest-upto', CAST(2 AS BIGINT), true),
      |  ('ingest', CAST(3 AS BIGINT), true),
      |  ('ingest', CAST(4 AS BIGINT), true),
      |  ('delete', CAST(7 AS BIGINT), true),
      |  ('update', CAST(2 AS BIGINT), true),
      |  ('merge', CAST(3 AS BIGINT), true),
      |  ('merge', CAST(11 AS BIGINT), false)
      |) AS t(kind, id, committed)""".stripMargin

  /** CONCURRENT-WRITER STRESS GATE for the tail/maintenance lock split
    * (the r14 verdict's #1 ask, end-to-end): a LIVE rate-limited
    * `graft-layout` consumer (q174's shape, cap 2) drains the table
    * into a file sink WHILE (a) a writer thread ingests eight batches
    * under the TAIL lock and (b) a folder thread runs range-split
    * COMPACT folds under the MAINTENANCE lock — structurally
    * overlapped: the folder starts once batch 2 commits and must
    * observe an unfinished ledger at its first fold (enforced), then a
    * row-keyed MERGE executes against the folded table while the
    * consumer is still attached. The final TABLE and the consumer's
    * SINK are hashed together against one oracle: the table must equal
    * the single-writer q172 result (merge-corrected events + the
    * corner insert), the sink must hold every ingested row at its
    * ORIGINAL value plus the merge batch — any fold/ingest interleave
    * that dropped or doubled a unit, any merge/stream interleave that
    * lost an append, or any offset served past a gap shows up as a
    * hash miss on one of the two sides. Premises enforced: the fold
    * overlapped the writes, the blooms pruned the merge, the capped
    * drain took ≥ 3 micro-batches. */
  val q177ConcurrentWriters: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q177", dir, "events")
    val tableDir = s"$root/table"
    val sinkDir = s"$root/sink"
    val done = new java.io.File(s"$root/done")
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id")).head()
    val (umn, tmn, tmx) = (b.getLong(0), b.getLong(2), b.getLong(3))
    val (emn, emx) = (b.getLong(4), b.getLong(5))
    val mergeIds = (1 to 5).map(j => emn + (emx - emn) * j / 7)
    if (!done.exists()) {
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((umn, b.getLong(1)), (tmn, tmx)),
          bits = 16, bloomCols = Seq("event_id")))
      // warm-up batch 0 so the consumer has a schema to resolve, then
      // attach the capped consumer BEFORE the concurrent phase
      val cuts = (1 to 7).map(k => tmn + k * ((tmx - tmn) / 8))
      def slice(k: Int): DataFrame = {
        val lo = if (k == 0) lit(Long.MinValue) else lit(cuts(k - 1))
        val hi = if (k == 7) lit(Long.MaxValue) else lit(cuts(k))
        ev.filter(col("ts_us") >= lo && col("ts_us") < hi)
      }
      graft.streaming.LedgerLock.withLock(s, tableDir) {
        graft.streaming.LayoutIngest.ingestBatch(
          slice(0), 0L, tableDir, 2): Unit
      }
      val q = s.readStream.format("graft-layout")
        .option("path", tableDir)
        .option("maxBatchesPerTrigger", "2")
        .load()
        .writeStream.format("parquet").option("path", sinkDir)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      val batch2Committed = new java.util.concurrent.CountDownLatch(1)
      val folderSampled = new java.util.concurrent.CountDownLatch(1)
      val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      @volatile var writerErr: Throwable = null
      @volatile var folderErr: Throwable = null
      @volatile var committedAtFirstFold = -1L
      val writer = new Thread(() => {
        try {
          (1 to 7).foreach { k =>
            graft.streaming.LedgerLock.withLock(s, tableDir) {
              graft.streaming.LayoutIngest.ingestBatch(
                slice(k), k.toLong, tableDir, 2): Unit
            }
            if (k == 2) {
              // handshake: the folder must OBSERVE the mid-flight
              // ledger before the writer races ahead — on a loaded box
              // thread starvation could otherwise let five more tiny
              // batches land before the folder's first listing, and
              // the overlap premise below would flake
              batch2Committed.countDown()
              folderSampled.await(60,
                java.util.concurrent.TimeUnit.SECONDS): Unit
            }
          }
        } catch { case t: Throwable => writerErr = t }
        finally { writerDone.set(true); batch2Committed.countDown() }
      }, "q177-writer")
      // range-split targets (~8 leaves per fold) keep the table
      // multi-unit at every SF so the merge-prune premise can bite
      def fold(): Unit = graft.streaming.LayoutIngest.compact(
        s, tableDir, smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
      val folder = new Thread(() => {
        try {
          batch2Committed.await()
          committedAtFirstFold = graft.streaming.LayoutIngest
            .contiguousCommittedBatch(s, tableDir)
          folderSampled.countDown()
          // fold continuously while the writer runs, plus one final
          // fold over the complete tail
          while (!writerDone.get()) fold()
          fold()
        } catch { case t: Throwable => folderErr = t }
        finally folderSampled.countDown()
      }, "q177-folder")
      writer.start(); folder.start()
      writer.join(600000); folder.join(600000)
      if (writerErr != null) throw writerErr
      if (folderErr != null) throw folderErr
      require(committedAtFirstFold >= 0 && committedAtFirstFold < 7,
        s"q177: the fold must overlap the writes — first fold saw the " +
          s"ledger at $committedAtFirstFold of 7")
      // the merge runs with the consumer still ATTACHED and draining
      val (hit, live) = graft.streaming.LayoutIngest.pointProbeDirs(
        s, tableDir, "event_id", mergeIds :+ (emx + 1000L))
      require(hit.size < live.size,
        s"q177: the blooms must prune the merge, got ${hit.size}/${live.size}")
      val updates = ev
        .filter(col("event_id").isInCollection(mergeIds))
        .withColumn("value", col("value") * 2)
        .unionByName(s.range(1).select(
          lit(emx + 1000L).as("event_id"),
          lit(umn).as("user_id"),
          lit(tmn).as("ts_us"),
          lit(42.0).as("value")))
      graft.streaming.LayoutIngest.mergeRows(s, tableDir, "event_id",
        updates, batchId = 8L): Unit
      q.processAllAvailable()
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(nonEmpty >= 3,
        s"q177: the cap must split the drain into >= 3 micro-batches, " +
          s"got $nonEmpty")
      val sunk = s.read.parquet(sinkDir).count()
      val expect = ev.count() + 6
      require(sunk == expect,
        s"q177: sink must hold every ingested row exactly once plus " +
          s"the merge batch — got $sunk, expected $expect")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(lit("table").as("src"), col("event_id"), col("zkey"),
        col("value"))
      .unionByName(s.read.parquet(sinkDir)
        .select(lit("sink").as("src"), col("event_id"), col("zkey"),
          col("value")))
  }

  val q177Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 7 AS kid
       |  FROM range(1, 6) t(j)),
       |q AS (
       |  SELECT event_id, value,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events),
       |z AS (SELECT event_id, $terms AS zkey, value FROM q)
       |SELECT 'table' AS src, event_id, zkey,
       |  CASE WHEN event_id IN (SELECT kid FROM k)
       |    THEN value * 2 ELSE value END AS value
       |FROM z
       |UNION ALL
       |SELECT 'table', (SELECT emx FROM b) + 1000, CAST(0 AS BIGINT), 42.0
       |UNION ALL
       |SELECT 'sink' AS src, event_id, zkey, value FROM z
       |UNION ALL
       |SELECT 'sink', event_id, zkey, value * 2
       |FROM z WHERE event_id IN (SELECT kid FROM k)
       |UNION ALL
       |SELECT 'sink', (SELECT emx FROM b) + 1000, CAST(0 AS BIGINT),
       |  42.0""".stripMargin
  }

  /** SQL-SURFACE BOX SCAN — q164's pruned slice through the BATCH
    * relation ([[graft.streaming.LayoutTableRelation]]): the clustered
    * table read with plain `spark.read.format("graft-layout")` and a
    * `WHERE user_id BETWEEN …` that Spark pushes down as catalyst
    * filters — the relation turns them into stats-sidecar UNIT pruning
    * before any parquet reader opens, and the premise is enforced
    * (refuses unless units were actually pruned, via the relation's
    * scan counters — the hash alone cannot distinguish a pruned scan
    * from a full one). Same build and oracle as q164: the SQL surface
    * must be value-identical to the API surface. */
  val q178SqlBoxScan: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q178", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q178", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q178-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    // q165's range-split fold: leaf-granular units give the pushed
    // box something to prune (one monolithic gen would force 1/1)
    val dataDir = new java.io.File(s"$tableDir/data")
    def tops = Option(dataDir.listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
    if (tops.length >= 2)
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L, parquetBytes(dataDir) / 6))
    val grid = graft.streaming.LayoutIngest.readGrid(s, tableDir)
    val (umn, umx) = grid.bounds.head
    // the 70–72% band, NOT the mid-domain one: a slice straddling the
    // 50% point sits on the user-MSB boundary of the z-order key, the
    // one band every coarse zkey-range leaf intersects — pruning is
    // structurally impossible there, and the premise below would
    // refuse a correctly-working pruner
    val out = s.read.format("graft-layout").load(tableDir)
      .where(col("user_id") >= umn + (umx - umn) * 70 / 100 &&
        col("user_id") <= umn + (umx - umn) * 72 / 100)
      .select(col("event_id"), col("zkey"))
    out.limit(1).count(): Unit // force one scan so the counters are live
    require(graft.streaming.LayoutScanStats.lastUnitsRead <
        graft.streaming.LayoutScanStats.lastUnitsLive,
      s"q178: the pushed-down box must prune units, read " +
        s"${graft.streaming.LayoutScanStats.lastUnitsRead}/" +
        s"${graft.streaming.LayoutScanStats.lastUnitsLive}")
    out
  }

  /** SQL-SURFACE CDC VIEW — q168's readSince contract through the
    * batch relation's `sinceBatch` option: the two-file midpoint feed
    * lands as two L0 batch units (no fold, so the provenance span is
    * DECISIVE per unit), and
    * `spark.read.format("graft-layout").option("sinceBatch", 0)` must
    * serve exactly the second file's events — with the batch-0 unit
    * never opened (premise enforced via the scan counters; the
    * through-a-fold provenance exactness is q168's gate). */
  val q179SqlSince: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"))
    val root = streamIndexDir("q179", dir, "events")
    val tableDir = s"$root/table"
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
    }
    val stream = eventStreamSource(s, dir, "q179", ev)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"q179-${java.util.UUID.randomUUID().toString.take(12)}-ckpt")
    registerCleanup(ckpt)
    // single-writer content-addressed rebuild: a FRESH checkpoint per
    // invocation re-offers the same files under the same epoch ids and
    // every re-run is a marker no-op — the documented EpochKeyedIds opt-in
    // (the txn-minted default would re-ingest per run)
    val q = graft.streaming.LayoutIngest.start(stream, tableDir,
      ckpt.getAbsolutePath, filesPerBatch = 8, availableNow = true,
      ids = graft.streaming.LayoutIngest.EpochKeyedIds)
    q.awaitTermination()
    val out = s.read.format("graft-layout")
      .option("sinceBatch", "0").load(tableDir)
      .select(col("event_id"), col("zkey"))
    out.limit(1).count(): Unit
    require(graft.streaming.LayoutScanStats.lastUnitsRead <
        graft.streaming.LayoutScanStats.lastUnitsLive,
      s"q179: the provenance span must prune the batch-0 unit, read " +
        s"${graft.streaming.LayoutScanStats.lastUnitsRead}/" +
        s"${graft.streaming.LayoutScanStats.lastUnitsLive}")
    out
  }

  /** SQL-SURFACE WRITE — the DataFrameWriter append path
    * ([[graft.streaming.LayoutTableSource.createRelation]] with data):
    * the event log lands as TWO `df.write.format("graft-layout")`
    * appends split at the timestamp midpoint, each minting the next
    * unused ledger id under the tail lock and publishing as an
    * ordinary clustered batch; the table then reads back (through the
    * batch relation, closing the loop SQL-in → SQL-out) against
    * q155's full key formula — a dropped row, a double-published
    * append, or a write that perturbed the fixed-grid keying fails
    * the hash. The premise pins the id sequencing: the second append
    * must land as batch 1, not a replay of 0. */
  val q180SqlWrite: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q180", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val cut = b.getLong(2) / 2 + b.getLong(3) / 2
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
      ev.filter(col("ts_us") < cut)
        .write.format("graft-layout").mode("append").save(tableDir)
      ev.filter(col("ts_us") >= cut)
        .write.format("graft-layout").mode("append").save(tableDir)
      require(graft.streaming.LayoutIngest
          .contiguousCommittedBatch(s, tableDir) == 1L,
        "q180: the two appends must land as ledger ids 0 and 1")
      done.createNewFile(): Unit
    }
    s.read.format("graft-layout").load(tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** SQL DELETE on the clustered table — q162's RTBF semantics driven
    * entirely through the SQL surface: [[graft.sql.GraftSqlExtensions]]
    * intercepts the analyzed `DeleteFromTable` over the V1 relation
    * (the Delta-style post-hoc resolution pattern) and routes it to
    * [[graft.streaming.LayoutIngest.dmlNext]]. The statement's
    * conjunctive long ranges (`BETWEEN` over the middle 2% of the user
    * domain, q162's integer arithmetic) translate EXACTLY into the
    * delete's box — pruned WAL-manifested rewrite under the next
    * unused delete id — and the table hashes against q162's oracle
    * (events MINUS the slice, keys replayed). A translation that
    * widened or narrowed the box by one user id fails the hash. */
  val q181SqlDelete: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q181", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
      val (umn, umx) = graft.streaming.LayoutIngest
        .readGrid(s, tableDir).bounds.head
      val lo = umn + (umx - umn) * 49 / 100
      val hi = umn + (umx - umn) * 51 / 100
      s.read.format("graft-layout").load(tableDir)
        .createOrReplaceTempView("q181_t")
      s.sql(s"DELETE FROM q181_t WHERE user_id BETWEEN $lo AND $hi")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** SQL MERGE INTO the clustered table — q172's whole-row upsert
    * driven entirely through the SQL surface (the
    * [[graft.sql.GraftSqlExtensions]] post-hoc rule validates the
    * resolved merge — single-equality key, unconditional whole-row
    * UPDATE/INSERT agreeing column for column, source-only
    * references — and routes it to
    * [[graft.streaming.LayoutIngest.mergeRowsNext]]): the same five
    * mid-domain value-doubling corrections plus the domain-corner
    * insert, the same bloom-pruning premise, the same q172 oracle. A
    * statement translation that dropped a column, swapped the key, or
    * double-applied the merge fails the hash. */
  val q182SqlMerge: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q182", dir, "events")
    val tableDir = s"$root/table"
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id")).head()
    val (emn, emx) = (b.getLong(4), b.getLong(5))
    val mergeIds = (1 to 5).map(j => emn + (emx - emn) * j / 7)
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16, bloomCols = Seq("event_id")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
      val (hit, live) = graft.streaming.LayoutIngest.pointProbeDirs(
        s, tableDir, "event_id", mergeIds :+ (emx + 1000L))
      require(hit.size < live.size,
        s"q182: the blooms must prune the merge, got " +
          s"${hit.size}/${live.size}")
    }
    val merged = Option(new java.io.File(s"$tableDir/markers").list())
      .exists(_.exists(_.startsWith("merge-")))
    if (!merged) {
      ev.filter(col("event_id").isInCollection(mergeIds))
        .withColumn("value", col("value") * 2)
        .unionByName(s.range(1).select(
          lit(emx + 1000L).as("event_id"),
          lit(b.getLong(0)).as("user_id"),
          lit(b.getLong(2)).as("ts_us"),
          lit(42.0).as("value")))
        .createOrReplaceTempView("q182_src")
      s.read.format("graft-layout").load(tableDir)
        .createOrReplaceTempView("q182_t")
      s.sql("""MERGE INTO q182_t USING q182_src
        |ON q182_t.event_id = q182_src.event_id
        |WHEN MATCHED THEN UPDATE SET user_id = q182_src.user_id,
        |  ts_us = q182_src.ts_us, value = q182_src.value
        |WHEN NOT MATCHED THEN INSERT (event_id, user_id, ts_us, value)
        |  VALUES (q182_src.event_id, q182_src.user_id,
        |    q182_src.ts_us, q182_src.value)""".stripMargin)
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  /** SQL DELETE with a TOP-LEVEL OR — the union-of-boxes surface
    * ([[graft.streaming.LayoutIngest.delete]] over boxes, behind
    * `DELETE ... WHERE <box> OR <box> OR col IN (...)`): one statement
    * removes the q162 user slice, a disjoint early-time slice AND an
    * IN-list of three mid-domain event ids (the forget-these-ids
    * shape, one point box per value) in ONE delete op (premised:
    * history gains exactly one `delete` entry — a per-disjunct loop
    * would gain five and rewrite shared units repeatedly). The
    * statement runs against a `CREATE TABLE ... USING` catalog entry,
    * not a temp view. The surviving table hashes against a DuckDB twin
    * of the exact union predicate; a translation that widened a
    * disjunct, dropped one, or intersected instead of unioned fails
    * the hash. */
  val q191SqlDeleteOr: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q191", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (umn, umx, tmn, tmx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
      val ulo = umn + (umx - umn) * 49 / 100
      val uhi = umn + (umx - umn) * 51 / 100
      val tlo = tmn + (tmx - tmn) * 10 / 100
      val thi = tmn + (tmx - tmn) * 12 / 100
      // the statement runs against a PERSISTED catalog table
      // (CREATE TABLE ... USING), not a temp view — the DDL premise:
      // the DML interception and the relation resolve identically
      // through the session catalog
      s.sql("DROP TABLE IF EXISTS q191_t")
      s.sql("CREATE TABLE q191_t USING `graft-layout` " +
        s"OPTIONS (path '$tableDir')")
      // third disjunct: an IN-list of three mid-domain event ids
      // (q166's arithmetic) — the forget-these-ids shape, one point
      // box per value, all still ONE delete op
      val eb = ev.agg(min("event_id"), max("event_id")).head()
      val (emn, emx) = (eb.getLong(0), eb.getLong(1))
      val ids = Seq(1, 3, 5).map(k => emn + (emx - emn) * k / 7)
      try {
        s.sql(s"""DELETE FROM q191_t
          |WHERE (user_id BETWEEN $ulo AND $uhi)
          |  OR (ts_us BETWEEN $tlo AND $thi)
          |  OR event_id IN (${ids.mkString(", ")})""".stripMargin)
      } finally s.sql("DROP TABLE IF EXISTS q191_t")
      val delOps = graft.streaming.LayoutIngest.history(s, tableDir)
        .filter(col("kind") === "delete").count()
      require(delOps == 1L,
        s"q191 premise: a two-box OR DELETE must be ONE delete op " +
          s"in history, got $delOps")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  /** CONDITIONAL SQL MERGE — `WHEN MATCHED AND c / WHEN NOT MATCHED
    * AND c` with the SAME source-only condition on both actions runs
    * as an exact source pre-filter
    * ([[graft.sql.GraftSqlExtensions]]'s rewrite): q182's five
    * value-doubling corrections plus TWO domain-corner inserts all
    * flow through one statement gated on `event_id % 2 = 0`, so only
    * the even-id corrections apply and only the even corner row
    * inserts. The oracle applies the same parity gate in DuckDB — a
    * rewrite that filtered just one action (or none) fails the hash
    * on the odd-id rows. */
  val q192SqlMergeCond: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q192", dir, "events")
    val tableDir = s"$root/table"
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id")).head()
    val (emn, emx) = (b.getLong(4), b.getLong(5))
    val mergeIds = (1 to 5).map(j => emn + (emx - emn) * j / 7)
    require(mergeIds.exists(_ % 2 == 0) && mergeIds.exists(_ % 2 != 0),
      "q192 premise: the parity gate must pass some corrections and " +
        "block others")
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16, bloomCols = Seq("event_id")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
    }
    val merged = Option(new java.io.File(s"$tableDir/markers").list())
      .exists(_.exists(_.startsWith("merge-")))
    if (!merged) {
      // two corner candidates, consecutive ids — exactly one passes
      // the parity gate, proving the INSERT side is filtered too
      ev.filter(col("event_id").isInCollection(mergeIds))
        .withColumn("value", col("value") * 2)
        .unionByName(s.range(2).select(
          (lit(emx + 1000L) + col("id")).as("event_id"),
          lit(b.getLong(0)).as("user_id"),
          lit(b.getLong(2)).as("ts_us"),
          lit(42.0).as("value")))
        .createOrReplaceTempView("q192_src")
      s.read.format("graft-layout").load(tableDir)
        .createOrReplaceTempView("q192_t")
      s.sql("""MERGE INTO q192_t USING q192_src
        |ON q192_t.event_id = q192_src.event_id
        |WHEN MATCHED AND q192_src.event_id % 2 = 0 THEN UPDATE
        |  SET user_id = q192_src.user_id, ts_us = q192_src.ts_us,
        |    value = q192_src.value
        |WHEN NOT MATCHED AND q192_src.event_id % 2 = 0 THEN
        |  INSERT (event_id, user_id, ts_us, value)
        |  VALUES (q192_src.event_id, q192_src.user_id,
        |    q192_src.ts_us, q192_src.value)""".stripMargin)
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q191Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE NOT ((user_id BETWEEN
       |      (SELECT umn + ((umx - umn) * 49) // 100 FROM b) AND
       |      (SELECT umn + ((umx - umn) * 51) // 100 FROM b))
       |    OR (CAST(epoch_us(ts) AS BIGINT) BETWEEN
       |      (SELECT tmn + ((tmx - tmn) * 10) // 100 FROM b) AND
       |      (SELECT tmn + ((tmx - tmn) * 12) // 100 FROM b))
       |    OR event_id IN (
       |      SELECT emn + ((emx - emn) * 1) // 7 FROM b UNION ALL
       |      SELECT emn + ((emx - emn) * 3) // 7 FROM b UNION ALL
       |      SELECT emn + ((emx - emn) * 5) // 7 FROM b)))
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  val q192Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 7 AS kid
       |  FROM range(1, 6) t(j)),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    CASE WHEN event_id IN (SELECT kid FROM k WHERE kid % 2 = 0)
       |      THEN value * 2 ELSE value END AS value
       |  FROM events)
       |SELECT event_id, $terms AS zkey, value FROM q
       |UNION ALL
       |SELECT cid, CAST(0 AS BIGINT) AS zkey, 42.0 AS value
       |FROM (SELECT (SELECT emx FROM b) + 1000 + g.j AS cid
       |      FROM range(0, 2) g(j)) c
       |WHERE cid % 2 = 0""".stripMargin
  }

  /** VACUUM UNDER LIVE CONCURRENCY — the retention sweep
    * ([[graft.streaming.LayoutIngest.vacuum]]) racing a q177-style
    * trio: a rate-limited CDC consumer stays ATTACHED throughout, a
    * writer thread ingests batches 1–7 under the tail lock, and the
    * vacuum fires MID-FLIGHT (premised: the contiguous ledger stood at
    * exactly 3 of 7 when it launched) while the writer keeps landing
    * batches — tail (writer) and maintenance (vacuum) are different
    * locks, so they genuinely interleave, with the session lock-wait
    * budget covering vacuum's one short maint→tail nesting. The
    * debris is planted up front (a delete-emptied unit + a dead ingest
    * stage) and VacuumStats must be EXACTLY (0, 0, 1, 1): sweeping
    * anything beyond the two planted debris classes — e.g. a racing
    * writer's in-flight stage, which is protected by the tail
    * section — would show up in the stats, and any row loss fails the
    * hash. After the dust settles a fold compacts the tail and the
    * final TABLE and the consumer's SINK hash together against the
    * q162-style forget oracle on both sides. */
  val q193VacuumLive: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q193", dir, "events")
    val tableDir = s"$root/table"
    val sinkDir = s"$root/sink"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val waitKey = graft.streaming.LedgerLock.LockWaitMsKey
      val oldWait = s.conf.getOption(waitKey)
      s.conf.set(waitKey, "60000")
      try {
        val b = ev.agg(min("user_id"), max("user_id"),
          min("ts_us"), max("ts_us")).head()
        val (umn, umx, tmn, tmx) =
          (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        graft.streaming.LayoutIngest.bootstrap(s, tableDir,
          graft.streaming.LayoutIngest.Grid(
            Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
            bits = 16))
        val (blo, bhi) = (umn + (umx - umn) * 49 / 100,
          umn + (umx - umn) * 51 / 100)
        val inBox = col("user_id") >= blo && col("user_id") <= bhi
        // batch 0 = exactly the forget box; deleting it pre-attach
        // empties that whole unit (debris class 3) and makes the
        // sink's batch-0 serve deterministically empty
        require(graft.streaming.LayoutIngest.ingestBatch(
          ev.filter(inBox), 0L, tableDir, 1), "q193: batch 0")
        require(graft.streaming.LayoutIngest.delete(s, tableDir,
          graft.streaming.LayoutIngest.DmlTarget.Boxes(
            Seq(Seq(("user_id", blo, bhi)))), id = 0L), "q193: delete")
        require(Option(new java.io.File(s"$tableDir/data").list())
            .exists(_.length == 1),
          "q193 premise: the emptied unit must be physically present")
        val dead = new java.io.File(s"$tableDir/data.stage-99")
        require(dead.mkdirs(), "q193: plant stage")
        java.nio.file.Files.write(
          new java.io.File(dead, "part-junk.parquet").toPath,
          Array[Byte](1, 2, 3))
        // the rest of the corpus lands as 7 time slices while the
        // consumer drains and the vacuum races
        val rest = ev.filter(!inBox)
        val cuts = (1 to 6).map(i => tmn + i * ((tmx - tmn) / 7))
        val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
        def slice(k: Int): DataFrame =
          rest.filter(col("ts_us") >= bounds(k - 1) &&
            col("ts_us") < bounds(k))
        val q = s.readStream.format("graft-layout")
          .option("path", tableDir)
          .option("maxBatchesPerTrigger", "2")
          .load()
          .writeStream.format("parquet").option("path", sinkDir)
          .option("checkpointLocation", s"$root/ckpt")
          .start()
        val batch3Committed = new java.util.concurrent.CountDownLatch(1)
        val vacStarted = new java.util.concurrent.CountDownLatch(1)
        val vacDone = new java.util.concurrent.CountDownLatch(1)
        val writerDone =
          new java.util.concurrent.atomic.AtomicBoolean(false)
        @volatile var writerErr: Throwable = null
        @volatile var folderErr: Throwable = null
        @volatile var vacErr: Throwable = null
        @volatile var committedAtVacStart = -1L
        @volatile var vacStats: graft.streaming.LayoutIngest.VacuumStats =
          null
        val writer = new Thread(() => {
          try {
            (1 to 7).foreach { k =>
              graft.streaming.LedgerLock.withLock(s, tableDir) {
                graft.streaming.LayoutIngest.ingestBatch(
                  slice(k), k.toLong, tableDir, 2): Unit
              }
              if (k == 3) {
                batch3Committed.countDown()
                // resume as soon as the vacuum LAUNCHES (not when it
                // finishes) — batches 4..7 land while it runs
                require(vacStarted.await(120,
                    java.util.concurrent.TimeUnit.SECONDS),
                  "q193: vacuum never launched")
              }
            }
          } catch { case t: Throwable => writerErr = t }
          finally { writerDone.set(true); batch3Committed.countDown() }
        }, "q193-writer")
        val vac = new Thread(() => {
          try {
            batch3Committed.await()
            // let the consumer get past the empty unit's batch-0
            // serve before that unit is dropped from under a
            // plan-time listing (the documented transient-read
            // contract is a batch-reader retry story; a streaming
            // micro-batch failure would fail the gate)
            val deadline = System.currentTimeMillis() + 120000L
            def sunk(): Long =
              try s.read.parquet(sinkDir).count()
              catch { case _: Exception => 0L }
            while (sunk() == 0L &&
                System.currentTimeMillis() < deadline)
              Thread.sleep(25)
            require(sunk() > 0L, "q193: consumer never progressed")
            committedAtVacStart = graft.streaming.LayoutIngest
              .contiguousCommittedBatch(s, tableDir)
            vacStarted.countDown()
            vacStats = graft.streaming.LayoutIngest.vacuum(
              s, tableDir, lockWaitMs = 60000L)
          } catch { case t: Throwable => vacErr = t }
          finally { vacStarted.countDown(); vacDone.countDown() }
        }, "q193-vacuum")
        val folder = new Thread(() => {
          try {
            vacDone.await()
            // fold the tail only AFTER the sweep: a 1 GiB
            // smallFileBytes fold consumes zero-row units too, so an
            // earlier fold would race the emptied-unit premise away
            graft.streaming.LayoutIngest.compact(s, tableDir,
              smallFileBytes = 1L << 30,
              targetFileBytes = math.max(1L,
                parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
          } catch { case t: Throwable => folderErr = t }
        }, "q193-folder")
        writer.start(); vac.start(); folder.start()
        writer.join(600000); vac.join(600000); folder.join(600000)
        if (writerErr != null) throw writerErr
        if (vacErr != null) throw vacErr
        if (folderErr != null) throw folderErr
        require(committedAtVacStart == 3L,
          s"q193 premise: vacuum must launch with the ledger at 3 of " +
            s"7, got $committedAtVacStart")
        require(vacStats == graft.streaming.LayoutIngest.VacuumStats(
            0, 0, 1, 1, 1),
          s"q193: vacuum next to a LIVE writer must sweep exactly the " +
            s"planted debris (0 manifests, 0 gen stages, 1 ingest " +
            s"stage, 1 empty unit, 1 folded del marker), got $vacStats")
        require(!dead.exists(), "q193: planted stage must be gone")
        q.processAllAvailable()
        val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
        q.stop()
        require(nonEmpty >= 3,
          s"q193: the cap must split the drain into >= 3 " +
            s"micro-batches, got $nonEmpty")
        val expect = rest.count()
        val sunk = s.read.parquet(sinkDir).count()
        require(sunk == expect,
          s"q193: sink must hold every non-box row exactly once — " +
            s"got $sunk, expected $expect")
        done.createNewFile(): Unit
      } finally {
        oldWait match {
          case Some(v) => s.conf.set(waitKey, v)
          case None => s.conf.unset(waitKey)
        }
      }
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(lit("table").as("src"), col("event_id"), col("zkey"))
      .unionByName(s.read.parquet(sinkDir)
        .select(lit("sink").as("src"), col("event_id"), col("zkey")))
  }

  val q193Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE NOT (user_id BETWEEN
       |    (SELECT umn + ((umx - umn) * 49) // 100 FROM b) AND
       |    (SELECT umn + ((umx - umn) * 51) // 100 FROM b))),
       |z AS (SELECT event_id, $terms AS zkey FROM q)
       |SELECT 'table' AS src, event_id, zkey FROM z
       |UNION ALL
       |SELECT 'sink' AS src, event_id, zkey FROM z""".stripMargin
  }

  /** RETENTION SWEEP through SQL — `DELETE ... WHERE ts_us NOT
    * BETWEEN <window>`: the negated-shape decomposition
    * ([[graft.sql.GraftSqlExtensions]]) turns the complement of the
    * retention window into its two exact interval boxes and runs them
    * as ONE union delete (premised: one history op). On the
    * ts-clustered table the two boxes are exactly the prunable cold
    * head and tail — the statement a 100 TB deployment runs on a
    * schedule. The kept table hashes against the events INSIDE the
    * window. */
  val q194SqlRetention: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q194", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (tmn, tmx) = (b.getLong(2), b.getLong(3))
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (tmn, tmx)), bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
      val tlo = tmn + (tmx - tmn) * 25 / 100
      val thi = tmn + (tmx - tmn) * 75 / 100
      s.read.format("graft-layout").load(tableDir)
        .createOrReplaceTempView("q194_t")
      s.sql(
        s"DELETE FROM q194_t WHERE ts_us NOT BETWEEN $tlo AND $thi")
      val delOps = graft.streaming.LayoutIngest.history(s, tableDir)
        .filter(col("kind") === "delete").count()
      require(delOps == 1L,
        s"q194 premise: the retention sweep must be ONE delete op, " +
          s"got $delOps")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"))
  }

  val q194Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE CAST(epoch_us(ts) AS BIGINT) BETWEEN
       |    (SELECT tmn + ((tmx - tmn) * 25) // 100 FROM b) AND
       |    (SELECT tmn + ((tmx - tmn) * 75) // 100 FROM b))
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  /** SQL UPDATE — the box-scoped in-place REDACTION rewrite
    * ([[graft.streaming.LayoutIngest.update]] over boxes, behind
    * `UPDATE ... SET <payload> WHERE <boxes>`): statement 1 overwrites
    * the mid-time window's values through an expression over the
    * row's UNTOUCHED columns (`value = user_id % 97 + 1` — the
    * replayable shape), statement 2 NULLs the q162 user slice (the
    * redaction a deployment runs when deletion is too blunt) —
    * overlapping rows take both in order. A SELF-REFERENTIAL
    * assignment (`value = value + 1`) must refuse typed at record
    * time (the replica-replayability gate — such a record would
    * poison every later sync; MERGE's snapshot-replayed partial SET
    * is its sanctioned spelling, q200). Premised: the refusal fires
    * AND exactly two `update` ops reach history. The table hashes
    * against the same CASE cascade in DuckDB; a rewrite that dropped
    * rows (redaction must never delete), applied an assignment
    * outside its box, or let the refused statement through fails the
    * hash. */
  val q195SqlRedact: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q195", dir, "events")
    val tableDir = s"$root/table"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (umn, umx, tmn, tmx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
      val tlo = tmn + (tmx - tmn) * 25 / 100
      val thi = tmn + (tmx - tmn) * 75 / 100
      val ulo = umn + (umx - umn) * 49 / 100
      val uhi = umn + (umx - umn) * 51 / 100
      s.read.format("graft-layout").load(tableDir)
        .createOrReplaceTempView("q195_t")
      val selfRef = try {
        s.sql(s"UPDATE q195_t SET value = value + 1 " +
          s"WHERE ts_us BETWEEN $tlo AND $thi")
        None
      } catch { case e: Exception =>
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ msgs(x.getCause))
        Some(msgs(e))
      }
      require(selfRef.exists(_.exists(_.contains("assigned column"))),
        s"q195 premise: a self-referential SET must refuse typed at " +
          s"record time, got $selfRef")
      s.sql(s"UPDATE q195_t SET value = CAST(user_id % 97 + 1 AS DOUBLE) " +
        s"WHERE ts_us BETWEEN $tlo AND $thi")
      s.sql(s"UPDATE q195_t SET value = NULL " +
        s"WHERE user_id BETWEEN $ulo AND $uhi")
      val updOps = graft.streaming.LayoutIngest.history(s, tableDir)
        .filter(col("kind") === "update").count()
      require(updOps == 2L,
        s"q195 premise: two UPDATE statements = two update ops, " +
          s"got $updOps")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q195Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id, user_id, value,
       |    CAST(epoch_us(ts) AS BIGINT) AS tus,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events)
       |SELECT event_id, $terms AS zkey,
       |  CASE WHEN user_id BETWEEN
       |      (SELECT umn + ((umx - umn) * 49) // 100 FROM b) AND
       |      (SELECT umn + ((umx - umn) * 51) // 100 FROM b)
       |    THEN NULL
       |  WHEN tus BETWEEN
       |      (SELECT tmn + ((tmx - tmn) * 25) // 100 FROM b) AND
       |      (SELECT tmn + ((tmx - tmn) * 75) // 100 FROM b)
       |    THEN CAST(user_id % 97 + 1 AS DOUBLE)
       |  ELSE value END AS value
       |FROM q""".stripMargin
  }

  /** REDACTION REACHES REPLICAS — the r17 verdict's #2 ("RTBF that
    * doesn't reach replicas isn't RTBF"), end to end through
    * [[graft.streaming.LayoutIngest.replicate]]: a replica syncs the
    * source's two batches (through a range-split fold — the pull is
    * row-level `__batch` provenance, not unit names), THEN the source
    * forgets a user slice (SQL DELETE) and nulls a time slice's values
    * (SQL UPDATE) — statements the replica's rows predate — and a
    * second sync — run through the `graft_replicate` SQL TVF, the ops
    * cadence verb — must replay both recorded statements: the premise
    * pins ReplicateStats to (0 pulled, 2 replayed) and two `replay`
    * ledger ops on the replica. The gate hashes the REPLICA's rows,
    * keys and values against the q162/q195-style oracle: a replica
    * that kept the unredacted values (the pre-r18 CDC contract) fails
    * on every redacted row. */
  val q196ReplicaRedact: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q196", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).head()
      val (umn, umx, tmn, tmx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      graft.streaming.LayoutIngest.bootstrap(s, srcDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, srcDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$srcDir/data")) / 8))
      val st1 = graft.streaming.LayoutIngest.replicate(s, srcDir, dstDir)
      require(st1.batchesPulled == 2 && st1.dmlReplayed == 0,
        s"q196 premise: the first sync pulls both batches, got $st1")
      // the replica is now CAUGHT UP and holds the unredacted rows;
      // the source forgets + redacts through the SQL surface
      val ulo = umn + (umx - umn) * 49 / 100
      val uhi = umn + (umx - umn) * 51 / 100
      val tlo = tmn + (tmx - tmn) * 25 / 100
      val thi = tmn + (tmx - tmn) * 75 / 100
      s.read.format("graft-layout").load(srcDir)
        .createOrReplaceTempView("q196_t")
      s.sql(s"DELETE FROM q196_t WHERE user_id BETWEEN $ulo AND $uhi")
      s.sql(s"UPDATE q196_t SET value = NULL " +
        s"WHERE ts_us BETWEEN $tlo AND $thi")
      // the second sync runs through SQL (graft_replicate — the ops
      // cadence verb); the returned row is the ReplicateStats
      val st2 = s.sql(
        s"SELECT * FROM graft_replicate('$srcDir', '$dstDir')").head()
      require(st2.getInt(0) == 0 && st2.getInt(1) == 2 &&
          st2.getInt(2) == 0,
        s"q196 premise: the second sync must REPLAY exactly the two " +
          s"statements (nothing to pull), got $st2")
      require(graft.streaming.LayoutIngest.history(s, dstDir)
          .filter(col("kind") === "replay").count() == 2L,
        "q196 premise: the replica ledger must record both replays")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q196Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id, value,
       |    CAST(epoch_us(ts) AS BIGINT) AS tus,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE NOT (user_id BETWEEN
       |      (SELECT umn + ((umx - umn) * 49) // 100 FROM b) AND
       |      (SELECT umn + ((umx - umn) * 51) // 100 FROM b)))
       |SELECT event_id, $terms AS zkey,
       |  CASE WHEN tus BETWEEN
       |      (SELECT tmn + ((tmx - tmn) * 25) // 100 FROM b) AND
       |      (SELECT tmn + ((tmx - tmn) * 75) // 100 FROM b)
       |    THEN NULL
       |  ELSE value END AS value
       |FROM q""".stripMargin
  }

  /** ONE-SIDED conditional SQL MERGE — `WHEN MATCHED AND c` alone,
    * with an UNCONDITIONAL insert: q192's shape minus the symmetric
    * gate, the shape the r17 verdict called "the most common MERGE in
    * the wild after the symmetric one". Runs through the target-key
    * membership split ([[graft.sql.GraftMergeCommand]]'s one
    * left-outer join against the target's distinct keys): only the
    * even-id corrections replace their rows, the odd corrections
    * leave their target rows UNTOUCHED (a pre-filter would have had
    * to drop or insert them — both wrong), and BOTH corner candidates
    * insert regardless of parity. The oracle re-derives exactly that
    * in DuckDB. */
  val q197SqlMergeOneSided: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q197", dir, "events")
    val tableDir = s"$root/table"
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id")).head()
    val (emn, emx) = (b.getLong(4), b.getLong(5))
    val mergeIds = (1 to 5).map(k => emn + (emx - emn) * k / 7)
    require(mergeIds.exists(_ % 2 == 0) && mergeIds.exists(_ % 2 != 0),
      "q197 premise: the parity gate must pass some corrections and " +
        "block others")
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16, bloomCols = Seq("event_id")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
    }
    val merged = Option(new java.io.File(s"$tableDir/markers").list())
      .exists(_.exists(_.startsWith("merge-")))
    if (!merged) {
      // two corner candidates, consecutive ids: with the one-sided
      // gate BOTH must insert (q192's symmetric gate inserted only
      // the even one — the difference under test)
      ev.filter(col("event_id").isInCollection(mergeIds))
        .withColumn("value", col("value") * 2)
        .unionByName(s.range(2).select(
          (lit(emx + 1000L) + col("id")).as("event_id"),
          lit(b.getLong(0)).as("user_id"),
          lit(b.getLong(2)).as("ts_us"),
          lit(42.0).as("value")))
        .createOrReplaceTempView("q197_src")
      s.read.format("graft-layout").load(tableDir)
        .createOrReplaceTempView("q197_t")
      s.sql("""MERGE INTO q197_t USING q197_src
        |ON q197_t.event_id = q197_src.event_id
        |WHEN MATCHED AND q197_src.event_id % 2 = 0 THEN UPDATE
        |  SET user_id = q197_src.user_id, ts_us = q197_src.ts_us,
        |    value = q197_src.value
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, user_id, ts_us, value)
        |  VALUES (q197_src.event_id, q197_src.user_id,
        |    q197_src.ts_us, q197_src.value)""".stripMargin)
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q197Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 7 AS kid
       |  FROM range(1, 6) t(j)),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    CASE WHEN event_id IN (SELECT kid FROM k WHERE kid % 2 = 0)
       |      THEN value * 2 ELSE value END AS value
       |  FROM events)
       |SELECT event_id, $terms AS zkey, value FROM q
       |UNION ALL
       |SELECT (SELECT emx FROM b) + 1000 + g.j AS event_id,
       |  CAST(0 AS BIGINT) AS zkey, 42.0 AS value
       |FROM range(0, 2) g(j)""".stripMargin
  }

  /** MERGE REPLAYS ON REPLICAS — the one statement kind q196's replay
    * surface still refused: a replica consumes the source's two
    * batches, THEN the source runs an unconditional correction MERGE
    * (5 mid-domain value-doublings + one corner insert, through SQL)
    * followed by a NULL-redaction UPDATE over a time slice that covers
    * merged rows — and one sync must replay BOTH in source order
    * ([[graft.streaming.LayoutIngest.replicate]]: the merge re-runs
    * [[graft.streaming.LayoutIngest.mergeRows]] on the replica at its
    * exact ledger position from the recorded key + updates snapshot;
    * the update follows by global seq). The premise pins the stats to
    * (0 pulled, 1 dml, 1 merge); the gate hashes the REPLICA — a
    * replica that only pulled the merge's append keeps the matched OLD
    * versions and fails the hash on every corrected key; one that
    * misorders the two statements keeps unredacted merged values. */
  val q198ReplicaMerge: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q198", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us"), min("event_id"), max("event_id"))
        .head()
      val (umn, umx, tmn, tmx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (emn, emx) = (b.getLong(4), b.getLong(5))
      graft.streaming.LayoutIngest.bootstrap(s, srcDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16, bloomCols = Seq("event_id")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, srcDir, filesPerBatch = 4): Unit
      val st1 = graft.streaming.LayoutIngest.replicate(s, srcDir, dstDir)
      require(st1.batchesPulled == 2,
        s"q198 premise: the first sync pulls both batches, got $st1")
      // the replica is CAUGHT UP on pre-merge rows; now the source
      // corrects and redacts
      val mergeIds = (1 to 5).map(k => emn + (emx - emn) * k / 7)
      ev.filter(col("event_id").isInCollection(mergeIds))
        .withColumn("value", col("value") * 2)
        .unionByName(s.range(1).select(
          (lit(emx + 1000L) + col("id")).as("event_id"),
          lit(umn).as("user_id"), lit(tmn).as("ts_us"),
          lit(42.0).as("value")))
        .createOrReplaceTempView("q198_src")
      s.read.format("graft-layout").load(srcDir)
        .createOrReplaceTempView("q198_t")
      s.sql("""MERGE INTO q198_t USING q198_src
        |ON q198_t.event_id = q198_src.event_id
        |WHEN MATCHED THEN UPDATE
        |  SET user_id = q198_src.user_id, ts_us = q198_src.ts_us,
        |    value = q198_src.value
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, user_id, ts_us, value)
        |  VALUES (q198_src.event_id, q198_src.user_id,
        |    q198_src.ts_us, q198_src.value)""".stripMargin)
      val tlo = tmn + (tmx - tmn) * 25 / 100
      val thi = tmn + (tmx - tmn) * 75 / 100
      s.sql(s"UPDATE q198_t SET value = NULL " +
        s"WHERE ts_us BETWEEN $tlo AND $thi")
      val st2 = graft.streaming.LayoutIngest.replicate(s, srcDir, dstDir)
      require(st2 == graft.streaming.LayoutIngest
          .ReplicateStats(0, 1, 0, 1),
        s"q198 premise: one merge replay + one statement replay, " +
          s"nothing to pull, got $st2")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q198Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 7 AS kid
       |  FROM range(1, 6) t(j)),
       |q AS (
       |  SELECT event_id,
       |    CAST(epoch_us(ts) AS BIGINT) AS tus,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    CASE WHEN event_id IN (SELECT kid FROM k)
       |      THEN value * 2 ELSE value END AS v
       |  FROM events)
       |SELECT event_id, $terms AS zkey,
       |  CASE WHEN tus BETWEEN
       |      (SELECT tmn + ((tmx - tmn) * 25) // 100 FROM b) AND
       |      (SELECT tmn + ((tmx - tmn) * 75) // 100 FROM b)
       |    THEN NULL ELSE v END AS value
       |FROM q
       |UNION ALL
       |SELECT (SELECT emx + 1000 FROM b) AS event_id,
       |  CAST(0 AS BIGINT) AS zkey, 42.0 AS value""".stripMargin
  }

  /** STRING-KEYED SQL DELETE — the doc-id TAKEDOWN statement (the r18
    * verdict's #1: "the RTBF statement every LLM-corpus operator
    * actually writes"), end to end: a (user_id, ts_us)-clustered table
    * carries a STRING document key (`doc_key`, Bloom-indexed), a
    * replica catches up, then the source runs
    * `DELETE FROM t WHERE doc_key IN ('ev-a','ev-b','ev-c')` — routed
    * by [[graft.sql.GraftSqlExtensions]] to
    * [[graft.streaming.LayoutIngest.dmlNext]] over a key target.
    * Premises pin
    * the mechanism: ONE `delete_keys` ledger op, the rewrite
    * BLOOM-PRUNED (strictly fewer units rewritten than live — string
    * keys have no stats range, the bloom sidecar is what prunes), and
    * one `graft_replicate` sync REPLAYING the statement (0 pulled / 1
    * replayed). The gate hashes the REPLICA against the DuckDB
    * minus-set twin — a replica that kept the taken-down docs (or a
    * translation that deleted one key too many) fails the hash. */
  val q199SqlDeleteKeys: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"),
      concat(lit("ev-"), col("event_id")).as("doc_key"))
    val root = streamIndexDir("q199", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us"), min("event_id"), max("event_id"))
        .head()
      val (umn, umx, tmn, tmx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (emn, emx) = (b.getLong(4), b.getLong(5))
      graft.streaming.LayoutIngest.bootstrap(s, srcDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16, bloomCols = Seq("doc_key")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, srcDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$srcDir/data")) / 8))
      val st1 = graft.streaming.LayoutIngest.replicate(s, srcDir, dstDir)
      require(st1.batchesPulled == 2 && st1.dmlReplayed == 0,
        s"q199 premise: the first sync pulls both batches, got $st1")
      // three mid-domain doc keys — the governance takedown list
      val keys = (1 to 3).map(k => s"ev-${emn + (emx - emn) * k / 7}")
      val unitsBefore = graft.streaming.LayoutIngest
        .describe(s, srcDir).count()
      s.read.format("graft-layout").load(srcDir)
        .createOrReplaceTempView("q199_t")
      s.sql("DELETE FROM q199_t WHERE doc_key IN (" +
        keys.map(k => s"'$k'").mkString(", ") + ")")
      require(graft.streaming.LayoutIngest.history(s, srcDir)
          .filter(col("kind") === "delete_keys").count() == 1L,
        "q199 premise: one keyed-delete ledger op")
      val rewritten = Option(new java.io.File(s"$srcDir/data").list())
        .get.count(_.startsWith("gen-delk0-"))
      require(rewritten >= 1 && rewritten < unitsBefore,
        s"q199 premise: the bloom must prune the rewrite (rewrote " +
          s"$rewritten of $unitsBefore units) — rewriting everything " +
          "means the string-key pruning is dead")
      // the sync replays the takedown through the SQL cadence verb
      val st2 = s.sql(
        s"SELECT * FROM graft_replicate('$srcDir', '$dstDir')").head()
      require(st2.getInt(0) == 0 && st2.getInt(1) == 1,
        s"q199 premise: nothing to pull, ONE keyed replay, got $st2")
      require(graft.streaming.LayoutIngest.history(s, dstDir)
          .filter(col("kind") === "replay").count() == 1L,
        "q199 premise: the replica ledger records the replay")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q199Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 7 AS kid
       |  FROM range(1, 4) t(j)),
       |q AS (
       |  SELECT event_id, value,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE event_id NOT IN (SELECT kid FROM k))
       |SELECT event_id, $terms AS zkey, value FROM q""".stripMargin
  }

  /** PARTIAL-COLUMN SQL MERGE — the r18 verdict's #2 ("the single
    * most common MERGE shape users write"): `UPDATE SET value = ...`
    * leaving user_id/ts_us INTACT, through the synthesis path
    * ([[graft.sql.GraftMergeCommand]]: matched source rows join the
    * target's current rows — key-pushdown pruned through the
    * event_id bloom — and unassigned columns keep the target's
    * values). Two statements: an ACCUMULATOR merge
    * (`SET value = t.value + s.value`, reading BOTH sides) whose
    * source carries DECOY corner user_id/ts_us that a whole-row merge
    * would have applied — the hash catches any leak because zkey
    * recomputes from the kept coordinates — plus one corner insert
    * (the INSERT side takes the source whole); then a plain partial
    * `SET value = s.value` on a sixth key. The oracle re-derives the
    * CASE cascade in DuckDB. */
  val q200SqlMergePartial: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q200", dir, "events")
    val tableDir = s"$root/table"
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id"))
      .head()
    val (umn, umx, tmn, tmx) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (emn, emx) = (b.getLong(4), b.getLong(5))
    val accIds = (1 to 5).map(k => emn + (emx - emn) * k / 7)
    val plainId = emn + (emx - emn) * 6 / 7
    if (!new java.io.File(s"$tableDir/grid").exists()) {
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16, bloomCols = Seq("event_id")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, tableDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, tableDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$tableDir/data")) / 8))
    }
    val merged = Option(new java.io.File(s"$tableDir/markers").list())
      .exists(_.exists(_.startsWith("merge-")))
    if (!merged) {
      // DECOY coordinates: a whole-row merge would move these rows to
      // the domain corner; the partial SET must keep the originals
      ev.filter(col("event_id").isInCollection(accIds))
        .select(col("event_id"), lit(umn).as("user_id"),
          lit(tmn).as("ts_us"), (col("value") * 2).as("value"))
        .unionByName(s.range(1).select(
          (lit(emx + 1000L) + col("id")).as("event_id"),
          lit(umn).as("user_id"), lit(tmn).as("ts_us"),
          lit(42.0).as("value")))
        .createOrReplaceTempView("q200_src")
      s.read.format("graft-layout").load(tableDir)
        .createOrReplaceTempView("q200_t")
      s.sql("""MERGE INTO q200_t USING q200_src
        |ON q200_t.event_id = q200_src.event_id
        |WHEN MATCHED THEN UPDATE
        |  SET value = q200_t.value + q200_src.value
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, user_id, ts_us, value)
        |  VALUES (q200_src.event_id, q200_src.user_id,
        |    q200_src.ts_us, q200_src.value)""".stripMargin)
      ev.filter(col("event_id") === plainId)
        .select(col("event_id"), lit(umn).as("user_id"),
          lit(tmn).as("ts_us"), lit(7.5).as("value"))
        .createOrReplaceTempView("q200_src2")
      s.sql("""MERGE INTO q200_t USING q200_src2
        |ON q200_t.event_id = q200_src2.event_id
        |WHEN MATCHED THEN UPDATE SET value = q200_src2.value
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, user_id, ts_us, value)
        |  VALUES (q200_src2.event_id, q200_src2.user_id,
        |    q200_src2.ts_us, q200_src2.value)""".stripMargin)
      require(graft.streaming.LayoutIngest.history(s, tableDir)
          .filter(col("kind") === "merge").count() == 2L,
        "q200 premise: two partial MERGE statements = two merge ops")
    }
    graft.streaming.LayoutIngest.read(s, tableDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q200Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 7 AS kid
       |  FROM range(1, 6) t(j)),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    CASE WHEN event_id = (SELECT emn FROM b) +
       |        ((SELECT emx FROM b) - (SELECT emn FROM b)) * 6 // 7
       |      THEN 7.5
       |    WHEN event_id IN (SELECT kid FROM k)
       |      THEN value * 3
       |    ELSE value END AS value
       |  FROM events)
       |SELECT event_id, $terms AS zkey, value FROM q
       |UNION ALL
       |SELECT (SELECT emx + 1000 FROM b) AS event_id,
       |  CAST(0 AS BIGINT) AS zkey, 42.0 AS value""".stripMargin
  }

  /** KEYED SQL UPDATE — redaction BY DOC ID, the q199 takedown's
    * gentler sibling (null the payload, keep the rows):
    * `UPDATE t SET value = NULL WHERE doc_key IN (...)` routes to
    * [[graft.streaming.LayoutIngest.update]] over keys (the `updk` ledger
    * kind), bloom-pruned like the keyed delete and RECORDED with keys
    * AND assignment SQL so `graft_replicate` replays the redaction on
    * the replica. Premises pin ONE `update_keys` op, a bloom-pruned
    * rewrite, and a (0 pulled, 1 replayed) sync; the gate hashes the
    * REPLICA against the DuckDB CASE twin — a replica holding the
    * unredacted values fails on every keyed row. */
  val q201SqlUpdateKeys: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"),
      concat(lit("ev-"), col("event_id")).as("doc_key"))
    val root = streamIndexDir("q201", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us"), min("event_id"), max("event_id"))
        .head()
      val (umn, umx, tmn, tmx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (emn, emx) = (b.getLong(4), b.getLong(5))
      graft.streaming.LayoutIngest.bootstrap(s, srcDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16, bloomCols = Seq("doc_key")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, srcDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$srcDir/data")) / 8))
      val st1 = graft.streaming.LayoutIngest.replicate(s, srcDir, dstDir)
      require(st1.batchesPulled == 2 && st1.dmlReplayed == 0,
        s"q201 premise: the first sync pulls both batches, got $st1")
      val keys = (1 to 3).map(k => s"ev-${emn + (emx - emn) * k / 4}")
      val unitsBefore = graft.streaming.LayoutIngest
        .describe(s, srcDir).count()
      s.read.format("graft-layout").load(srcDir)
        .createOrReplaceTempView("q201_t")
      s.sql("UPDATE q201_t SET value = NULL WHERE doc_key IN (" +
        keys.map(k => s"'$k'").mkString(", ") + ")")
      require(graft.streaming.LayoutIngest.history(s, srcDir)
          .filter(col("kind") === "update_keys").count() == 1L,
        "q201 premise: one keyed-update ledger op")
      val rewritten = Option(new java.io.File(s"$srcDir/data").list())
        .get.count(_.startsWith("gen-updk0-"))
      require(rewritten >= 1 && rewritten < unitsBefore,
        s"q201 premise: the bloom must prune the rewrite (rewrote " +
          s"$rewritten of $unitsBefore units)")
      val st2 = s.sql(
        s"SELECT * FROM graft_replicate('$srcDir', '$dstDir')").head()
      require(st2.getInt(0) == 0 && st2.getInt(1) == 1,
        s"q201 premise: nothing to pull, ONE keyed replay, got $st2")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q201Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 4 AS kid
       |  FROM range(1, 4) t(j)),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    CASE WHEN event_id IN (SELECT kid FROM k)
       |      THEN NULL ELSE value END AS value
       |  FROM events)
       |SELECT event_id, $terms AS zkey, value FROM q""".stripMargin
  }

  /** STRING-PREFIX SQL DELETE — the DOMAIN TAKEDOWN statement (the
    * r19 verdict's #1: "the most common corpus governance statement
    * after doc-id lists"): the table clusters on (event_id, user_id)
    * and carries `doc_key = 'doc-' || lpad(event_id, 12, '0')` —
    * lexicographic order ≡ id order, the realistic shape of a
    * URL/doc-id scheme — then the source runs
    * `DELETE FROM t WHERE doc_key LIKE 'doc-…%'` over a band at the
    * quarter point of the id domain, routed by
    * [[graft.sql.GraftSqlExtensions]] to
    * [[graft.streaming.LayoutIngest.dmlNext]] over a string span.
    * Premises pin the
    * mechanism: ONE `delete_range` ledger op, the rewrite pruned by
    * the per-unit STRING min/max sidecars (strictly fewer units
    * rewritten than live — the lower-quarter band can never reach the
    * upper-half leaves of the z-order fold), and one
    * `graft_replicate` sync replaying the statement (0 pulled / 1
    * replayed). The gate hashes the REPLICA against the DuckDB
    * NOT-LIKE twin computing the SAME prefix — a replica keeping the
    * taken-down domain, a translation deleting a band too wide, or a
    * byte-order disagreement between pruning and predicate all fail
    * the hash. */
  val q202SqlDeleteStrPrefix: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("value"),
      concat(lit("doc-"), lpad(col("event_id").cast("string"), 12, "0"))
        .as("doc_key"))
    val root = streamIndexDir("q202", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("event_id"), max("event_id")).head()
      val (umn, umx) = (b.getLong(0), b.getLong(1))
      val (emn, emx) = (b.getLong(2), b.getLong(3))
      graft.streaming.LayoutIngest.bootstrap(s, srcDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("event_id", "user_id"), Seq((emn, emx), (umn, umx)),
          bits = 16, bloomCols = Seq("doc_key")))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.compact(s, srcDir,
        smallFileBytes = 1L << 30,
        targetFileBytes = math.max(1L,
          parquetBytes(new java.io.File(s"$srcDir/data")) / 8))
      val st1 = graft.streaming.LayoutIngest.replicate(s, srcDir, dstDir)
      require(st1.batchesPulled == 2 && st1.dmlReplayed == 0,
        s"q202 premise: the first sync pulls both batches, got $st1")
      // the takedown band: ids sharing the pivot's first 12-k padded
      // digits, where 10^k <= idRange/8 (so the band sits inside the
      // domain's lower half — integer digit-count arithmetic, no
      // floats, so the DuckDB twin derives the IDENTICAL prefix)
      val pivot = emn + (emx - emn) / 4
      val k = math.max(1L, (emx - emn + 1) / 8).toString.length - 1
      val prefix = "doc-" + f"$pivot%012d".substring(0, 12 - k)
      val unitsBefore = graft.streaming.LayoutIngest
        .describe(s, srcDir).count()
      s.read.format("graft-layout").load(srcDir)
        .createOrReplaceTempView("q202_t")
      s.sql(s"DELETE FROM q202_t WHERE doc_key LIKE '$prefix%'")
      require(graft.streaming.LayoutIngest.history(s, srcDir)
          .filter(col("kind") === "delete_range").count() == 1L,
        "q202 premise: one string-range ledger op")
      val rewritten = Option(new java.io.File(s"$srcDir/data").list())
        .get.count(_.startsWith("gen-dels0-"))
      require(rewritten >= 1 && rewritten < unitsBefore,
        s"q202 premise: the string stats must prune the rewrite " +
          s"(rewrote $rewritten of $unitsBefore units) — rewriting " +
          "everything means the string min/max sidecar is dead")
      val st2 = s.sql(
        s"SELECT * FROM graft_replicate('$srcDir', '$dstDir')").head()
      require(st2.getInt(0) == 0 && st2.getInt(1) == 1,
        s"q202 premise: nothing to pull, ONE range replay, got $st2")
      require(graft.streaming.LayoutIngest.history(s, dstDir)
          .filter(col("kind") === "replay").count() == 1L,
        "q202 premise: the replica ledger records the replay")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q202Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |p AS (
       |  SELECT 'doc-' || substring(
       |    lpad(CAST((SELECT emn + (emx - emn) // 4 FROM b)
       |      AS VARCHAR), 12, '0'),
       |    1,
       |    12 - (LENGTH(CAST((SELECT GREATEST((emx - emn + 1) // 8, 1)
       |      FROM b) AS VARCHAR)) - 1)) AS pfx),
       |q AS (
       |  SELECT event_id, value,
       |    ((event_id - (SELECT emn FROM b)) * 65535)
       |      // ((SELECT emx FROM b) - (SELECT emn FROM b)) AS qx,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qy
       |  FROM events
       |  WHERE NOT (('doc-' || lpad(CAST(event_id AS VARCHAR), 12, '0'))
       |    LIKE ((SELECT pfx FROM p) || '%')))
       |SELECT event_id, $terms AS zkey, value FROM q""".stripMargin
  }

  /** MERGE `WHEN NOT MATCHED BY SOURCE THEN DELETE` — the FULL-SYNC
    * dimension statement (the r19 verdict's #2): one three-way MERGE
    * replaces the matched third (values doubled), inserts a corner
    * row, and deletes the unmatched rows inside the early time
    * window through a TARGET-READING gate
    * (`AND t.ts_us < tmid`) — all as ONE atomic ledger op
    * ([[graft.streaming.LayoutIngest.mergeRows]] `dropUnmatched`:
    * membership decided per row against the pinned snapshot inside
    * the rewrite, so no classification read can go stale). The flag
    * and gate ride in the `mrg` record, so `graft_replicate` replays
    * the full sync from the updates snapshot WITHOUT enumerating the
    * complement. Premises pin ONE merge op and a (0 pulled, 1 merge
    * replayed) sync; the gate hashes the REPLICA against the DuckDB
    * three-way CASE/filter twin — a replica keeping unmatched-window
    * rows, a gate leak to the matched side, or a delete reaching past
    * the window all fail the hash. */
  val q203SqlMergeFullSync: Q = (s, dir) => {
    import s.implicits._
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val root = streamIndexDir("q203", dir, "events")
    val srcDir = s"$root/src"
    val dstDir = s"$root/dst"
    val done = new java.io.File(s"$root/done")
    if (!done.exists()) {
      val b = ev.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us"), min("event_id"), max("event_id"))
        .head()
      val (umn, umx, tmn, tmx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val emx = b.getLong(5)
      graft.streaming.LayoutIngest.bootstrap(s, srcDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)),
          bits = 16))
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 === 0),
        0L, srcDir, filesPerBatch = 4): Unit
      graft.streaming.LayoutIngest.ingestBatch(
        ev.filter(abs(hash(col("event_id"))) % 2 =!= 0),
        1L, srcDir, filesPerBatch = 4): Unit
      val st1 = graft.streaming.LayoutIngest.replicate(s, srcDir, dstDir)
      require(st1.batchesPulled == 2,
        s"q203 premise: the first sync pulls both batches, got $st1")
      val tmid = tmn + (tmx - tmn) / 2
      s.read.format("graft-layout").load(srcDir)
        .createOrReplaceTempView("q203_t")
      ev.filter(col("event_id") % 3 === 0)
        .withColumn("value", col("value") * 2)
        .unionByName(Seq((emx + 1000L, umn, tmn, 99.0))
          .toDF("event_id", "user_id", "ts_us", "value"))
        .createOrReplaceTempView("q203_src")
      s.sql(s"""MERGE INTO q203_t USING q203_src
        ON q203_t.event_id = q203_src.event_id
        WHEN MATCHED THEN UPDATE SET event_id = q203_src.event_id,
          user_id = q203_src.user_id, ts_us = q203_src.ts_us,
          value = q203_src.value
        WHEN NOT MATCHED THEN INSERT (event_id, user_id, ts_us, value)
          VALUES (q203_src.event_id, q203_src.user_id,
            q203_src.ts_us, q203_src.value)
        WHEN NOT MATCHED BY SOURCE AND q203_t.ts_us < $tmid
          THEN DELETE""")
      require(graft.streaming.LayoutIngest.history(s, srcDir)
          .filter(col("kind") === "merge").count() == 1L,
        "q203 premise: the full sync is ONE atomic merge op")
      val st2 = s.sql(
        s"SELECT * FROM graft_replicate('$srcDir', '$dstDir')").head()
      require(st2.getInt(0) == 0 && st2.getInt(3) == 1,
        s"q203 premise: nothing to pull, ONE merge replay, got $st2")
      done.createNewFile(): Unit
    }
    graft.streaming.LayoutIngest.read(s, dstDir)
      .select(col("event_id"), col("zkey"), col("value"))
  }

  val q203Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MAX(event_id) AS emx
       |  FROM events),
       |q AS (
       |  SELECT event_id, user_id,
       |    CAST(epoch_us(ts) AS BIGINT) AS tus,
       |    CASE WHEN event_id % 3 = 0 THEN value * 2
       |      ELSE value END AS value
       |  FROM events
       |  WHERE event_id % 3 = 0 OR NOT (CAST(epoch_us(ts) AS BIGINT) <
       |    (SELECT tmn + (tmx - tmn) // 2 FROM b))),
       |z AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((tus - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    value
       |  FROM q)
       |SELECT event_id, $terms AS zkey, value FROM z
       |UNION ALL
       |SELECT (SELECT emx + 1000 FROM b) AS event_id,
       |  CAST(0 AS BIGINT) AS zkey, 99.0 AS value""".stripMargin
  }

  /** READER VISIBILITY through a slow multi-unit merge — the gate for
    * the append-first rework's central claim
    * ([[graft.streaming.LayoutIngest.mergeRows]] doc item 4): a
    * concurrent reader sees AT WORST transient duplicates, NEVER
    * transient absence. Adversarial setup: the table clusters on
    * (ts_us, event_id) and the merge keys on UNCLUSTERED, bloom-less
    * `user_id` — every unit's stats range spans the whole user domain,
    * so the merge must rewrite ALL 8 units (the worst case the pruning
    * machinery exists to avoid, here exactly the point: a LONG
    * rewrite window). The busiest user's 80+ rows are merged down to
    * one while a reader thread polls that user's row count in a tight
    * loop; the premises require ≥3 polls landed INSIDE the merge
    * window, every poll stayed within [1, pre+1] (0 = the
    * transient-absence bug the append-first order eliminated; pre+1 =
    * the benign duplicate), the first poll saw the pre-merge count and
    * the last the post-merge 1. The observed verdict persists to the
    * table root, so the HASH covers the live run's invariant; DuckDB
    * supplies the pre-count and the literal verdicts. */
  val q183MergeVisibility: Q = (s, dir) => {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val root = streamIndexDir("q183", dir, "events")
    val tableDir = s"$root/table"
    val u = ev.groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).head()
    val (user, preCount) = (u.getLong(0), u.getLong(1))
    val verdict = new java.io.File(s"$root/never_absent")
    if (!verdict.exists()) {
      val b = ev.agg(min("ts_us"), max("ts_us"),
        min("event_id"), max("event_id")).head()
      graft.streaming.LayoutIngest.bootstrap(s, tableDir,
        graft.streaming.LayoutIngest.Grid(
          Seq("ts_us", "event_id"),
          Seq((b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3))),
          bits = 16))
      (0 until 8).foreach { i =>
        graft.streaming.LayoutIngest.ingestBatch(
          ev.filter(abs(hash(col("event_id"))) % 8 === i),
          i.toLong, tableDir, filesPerBatch = 1): Unit
      }
      val inFlight = new java.util.concurrent.atomic.AtomicBoolean(false)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val polls =
        new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Long)]()
      val retried = new java.util.concurrent.atomic.AtomicLong(0)
      val reader = new Thread(() => {
        while (!stop.get()) {
          val during = inFlight.get()
          // a poll may FAIL transiently under concurrent maintenance
          // (the publish-point rule is exactly-once for every read
          // that RUNS, but a fold/merge can retire a listed unit's
          // files between the reader's plan and its tasks — the
          // file-listing-table contract, LayoutIngest object doc). A
          // failed poll is a RETRY, never an observation: the read
          // returned no answer, let alone 0.
          try {
            val n = graft.streaming.LayoutIngest.read(s, tableDir)
              .filter(col("user_id") === user).count()
            // classify by the flag BEFORE the read started: a poll
            // that began inside the window counts as in-window even
            // if the merge finished mid-read (conservative)
            polls.add((during && inFlight.get(), n))
          } catch {
            case _: Throwable => retried.incrementAndGet(): Unit
          }
        }
      })
      reader.start()
      def awaitPolls(target: Int): Unit = {
        val deadline = System.currentTimeMillis() + 120000L
        while (polls.size() < target) {
          require(System.currentTimeMillis() < deadline &&
            reader.isAlive,
            s"q183: reader stalled (${polls.size()}/$target polls, " +
              s"${retried.get()} transient retries)")
          Thread.sleep(10)
        }
      }
      // let the reader observe the pre-merge state at least once
      awaitPolls(1)
      inFlight.set(true)
      graft.streaming.LayoutIngest.mergeRows(s, tableDir, "user_id",
        s.range(1).select(lit(user).as("user_id"),
          lit(b.getLong(0)).as("ts_us"),
          lit(b.getLong(3) + 1000L).as("event_id")),
        batchId = 8L): Unit
      inFlight.set(false)
      // await a poll that OBSERVES the converged post-merge state: a
      // poll completed after mergeRows returned may still have PLANNED
      // its scan mid-merge (reads bind their file listing at plan
      // time), so "one more poll" alone can record a mid-merge count
      // as the final observation — a scheduling fluke, not a
      // visibility violation. At most a handful of stale-planned polls
      // can precede a fresh one; cap defensively.
      var spins = 0
      var converged = false
      while (!converged) {
        awaitPolls(polls.size() + 1)
        converged =
          polls.toArray(Array.empty[(Boolean, Long)]).last._2 == 1L
        spins += 1
        require(spins < 100,
          "q183: post-merge polls never converged to the merged " +
            "single row — a real visibility bug, not scheduling")
      }
      stop.set(true)
      reader.join(30000)
      val obs = polls.toArray(Array.empty[(Boolean, Long)]).toSeq
      val during = obs.filter(_._1).map(_._2)
      require(during.size >= 3,
        s"q183 premise: need >=3 polls inside the merge window to " +
          s"claim anything, got ${during.size} of ${obs.size} " +
          s"(${retried.get()} transient retries)")
      require(obs.head._2 == preCount,
        s"q183 premise: first poll must see the pre-merge count " +
          s"$preCount, got ${obs.head._2}")
      require(obs.last._2 == 1L,
        s"q183 premise: last poll must see the merged single row, " +
          s"got ${obs.last._2}")
      val neverAbsent = obs.forall { case (_, n) =>
        n >= 1L && n <= preCount + 1L }
      val w = new java.io.PrintWriter(verdict)
      try w.print(if (neverAbsent) "1" else "0") finally w.close()
    }
    val observed =
      scala.io.Source.fromFile(verdict).mkString.trim.toLong
    val post = graft.streaming.LayoutIngest.read(s, tableDir)
      .filter(col("user_id") === user).count()
    import s.implicits._
    Seq((observed, preCount, post))
      .toDF("never_absent", "pre_count", "post_count")
  }

  val q183Sql: String =
    """WITH u AS (
      |  SELECT user_id FROM events GROUP BY 1
      |  ORDER BY COUNT(*) DESC, user_id LIMIT 1)
      |SELECT CAST(1 AS BIGINT) AS never_absent,
      |  (SELECT COUNT(*) FROM events
      |   WHERE user_id = (SELECT user_id FROM u)) AS pre_count,
      |  CAST(1 AS BIGINT) AS post_count""".stripMargin

  val q172Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |k AS (
       |  SELECT (SELECT emn FROM b) +
       |    ((SELECT emx FROM b) - (SELECT emn FROM b)) * j // 7 AS kid
       |  FROM range(1, 6) t(j)),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy,
       |    CASE WHEN event_id IN (SELECT kid FROM k)
       |      THEN value * 2 ELSE value END AS value
       |  FROM events)
       |SELECT event_id, $terms AS zkey, value FROM q
       |UNION ALL
       |SELECT (SELECT emx FROM b) + 1000, CAST(0 AS BIGINT), 42.0""".stripMargin
  }

  val q169Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id, value,
       |    CAST(epoch_us(ts) AS BIGINT) AS tus,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events)
       |SELECT event_id, $terms AS zkey,
       |  CASE WHEN tus >= (SELECT tmn // 2 + tmx // 2 FROM b)
       |    THEN value END AS value
       |FROM q""".stripMargin
  }

  val q166Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE event_id IN (
       |    SELECT emn + ((emx - emn) * 1) // 7 FROM b UNION ALL
       |    SELECT emn + ((emx - emn) * 3) // 7 FROM b UNION ALL
       |    SELECT emn + ((emx - emn) * 5) // 7 FROM b))
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  /** q164's slice oracle, parameterized on the user percentile band
    * (q178 probes an OFF-mid-domain band: a slice straddling the 50%
    * point sits exactly on the user-MSB boundary of the z-order key,
    * the one place a coarse range-split cannot prune). */
  private def userSliceSql(loPct: Int, hiPct: Int): String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE user_id BETWEEN
       |    (SELECT umn + ((umx - umn) * $loPct) // 100 FROM b) AND
       |    (SELECT umn + ((umx - umn) * $hiPct) // 100 FROM b))
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  val q164Sql: String = userSliceSql(49, 51)

  val q178Sql: String = userSliceSql(70, 72)

  val q162Sql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events
       |  WHERE NOT (user_id BETWEEN
       |    (SELECT umn + ((umx - umn) * 49) // 100 FROM b) AND
       |    (SELECT umn + ((umx - umn) * 51) // 100 FROM b)))
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  val q160Sql: String = {
    val bits = 8; val n = 3
    val k = (1 << bits) - 1
    // one CTE per (level, axis) inverse-undo step, exactly the
    // operator's sequential column updates
    val steps = scala.collection.mutable.ArrayBuffer.empty[String]
    var prev = "l0"
    var idx = 0
    var qMask = 1L << (bits - 1)
    while (qMask > 1) {
      val p = qMask - 1
      for (i <- 0 until n) {
        idx += 1
        val cur = s"u$idx"
        if (i == 0)
          steps += s"""$cur AS (
             |  SELECT event_id,
             |    CASE WHEN (s0 & $qMask) > 0
             |      THEN xor(s0, $p) ELSE s0 END AS s0,
             |    s1, s2
             |  FROM $prev)""".stripMargin
        else {
          val others = (1 until n).filter(_ != i)
            .map(j => s"s$j").mkString(", ")
          steps += s"""$cur AS (
             |  SELECT event_id,
             |    CASE WHEN c THEN xor(s0, $p)
             |      ELSE xor(s0, t) END AS s0,
             |    xor(s$i, t) AS s$i${
               if (others.nonEmpty) ", " + others else ""}
             |  FROM (SELECT event_id, s0, s1, s2,
             |    (s$i & $qMask) > 0 AS c,
             |    CASE WHEN (s$i & $qMask) > 0 THEN 0
             |      ELSE xor(s0, s$i) & $p END AS t
             |    FROM $prev))""".stripMargin
        }
        prev = cur
      }
      qMask >>= 1
    }
    // sequential Gray fold: s_i' = xor of s_0..s_i
    val gray = (0 until n).map { i =>
      val folded = (0 to i).map(j => s"s$j")
        .reduce((a, b) => s"xor($a, $b)")
      s"$folded AS s$i"
    }.mkString(",\n    ")
    // correction term from the last axis's bits
    val tExpr = (1 until bits).map { kk =>
      val q2 = 1L << (bits - kk)
      s"CASE WHEN (s${n - 1} & $q2) > 0 THEN ${q2 - 1} ELSE 0 END"
    }.reduce((a, b) => s"xor($a, $b)")
    val terms = (for {
      i <- 0 until n
      q <- 0 until bits
    } yield s"(((s$i >> $q) & 1) << ${q * n + (n - 1 - i)})")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx,
       |    MIN(event_id) AS emn, MAX(event_id) AS emx
       |  FROM events),
       |l0 AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * $k)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS s0,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * $k)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS s1,
       |    ((event_id - (SELECT emn FROM b)) * $k)
       |      // ((SELECT emx FROM b) - (SELECT emn FROM b)) AS s2
       |  FROM events),
       |${steps.mkString(",\n")},
       |g AS (SELECT event_id,
       |    $gray
       |  FROM $prev),
       |tc AS (SELECT event_id, s0, s1, s2, $tExpr AS t FROM g),
       |f AS (SELECT event_id, xor(s0, t) AS s0, xor(s1, t) AS s1,
       |    xor(s2, t) AS s2 FROM tc)
       |SELECT event_id, $terms AS hkey FROM f""".stripMargin
  }

  /** Z-order clustering key ([[graft.operators.Layout.withZOrderKey]] —
    * the storage-layout lever for multi-dimensional scan pruning): the
    * event log keyed on (user_id, event time). The derivation is
    * exact-integer end-to-end — global min/max, `(x−mn)·(2¹⁶−1) div
    * range` quantization, 32-term Morton interleave — so the oracle
    * replays every bit; the layout ACTION ([[graft.operators.Layout
    * .clusterByZOrder]]: range repartition + in-file sort on this key)
    * is spec-gated instead (sampled range boundaries are not
    * byte-deterministic; LayoutSpec pins the per-file statistics
    * property the layout exists for). */
  val q155ZorderKey: Q = (s, dir) => {
    val ev = events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    graft.operators.Layout.withZOrderKey(
        ev, Seq(col("user_id"), col("ts_us")), bits = 16, keyCol = "zkey")
      .select(col("event_id"), col("zkey"))
  }

  val q155Sql: String = {
    // bit i of dim j lands at position i·2 + j (user_id is dim 0)
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((qx >> $i) & 1) << ${2 * i})",
      s"(((qy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
       |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS tmn,
       |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS tmx
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    ((user_id - (SELECT umn FROM b)) * 65535)
       |      // ((SELECT umx FROM b) - (SELECT umn FROM b)) AS qx,
       |    ((CAST(epoch_us(ts) AS BIGINT) - (SELECT tmn FROM b)) * 65535)
       |      // ((SELECT tmx FROM b) - (SELECT tmn FROM b)) AS qy
       |  FROM events)
       |SELECT event_id, $terms AS zkey FROM q""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  /** name → (query, oracle SQL if DuckDB-expressible). */
  val entries: Seq[(String, (Q, Option[String]))] = Seq(
    "q01_agg" -> (q01Agg, Some(q01Sql)),
    "q02_filter_pushdown" -> (q02FilterPushdown, Some(q02Sql)),
    "q03_cond_agg" -> (q03CondAgg, Some(q03Sql)),
    "q04_distinct" -> (q04Distinct, Some(q04Sql)),
    "q05_broadcast_join" -> (q05BroadcastJoin, Some(q05Sql)),
    "q06_shuffle_join" -> (q06ShuffleJoin, Some(q06Sql)),
    "q07_multi_join" -> (q07MultiJoin, Some(q07Sql)),
    "q08_semi_join" -> (q08SemiJoin, Some(q08Sql)),
    "q09_anti_join" -> (q09AntiJoin, Some(q09Sql)),
    "q10_null_safe_join" -> (q10NullSafeJoin, Some(q10Sql)),
    "q11_range_join" -> (q11RangeJoin, Some(q11Sql)),
    "q12_window" -> (q12Window, Some(q12Sql)),
    "q13_top_k" -> (q13TopK, Some(q13Sql)),
    "q14_union" -> (q14Union, Some(q14Sql)),
    "q15_explode" -> (q15Explode, Some(q15Sql)),
    "q16_case_chain" -> (q16CaseChain, Some(q16Sql)),
    "q17_thresholds" -> (q17Thresholds, Some(q17Sql)),
    "q18_tumbling" -> (q18Tumbling, Some(q18Sql)),
    "q19_session" -> (q19Session, Some(q19Sql)),
    "q20_dedup_exact" -> (q20DedupExact, Some(q20Sql)),
    "q21_text_stats" -> (q21TextStats, Some(q21Sql)),
    "q22_token_count" -> (q22TokenCount, Some(q22Sql)),
    "q23_lang_id" -> (q23LangId, Some(q23Sql)),
    "q24_minhash_dedup" -> (q24MinhashDedup, Some(q24Sql)),
    "q25_simhash" -> (q25Simhash, Some(q25Sql)),
    "q26_cosine_knn" -> (q26CosineKnn, Some(q26Sql)),
    "q27_embedding_norms" -> (q27EmbeddingNorms, Some(q27Sql)),
    "q28_lsh_recall" -> (q28LshRecall, Some(q28Sql)),
    "q29_multimodal" -> (q29Multimodal, Some(q29Sql)),
    "q30_sliding" -> (q30Sliding, Some(q30Sql)),
    "q31_json" -> (q31Json, Some(q31Sql)),
    "q32_embedding_dedup" -> (q32EmbeddingDedup, Some(q32Sql)),
    "q33_winnowing" -> (q33Winnowing, Some(q33Sql)),
    "q34_salted_join" -> (q34SaltedJoin, Some(q34Sql)),
    "q35_rollup" -> (q35Rollup, Some(q35Sql)),
    "q36_percentile" -> (q36Percentile, Some(q36Sql)),
    "q37_hll" -> (q37Hll, Some(q37Sql)),
    "q38_asof_join" -> (q38AsofJoin, Some(q38Sql)),
    "q39_kmv_sketch" -> (q39Kmv, Some(q39Sql)),
    "q40_ngram_jaccard" -> (q40NgramJaccard, Some(q40Sql)),
    "q41_lsh_dedup" -> (q41LshDedup, Some(q41Sql)),
    "q42_minhash_sigs" -> (q42MinhashSigs, Some(q42Sql)),
    "q43_ivf_topk" -> (q43IvfTopk, Some(q43Sql)),
    "q44_cc_dedup" -> (q44CcDedup, Some(q44Sql)),
    "q45_hash_split" -> (q45HashSplit, Some(q45Sql)),
    "q46_domain_cap" -> (q46DomainCap, Some(q46Sql)),
    "q47_pii_redact" -> (q47PiiRedact, Some(q47Sql)),
    "q48_corpus_pipeline" -> (q48CorpusPipeline, Some(q48Sql)),
    "q49_quantized_knn" -> (q49QuantizedKnn, Some(q49Sql)),
    "q50_ivf_sq8" -> (q50IvfSq8, Some(q50Sql)),
    "q51_repetition" -> (q51Repetition, Some(q51Sql)),
    "q52_chunking" -> (q52Chunking, Some(q52Sql)),
    "q53_packing" -> (q53Packing, Some(q53Sql)),
    "q54_decontam" -> (q54Decontam, Some(q54Sql)),
    "q55_balance" -> (q55Balance, Some(q55Sql)),
    "q56_canon_quality" -> (q56CanonQuality, Some(q56Sql)),
    "q57_bloom_join" -> (q57BloomJoin, Some(q57Sql)),
    "q58_tfidf" -> (q58TfIdf, Some(q58Sql)),
    "q59_bigram_lm" -> (q59BigramLm, Some(q59Sql)),
    "q60_frequent_ngrams" -> (q60FrequentNgrams, Some(q60Sql)),
    "q61_pack_greedy" -> (q61PackGreedy, Some(q61Sql)),
    "q62_pq_adc" -> (q62PqAdc, Some(q62Sql)),
    "q63_incremental_dedup" -> (q63IncrementalDedup, Some(q63Sql)),
    "q64_pivot" -> (q64Pivot, Some(q64Sql)),
    "q65_cube" -> (q65Cube, Some(q65Sql)),
    "q66_outer_join" -> (q66OuterJoin, Some(q66Sql)),
    "q67_set_ops" -> (q67SetOps, Some(q67Sql)),
    "q68_kmeans" -> (q68Kmeans, Some(q68Sql)),
    "q69_edit_join" -> (q69EditJoin, Some(q69Sql)),
    "q70_bm25" -> (q70Bm25, Some(q70Sql)),
    "q71_dup_spans" -> (q71DupSpans, Some(q71Sql)),
    "q72_stratified_sample" -> (q72Stratified, Some(q72Sql)),
    "q73_weighted_sample" -> (q73Weighted, Some(q73Sql)),
    "q74_strip_spans" -> (q74StripSpans, Some(q74Sql)),
    "q75_epoch_order" -> (q75EpochOrder, Some(q75Sql)),
    "q76_cdc_chunks" -> (q76CdcChunks, Some(q76Sql)),
    "q77_semantic_dedup" -> (q77SemanticDedup, Some(q77Sql)),
    "q78_percentile_gate" -> (q78PercentileGate, Some(q78Sql)),
    "q79_source_overlap" -> (q79SourceOverlap, Some(q79Sql)),
    "q80_html_strip" -> (q80HtmlStrip, Some(q80Sql)),
    "q81_edit_join_between" -> (q81EditJoinBetween, Some(q81Sql)),
    "q82_heldout_lm" -> (q82HeldoutLm, Some(q82Sql)),
    "q83_banded_dedup" -> (q83BandedDedup, Some(q83Sql)),
    "q84_pq_trained" -> (q84PqTrained, Some(q84Sql)),
    "q85_strip_contam" -> (q85StripContam, Some(q85Sql)),
    "q86_chunk_reuse" -> (q86ChunkReuse, Some(q86Sql)),
    "q87_nb_quality" -> (q87NbQuality, Some(q87Sql)),
    "q88_semantic_decontam" -> (q88SemanticDecontam, Some(q88Sql)),
    "q89_ann_rerank" -> (q89AnnRerank, Some(q89Sql)),
    "q90_dsir_select" -> (q90DsirSelect, Some(q90Sql)),
    "q91_leakfree_split" -> (q91LeakfreeSplit, Some(q91Sql)),
    "q92_budget_mixture" -> (q92BudgetMixture, Some(q92Sql)),
    "q93_bpe_train" -> (q93BpeTrain, Some(q93Sql)),
    "q94_bpe_tokens" -> (q94BpeTokens, Some(q94Sql)),
    "q95_phrase_search" -> (q95PhraseSearch, Some(q95Sql)),
    "q96_hybrid_rrf" -> (q96HybridRrf, Some(q96Sql)),
    "q97_quality_rules" -> (q97QualityRules, Some(q97Sql)),
    "q98_hard_negatives" -> (q98HardNegatives, Some(q98Sql)),
    "q99_containment" -> (q99Containment, Some(q99Sql)),
    "q100_bm25_merge" -> (q100Bm25Merge, Some(q100Sql)),
    "q101_ir_eval" -> (q101IrEval, Some(q101Sql)),
    "q102_ppl_buckets" -> (q102PerplexityBuckets, Some(q102Sql)),
    "q103_bag_dedup" -> (q103BagDedup, Some(q103Sql)),
    "q104_diversity_select" -> (q104DiversitySelect, Some(q104Sql)),
    "q105_snapshot_diff" -> (q105SnapshotDiff, Some(q105Sql)),
    "q106_leak_audit" -> (q106LeakAudit, Some(q106Sql)),
    "q107_ivf_recall_sweep" -> (q107IvfRecallSweep, Some(q107Sql)),
    "q108_ivf_add" -> (q108IvfAdd, Some(q108Sql)),
    "q109_keyword_tag" -> (q109KeywordTag, Some(q109Sql)),
    "q110_ict_pairs" -> (q110IctPairs, Some(q110Sql)),
    "q111_fold_dedup" -> (q111FoldDedup, Some(q111Sql)),
    "q112_random_proj" -> (q112RandomProj, Some(q112Sql)),
    "q113_knn_label" -> (q113KnnLabel, Some(q113Sql)),
    "q114_data_card" -> (q114DataCard, Some(q114Sql)),
    "q115_bpe_pack" -> (q115BpePack, Some(q115Sql)),
    "q116_session_pairs" -> (q116SessionPairs, Some(q116Sql)),
    // q117 re-runs q93's oracle against the distributed training strategy
    "q117_bpe_distributed" -> (q117BpeDistributed, Some(q93Sql)),
    "q118_bpe_fertility" -> (q118BpeFertility, Some(q118Sql)),
    // q119/q120 re-run q70's/q43's oracles against the streamed indexes
    "q119_bm25_stream_serve" -> (q119Bm25StreamServe, Some(q70Sql)),
    "q120_ivf_stream_serve" -> (q120IvfStreamServe, Some(q43Sql)),
    "q121_bm25_delete" -> (q121Bm25Delete, Some(q121Sql)),
    "q122_pq_stream_serve" -> (q122PqStreamServe, Some(q62Sql)),
    "q123_corpus_forget" -> (q123CorpusForget, Some(q123Sql)),
    "q124_ivfpq_residual" -> (q124IvfPqResidual, Some(q124Sql)),
    "q125_logit_probe" -> (q125LogitProbe, Some(q125Sql)),
    "q126_bitext_mine" -> (q126BitextMine, Some(q126Sql)),
    "q127_domain_weights" -> (q127DomainWeights, Some(q127Sql)),
    "q128_image_dedup" -> (q128ImageDedup, Some(q128Sql)),
    "q129_kn_lm" -> (q129KnLm, Some(q129Sql)),
    "q130_embed_cov" -> (q130EmbedCov, Some(q130Sql)),
    "q131_unigram_lm" -> (q131UnigramLm, Some(q131Sql)),
    "q132_unigram_encode" -> (q132UnigramEncode, Some(q132Sql)),
    "q133_audio_features" -> (q133AudioFeatures, Some(q133Sql)),
    "q134_video_frames" -> (q134VideoFrames, Some(q134Sql)),
    "q135_pagerank" -> (q135PageRank, Some(q135Sql)),
    "q136_shard_plan" -> (q136ShardPlan, Some(q136Sql)),
    "q137_exact_quantile" -> (q137ExactQuantile, Some(q137Sql)),
    "q138_kmeans_stream" -> (q138KmeansStream, Some(q138Sql)),
    "q139_wordpiece" -> (q139WordPiece, Some(q139Sql)),
    "q140_dup_pagerank" -> (q140DupPagerank, Some(q140Sql)),
    "q141_knn_join" -> (q141KnnJoin, Some(q141Sql)),
    "q142_ann_pagerank" -> (q142AnnPagerank, Some(q142Sql)),
    "q143_group_quantiles" -> (q143GroupQuantiles, Some(q143Sql)),
    "q144_temp_mixture" -> (q144TempMixture, Some(q144Sql)),
    "q145_standardize" -> (q145Standardize, Some(q145Sql)),
    "q146_prf_search" -> (q146PrfSearch, Some(q146Sql)),
    "q147_funnel" -> (q147Funnel, Some(q147Sql)),
    // q148 re-runs q146's oracle against the streamed index
    "q148_prf_stream_serve" -> (q148PrfStreamServe, Some(q146Sql)),
    "q149_retention" -> (q149Retention, Some(q149Sql)),
    "q150_attribution" -> (q150Attribution, Some(q150Sql)),
    "q151_weighted_topk" -> (q151WeightedTopK, Some(q151Sql)),
    // q152 re-runs q147's oracle against the STREAMED funnel's final state
    "q152_funnel_stream_serve" -> (q152FunnelStreamServe, Some(q147Sql)),
    // q153/q154 re-run q150's/q116's oracles against the streamed twins
    "q153_attribution_stream" -> (q153AttributionStream, Some(q150Sql)),
    "q154_session_pairs_stream" -> (q154SessionPairsStream, Some(q116Sql)),
    "q155_zorder_key" -> (q155ZorderKey, Some(q155Sql)),
    "q156_image_resize" -> (q156ImageResize, Some(q156Sql)),
    "q157_hilbert_key" -> (q157HilbertKey, Some(q157Sql)),
    // q158/q159 re-run q147's/q116's oracles against the watermark-
    // buffered REORDER twins over a deliberately disordered feed (the
    // drop-late q152/q154 operators provably strand events on it)
    "q158_funnel_stream_reorder" -> (q158FunnelStreamReorder,
      Some(q147Sql)),
    "q159_session_pairs_reorder" -> (q159SessionPairsReorder,
      Some(q116Sql)),
    "q160_hilbert_key_3d" -> (q160HilbertKey3d, Some(q160Sql)),
    // q161 re-runs q155's key oracle against the STREAMED clustered
    // table (fixed grid ≡ the oracle's global-min/max subqueries)
    "q161_clustered_ingest" -> (q161ClusteredIngest, Some(q155Sql)),
    "q162_clustered_delete" -> (q162ClusteredDelete, Some(q162Sql)),
    // q163 re-runs q160's Skilling-curve oracle against the STREAMED
    // hilbert-clustered table (q161's protocol, curve switched)
    "q163_hilbert_ingest" -> (q163HilbertIngest, Some(q160Sql)),
    "q164_clustered_scan" -> (q164ClusteredScan, Some(q164Sql)),
    // q165 re-runs q164's slice oracle against a table whose fold was
    // forced to publish a RANGE-SPLIT generation (leaf-unit pruning)
    "q165_split_compact_scan" -> (q165SplitCompactScan, Some(q164Sql)),
    "q166_bloom_point_scan" -> (q166BloomPointScan, Some(q166Sql)),
    // q167 re-runs q155's full-domain key oracle against a table
    // REGRIDDED out of a deliberately-clamping narrow grid
    "q167_regrid" -> (q167Regrid, Some(q155Sql)),
    "q168_cdc_read" -> (q168CdcRead, Some(q168Sql)),
    "q169_schema_evolve" -> (q169SchemaEvolve, Some(q169Sql)),
    "q170_str_bloom_scan" -> (q170StrBloomScan, Some(q170Sql)),
    // q171 re-runs q155's full key oracle against the set a
    // checkpointed readStream consumer DRAINED from the table across
    // a gapped ingest + fold (exactly-once through Spark's offsets)
    "q171_cdc_stream_consume" -> (q171CdcStreamConsume, Some(q155Sql)),
    "q172_merge_upsert" -> (q172MergeUpsert, Some(q172Sql)),
    "q173_merge_upsert_str" -> (q173MergeUpsertStr, Some(q173Sql)),
    // q174 re-runs q155's full key oracle against a drain CAPPED at one
    // ingest batch per micro-batch (refused unless it took >= 3 steps)
    "q174_cdc_stream_ratelimit" -> (q174CdcStreamRatelimit, Some(q155Sql)),
    // q175 re-runs q168's readSince oracle against a FRESH checkpoint
    // floored at batch 1 (snapshot-bootstrap: history never served)
    "q175_cdc_stream_tail" -> (q175CdcStreamTail, Some(q168Sql)),
    "q176_table_history" -> (q176TableHistory, Some(q176Sql)),
    "q177_concurrent_writers" -> (q177ConcurrentWriters, Some(q177Sql)),
    // q178/q179 re-run q164's slice-oracle shape (off-mid band) and
    // q168's readSince oracle through the BATCH SQL relation
    // (pushdown pruning, sinceBatch) — the SQL surface must be
    // value-identical to the API surface
    "q178_sql_box_scan" -> (q178SqlBoxScan, Some(q178Sql)),
    "q179_sql_since" -> (q179SqlSince, Some(q168Sql)),
    // q181/q182 re-run q162's/q172's oracles against tables whose
    // delete/merge ran through SQL DELETE / MERGE INTO (the
    // GraftSqlExtensions DML routing) instead of the API
    "q181_sql_delete" -> (q181SqlDelete, Some(q162Sql)),
    "q182_sql_merge" -> (q182SqlMerge, Some(q172Sql)),
    "q183_merge_visibility" -> (q183MergeVisibility, Some(q183Sql)),
    // q184's two capped drains (clean stop/restart between them) union
    // to the whole event log — q155's full key formula is the oracle
    "q184_cursor_restart" -> (q184CursorRestart, Some(q155Sql)),
    // q185: the event log lands through interleaved txn-stream +
    // batch-append writers; the whole table ≡ q155's key formula
    "q185_txn_interleave" -> (q185TxnInterleave, Some(q155Sql)),
    // q186: q176's exact ledger fixture read through the
    // graft_history SQL table function, same literal oracle
    "q186_sql_history" -> (q186SqlHistory, Some(q176Sql)),
    // q180 re-runs q155's full key oracle against a table built
    // entirely through the DataFrameWriter append surface
    "q180_sql_write" -> (q180SqlWrite, Some(q155Sql)),
    // q187 re-runs q155's key oracle against a table built entirely
    // through the writeStream.format("graft-layout") sink
    "q187_stream_sink" -> (q187StreamSink, Some(q155Sql)),
    // q188 re-runs q162's delete oracle against a table vacuumed with
    // planted debris (an emptied unit + a dead ingest stage)
    "q188_vacuum" -> (q188Vacuum, Some(q162Sql)),
    // q189 re-runs q155's key oracle against a table REPLICATED from
    // another through one readStream→writeStream format pipeline
    "q189_cdc_replicate" -> (q189CdcReplicate, Some(q155Sql)),
    // q190: SQL time travel — graft_table('<dir>', 0) must serve
    // exactly batch 0's slice under q155's formula
    "q190_sql_time_travel" -> (q190SqlTimeTravel, Some(q190Sql)),
    // q191: one DELETE statement with a top-level OR removes the
    // union of two boxes in ONE ledger op (one box-target delete)
    "q191_sql_delete_or" -> (q191SqlDeleteOr, Some(q191Sql)),
    // q192: conditional MERGE (same source-only condition on both
    // actions) ≡ the parity-gated DuckDB twin
    "q192_sql_merge_cond" -> (q192SqlMergeCond, Some(q192Sql)),
    // q193: vacuum races a live writer + attached CDC consumer and
    // must sweep EXACTLY the planted debris; table + sink both hash
    "q193_vacuum_live" -> (q193VacuumLive, Some(q193Sql)),
    // q194: SQL retention sweep — NOT BETWEEN decomposes to the two
    // complement interval boxes, one union delete
    "q194_sql_retention" -> (q194SqlRetention, Some(q194Sql)),
    // q195: SQL UPDATE — box-scoped in-place redaction (expression
    // shift + NULL-out), two update ops in history, CASE-cascade twin
    "q195_sql_redact" -> (q195SqlRedact, Some(q195Sql)),
    // q196: deletions/redactions REPLAYED onto a replica (replicate)
    "q196_replica_redact" -> (q196ReplicaRedact, Some(q196Sql)),
    // q197: one-sided conditional MERGE via the target-key split
    "q197_sql_merge_onesided" -> (q197SqlMergeOneSided, Some(q197Sql)),
    // q198: a MERGE + later redaction replayed onto a replica in order
    "q198_replica_merge" -> (q198ReplicaMerge, Some(q198Sql)),
    // q199: string-keyed SQL DELETE (the doc-id takedown) —
    // bloom-pruned, recorded, replayed on a replica
    "q199_sql_delete_keys" -> (q199SqlDeleteKeys, Some(q199Sql)),
    // q200: partial-column MERGE UPDATE SET (accumulator + plain) via
    // the matched-rows synthesis join
    "q200_sql_merge_partial" -> (q200SqlMergePartial, Some(q200Sql)),
    // q201: keyed SQL UPDATE — redaction by doc id, bloom-pruned,
    // recorded, replayed on a replica
    "q201_sql_update_keys" -> (q201SqlUpdateKeys, Some(q201Sql)),
    // q202: string-PREFIX SQL DELETE (the domain takedown) — pruned
    // by the string min/max sidecars, recorded, replayed on a replica
    "q202_sql_delete_str_prefix" ->
      (q202SqlDeleteStrPrefix, Some(q202Sql)),
    // q203: MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE (the
    // full-sync dimension statement) — one atomic merge, gated
    // target-reading delete, replica-replayed from the snapshot
    "q203_sql_merge_fullsync" ->
      (q203SqlMergeFullSync, Some(q203Sql)))

  def queries: Map[String, Q] = entries.map { case (k, (q, _)) => k -> q }.toMap

  def oracleSql: Map[String, String] =
    entries.collect { case (k, (_, Some(sql))) => k -> sql }.toMap
}
