package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Lake
import graft.ops.{Crosstab, DateKeys, Descriptors, Joins, OrderedAgg, Ranks}

/** Relational operator coverage (SURVEY.md §2.2–§2.6) expressed over the
  * driver's synthetic TPC-H-ish tables.
  *
  * Each query names the SURVEY §2 operator IDs it exercises. The Spark side
  * is plain declarative DataFrame code — Catalyst handles pushdown, pruning,
  * join strategy; the only manual hints are `broadcast()` on dimension
  * tables, which at 100 TB is the difference between a map-side hash join
  * and a full shuffle of the fact table.
  */
object RelationalQueries {

  /** Exact, order-independent money aggregation: DECIMAL sum, double out. */
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def dec4(c: Column): Column = c.cast("decimal(18,4)")
  private def dec6(c: Column): Column = c.cast("decimal(18,6)")
  private def dkey(c: Column): Column = date_format(c, "yyyyMMdd")

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1 shape: scan + filter + groupBy + multi-agg (A1/A5, P8, F14).
    * One shuffle on (returnflag, linestatus); partial aggregation map-side. */
  private val q01 = Q(
    "q01_pricing_summary",
    (s, dir) => {
      val l = Lake(s, dir).lineitem
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))
            .cast("double").as("sum_charge"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  )

  // ---------------------------------------------------------------- q02
  /** TPC-H Q6 shape: pure scan-side filters (P3) + single global agg.
    * All three predicates reach the parquet scan (PushedFilters). */
  private val q02 = Q(
    "q02_revenue_forecast",
    (s, dir) => {
      Lake(s, dir).lineitem
        .filter(
          col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24
        )
        .agg(
          sum(dec4(col("l_extendedprice") * col("l_discount"))).cast("double").as("revenue"),
          count(lit(1)).as("n_items")
        )
    },
    Some("""
      SELECT
        CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")
  )

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3 shape: 3-way join + group + ordered top-N (J1, A1, O1).
    * customer is the small side of its join — broadcast; the orders⋈lineitem
    * join shuffles on orderkey, which is also the aggregation key, so the
    * groupBy reuses the join's partitioning (no extra shuffle). */
  private val q03 = Q(
    "q03_unshipped_revenue",
    (s, dir) => {
      val lake = Lake(s, dir)
      val c = lake.customer.filter(col("c_mktsegment") === "BUILDING")
      val o = lake.orders.filter(col("o_orderdate") < to_timestamp(lit("1998-03-15")))
      val l = lake.lineitem.filter(col("l_shipdate") > to_timestamp(lit("1998-03-15")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), dkey(col("o_orderdate")).as("order_date"), col("o_orderpriority"))
        .agg(sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev"))
        .select(
          col("l_orderkey"), col("order_date"), col("o_orderpriority"),
          col("rev").cast("double").as("revenue")
        )
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(100)
    },
    Some("""
      SELECT l_orderkey, strftime(o_orderdate, '%Y%m%d') AS order_date, o_orderpriority,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15'
        AND l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY l_orderkey, order_date, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 100""")
  )

  // ---------------------------------------------------------------- q04
  /** TPC-H Q5 shape: star join fact→dims (J1) with broadcast dimension
    * chain region⋈nation⋈customer; revenue rollup per region. */
  private val q04 = Q(
    "q04_region_revenue",
    (s, dir) => {
      val lake = Lake(s, dir)
      val dims = lake.customer
        .join(broadcast(lake.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(lake.region), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
      lake.lineitem
        .join(lake.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .groupBy("r_name")
        .agg(
          sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double").as("revenue"),
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_items")
        )
        .orderBy("r_name")
    },
    Some("""
      SELECT r_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o_custkey) AS n_customers,
        COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name""")
  )

  // ---------------------------------------------------------------- q05
  /** Left outer join + null-probe (J2): orders with no recent shipments.
    * The lineitem side is pre-aggregated to one row per orderkey before the
    * join — at scale this halves the shuffle volume vs joining raw rows. */
  private val q05 = Q(
    "q05_orders_without_recent_items",
    (s, dir) => {
      val lake = Lake(s, dir)
      val recent = lake.lineitem
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-06-01")))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_recent"))
      lake.orders
        .join(recent, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("n_recent").isNull, 1L).otherwise(0L)).as("n_without_recent")
        )
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CASE WHEN n_recent IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_recent
      FROM orders
      LEFT JOIN (
        SELECT l_orderkey, COUNT(*) AS n_recent
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey
      ) recent ON o_orderkey = l_orderkey
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  )

  // ---------------------------------------------------------------- q06
  /** Right outer join (J3): every part survives, parts never ordered get
    * null lineitem columns — mirrors the reference's right-join descriptor
    * mapping where unmapped rows must survive (SURVEY §7.4.6). */
  private val q06 = Q(
    "q06_part_order_coverage",
    (s, dir) => {
      val lake = Lake(s, dir)
      lake.lineitem
        .join(lake.part, col("l_partkey") === col("p_partkey"), "right")
        .groupBy("p_brand")
        .agg(
          count(col("l_orderkey")).as("n_lineitems"),
          countDistinct(col("p_partkey")).as("n_parts"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("n_unordered_rows")
        )
        .orderBy("p_brand")
    },
    Some("""
      SELECT p_brand, COUNT(l_orderkey) AS n_lineitems,
        COUNT(DISTINCT p_partkey) AS n_parts,
        CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unordered_rows
      FROM lineitem
      RIGHT JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
      ORDER BY p_brand""")
  )

  // ---------------------------------------------------------------- q07
  /** Cross join (J4): the reference fakes this with a constant fakeKey and
    * outer merge (base/demographics_dim/main.py:68-106); Spark has the real
    * operator, with the small side broadcast. */
  private val q07 = Q(
    "q07_year_type_matrix",
    (s, dir) => {
      val lake = Lake(s, dir)
      val years = lake.orders.select(year(col("o_orderdate")).as("order_year")).distinct()
      val types = lake.events.select(col("event_type")).distinct()
      Joins.cross(years, types).orderBy("order_year", "event_type")
    },
    Some("""
      SELECT order_year, event_type
      FROM (SELECT DISTINCT EXTRACT(year FROM o_orderdate) AS order_year FROM orders) y
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      ORDER BY order_year, event_type""")
  )

  // ---------------------------------------------------------------- q08
  /** Literal in-memory lookup table (S9/S10) + case-insensitive expression
    * join (J5) + broadcast translation join (J8). */
  private val q08 = Q(
    "q08_event_severity",
    (s, dir) => {
      val lake = Lake(s, dir)
      val sev = s.createDataFrame(Seq(
        ("CLICK", "low"), ("VIEW", "low"), ("SIGNUP", "medium"),
        ("PURCHASE", "high"), ("ERROR", "high")
      )).toDF("type_key", "severity")
      lake.events
        .join(broadcast(sev), lower(col("event_type")) === lower(col("type_key")), "left")
        .groupBy("severity")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("severity")
    },
    Some("""
      SELECT severity, COUNT(*) AS n_events
      FROM events
      LEFT JOIN (VALUES ('CLICK','low'),('VIEW','low'),('SIGNUP','medium'),
                        ('PURCHASE','high'),('ERROR','high')) sev(type_key, severity)
        ON lower(event_type) = lower(type_key)
      GROUP BY severity
      ORDER BY severity""")
  )

  // ---------------------------------------------------------------- q09
  /** Self-join with aliases (J6): co-occurring line pairs within an order.
    * Shuffles once on orderkey; the pair explosion happens post-shuffle. */
  private val q09 = Q(
    "q09_intra_order_pairs",
    (s, dir) => {
      val l = Lake(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag")
      val a = l.as("a")
      val b = l.as("b")
      a.join(b,
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber"))
        .groupBy(col("a.l_returnflag").as("l_returnflag"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT a.l_returnflag AS l_returnflag, COUNT(*) AS n_pairs
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
      GROUP BY a.l_returnflag
      ORDER BY l_returnflag""")
  )

  // ---------------------------------------------------------------- q10
  /** Union-by-name with missing columns (O2): the reference's pd_concat
    * pads absent columns with nulls (pandasWrapper.py:31-32, 198-209). */
  private val q10 = Q(
    "q10_party_directory",
    (s, dir) => {
      val lake = Lake(s, dir)
      val c = lake.customer.select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
      val sup = lake.supplier.select(
        col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_acctbal").as("acctbal"), lit("supplier").as("kind"))
      val n = lake.nation.select(
        col("n_nationkey").cast("long").as("id"), col("n_name").as("name"),
        lit("nation").as("kind")) // no acctbal: exercises allowMissingColumns
      c.unionByName(sup, allowMissingColumns = true)
        .unionByName(n, allowMissingColumns = true)
        .orderBy("kind", "id")
    },
    Some("""
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
      UNION ALL
      SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier
      UNION ALL
      SELECT n_nationkey, n_name, NULL, 'nation' FROM nation
      ORDER BY kind, id""")
  )

  // ---------------------------------------------------------------- q11
  /** Distinct (A10). */
  private val q11 = Q(
    "q11_flag_status_domain",
    (s, dir) =>
      Lake(s, dir).lineitem.select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""")
  )

  // ---------------------------------------------------------------- q12
  /** Crosstab / pivot-count (A8) with a FIXED category list — pandas'
    * pd.crosstab output schema is data-dependent; ours is declared
    * (SURVEY §7.4.2) and skips pivot's value-discovery scan. */
  private val q12 = Q(
    "q12_user_event_crosstab",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Crosstab.counts(Lake(s, dir).events, Seq("user_id"), "event_type", types)
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM events GROUP BY user_id ORDER BY user_id""")
  )

  // ---------------------------------------------------------------- q13
  /** Pivot with value aggregate (A9): pandas df.pivot takes "the" value; we
    * use max for a well-defined distributed answer (Crosstab.values). */
  private val q13 = Q(
    "q13_user_peak_value",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Crosstab.values(Lake(s, dir).events, Seq("user_id"), "event_type", types, "value")
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id,
        MAX(CASE WHEN event_type = 'click' THEN value END) AS click,
        MAX(CASE WHEN event_type = 'error' THEN value END) AS error,
        MAX(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
        MAX(CASE WHEN event_type = 'signup' THEN value END) AS signup,
        MAX(CASE WHEN event_type = 'view' THEN value END) AS view
      FROM events GROUP BY user_id ORDER BY user_id""")
  )

  // ---------------------------------------------------------------- q14
  /** Order-sensitive string aggregation (A7, SURVEY §7.4.3): sort keys are
    * encoded into the aggregation (struct array_sort), one shuffle, no
    * window — Spark's collect_list alone is nondeterministic. */
  private val q14 = Q(
    "q14_order_part_list",
    (s, dir) => {
      val l = Lake(s, dir).lineitem
      l.groupBy("l_orderkey")
        .agg(OrderedAgg.stringAgg(
          col("l_partkey").cast("string"), ",", col("l_linenumber")).as("part_list"))
        .orderBy("l_orderkey")
    },
    Some("""
      SELECT l_orderkey,
        string_agg(CAST(l_partkey AS VARCHAR), ','
                   ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR)) AS part_list
      FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")
  )

  // ---------------------------------------------------------------- q15
  /** Group min/max/count (A2/A3/A4/A6): per-customer order extremes. Raw
    * min/max of doubles are selections, not arithmetic — exact cross-engine. */
  private val q15 = Q(
    "q15_customer_order_extremes",
    (s, dir) => {
      Lake(s, dir).orders
        .groupBy("o_custkey")
        .agg(
          dkey(max(col("o_orderdate"))).as("last_order_date"),
          dkey(min(col("o_orderdate"))).as("first_order_date"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("n_orders")
        )
        .orderBy("o_custkey")
    },
    Some("""
      SELECT o_custkey,
        strftime(MAX(o_orderdate), '%Y%m%d') AS last_order_date,
        strftime(MIN(o_orderdate), '%Y%m%d') AS first_order_date,
        MIN(o_totalprice) AS min_price,
        MAX(o_totalprice) AS max_price,
        COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey ORDER BY o_custkey""")
  )

  // ---------------------------------------------------------------- q16
  /** Most-recent-per-key via ranking window — the reference's
    * most_recent_grading_period (A2) generalized: full row of the latest
    * order per customer, deterministic tiebreak on orderkey. */
  private val q16 = Q(
    "q16_latest_order_per_customer",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Lake(s, dir).orders
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          col("o_custkey"), col("o_orderkey"),
          dkey(col("o_orderdate")).as("order_date"),
          col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_custkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y%m%d') AS order_date,
             o_totalprice, o_orderstatus
      FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
      ORDER BY o_custkey""")
  )

  // ---------------------------------------------------------------- q17
  /** Conditional assignment / row-wise conditionals (P5/P6): every pandas
    * `.apply(lambda...)` in the reference reduces to when/otherwise chains —
    * zero UDFs, fully codegen'd. */
  private val q17 = Q(
    "q17_value_bands",
    (s, dir) => {
      Lake(s, dir).lineitem
        .withColumn("value_band",
          when(col("l_extendedprice") >= 50000, "high")
            .when(col("l_extendedprice") >= 10000, "mid")
            .otherwise("low"))
        .withColumn("is_discounted", (col("l_discount") > 0).cast("int"))
        .groupBy("value_band", "is_discounted", "l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("value_band", "is_discounted", "l_returnflag")
    },
    Some("""
      SELECT
        CASE WHEN l_extendedprice >= 50000 THEN 'high'
             WHEN l_extendedprice >= 10000 THEN 'mid' ELSE 'low' END AS value_band,
        CAST(l_discount > 0 AS INT) AS is_discounted,
        l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY value_band, is_discounted, l_returnflag
      ORDER BY value_band, is_discounted, l_returnflag""")
  )

  // ---------------------------------------------------------------- q18
  /** Null-fill conventions (P7) + regex field extraction from a JSON-ish
    * string payload (F11): extract k, default 0 when absent. */
  private val q18 = Q(
    "q18_props_extraction",
    (s, dir) => {
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
      Lake(s, dir).events
        .withColumn("k", coalesce(when(k === "", null).otherwise(k).cast("int"), lit(0)))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          (sum(col("k").cast("long")).cast("double") / count(lit(1))).as("avg_k"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(k) AS BIGINT) AS sum_k,
        CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
      FROM (
        SELECT event_type,
          COALESCE(TRY_CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS INT), 0) AS k
        FROM events)
      GROUP BY event_type ORDER BY event_type""")
  )

  // ---------------------------------------------------------------- q19
  /** Date dimension (F4–F8, date_dim parity): parts, names, quarter names,
    * yyyyMMdd keys — all built-ins, no UDFs (DateKeys). */
  private val q19 = Q(
    "q19_date_dim",
    (s, dir) => {
      Lake(s, dir).orders
        .select(col("o_orderdate").cast("date").as("d")).distinct()
        .select(
          DateKeys.dateKey(col("d")).as("date_key"),
          year(col("d")).as("y"),
          month(col("d")).as("m"),
          dayofmonth(col("d")).as("day_of_month"),
          DateKeys.monthName(col("d")).as("month_name"),
          quarter(col("d")).as("q"),
          DateKeys.quarterName(col("d")).as("quarter_name"))
        .orderBy("date_key")
    },
    Some("""
      SELECT strftime(d, '%Y%m%d') AS date_key,
        EXTRACT(year FROM d) AS y, EXTRACT(month FROM d) AS m,
        EXTRACT(day FROM d) AS day_of_month,
        monthname(d) AS month_name,
        EXTRACT(quarter FROM d) AS q,
        CASE EXTRACT(quarter FROM d) WHEN 1 THEN 'First' WHEN 2 THEN 'Second'
             WHEN 3 THEN 'Third' WHEN 4 THEN 'Fourth' END AS quarter_name
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
      ORDER BY date_key""")
  )

  // ---------------------------------------------------------------- q20
  /** String surgery (F1–F3, F9–F12): the Ed-Fi descriptor-URI parsers as
    * single codegen'd expressions, round-tripped through synthesized URIs. */
  private val q20 = Q(
    "q20_uri_parsing",
    (s, dir) => {
      Lake(s, dir).part
        .withColumn("uri",
          concat(lit("uri://graft.dev/"), col("p_brand"), lit("Descriptor#"), col("p_type")))
        .withColumn("href", concat(lit("api/parts/"), col("p_partkey")))
        .select(
          col("p_partkey"),
          col("uri"),
          Descriptors.codeValueFromUri(col("uri")).as("code_value"),
          Descriptors.descriptorNameFromUri(col("uri")).as("descriptor_name"),
          Descriptors.idFromHref(col("href")).as("ref_id"),
          split(col("p_type"), " ").getItem(0).as("first_word"),
          lower(col("p_brand")).as("brand_lower"),
          upper(col("p_type")).as("type_upper"),
          regexp_replace(col("p_type"), " ", "-").as("type_slug"))
        .orderBy("p_partkey")
    },
    Some("""
      SELECT p_partkey,
        'uri://graft.dev/' || p_brand || 'Descriptor#' || p_type AS uri,
        string_split('uri://graft.dev/' || p_brand || 'Descriptor#' || p_type, '#')[-1] AS code_value,
        string_split(split_part('uri://graft.dev/' || p_brand || 'Descriptor#' || p_type, '#', 1), '/')[-1] AS descriptor_name,
        string_split('api/parts/' || p_partkey, '/')[-1] AS ref_id,
        split_part(p_type, ' ', 1) AS first_word,
        lower(p_brand) AS brand_lower,
        upper(p_type) AS type_upper,
        replace(p_type, ' ', '-') AS type_slug
      FROM part ORDER BY p_partkey""")
  )

  // ---------------------------------------------------------------- q21
  /** Full descriptor-constant pipeline (J3/J5 + F1/F2 + S10): URI parse +
    * case-insensitive broadcast lookup; unmapped rows survive with null
    * constant (the reference's right-join contract, SURVEY §7.4.6). */
  private val q21 = Q(
    "q21_descriptor_constants",
    (s, dir) => {
      val mapping = s.createDataFrame(Seq(
        ("Engagement.Click", "EventDescriptor", "click"),
        ("Engagement.View", "EventDescriptor", "view"),
        ("Conversion.Signup", "EventDescriptor", "SIGNUP"), // case-insensitive match
        ("Conversion.Purchase", "EventDescriptor", "purchase"),
        ("Quality.Error", "IncidentDescriptor", "error") // wrong family: stays unmapped
      )).toDF("constantName", "descriptor", "codeValue")
      val data = Lake(s, dir).events
        .withColumn("uri", concat(lit("uri://graft.dev/EventDescriptor#"), col("event_type")))
      Descriptors.withConstant(data, mapping, "uri")
        .groupBy(col("constantName"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("constantName").asc_nulls_first)
    },
    Some("""
      WITH m(constantName, descriptor, codeValue) AS (VALUES
        ('Engagement.Click', 'EventDescriptor', 'click'),
        ('Engagement.View', 'EventDescriptor', 'view'),
        ('Conversion.Signup', 'EventDescriptor', 'SIGNUP'),
        ('Conversion.Purchase', 'EventDescriptor', 'purchase'),
        ('Quality.Error', 'IncidentDescriptor', 'error')),
      data AS (
        SELECT 'uri://graft.dev/EventDescriptor#' || event_type AS uri FROM events)
      SELECT constantName, COUNT(*) AS n_events
      FROM data LEFT JOIN m
        ON lower(string_split(split_part(uri, '#', 1), '/')[-1]) = lower(descriptor)
       AND lower(string_split(uri, '#')[-1]) = lower(codeValue)
      GROUP BY constantName
      ORDER BY constantName NULLS FIRST""")
  )

  // ---------------------------------------------------------------- q22
  /** Rate arithmetic (F14, A5/A6 — the attendance-rate pattern
    * 100*(enrolled-absent)/enrolled from student_history_dim). */
  private val q22 = Q(
    "q22_user_error_rate",
    (s, dir) => {
      Lake(s, dir).events
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
        .withColumn("ok_rate",
          (col("n_events") - col("n_errors")).cast("double") * 100 / col("n_events"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        CAST(COUNT(*) - SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) * 100
          / COUNT(*) AS ok_rate
      FROM events GROUP BY user_id ORDER BY user_id""")
  )

  // ---------------------------------------------------------------- q23
  /** Array explode (F15): word frequencies over documents — explode is
    * Spark's Generator, no custom UDTF needed. */
  private val q23 = Q(
    "q23_word_frequencies",
    (s, dir) => {
      Lake(s, dir).documents
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
    },
    Some("""
      SELECT word, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word ORDER BY n DESC, word""")
  )

  // ---------------------------------------------------------------- q24
  /** Tumbling-window aggregation over the event table; at 100 TB the
    * group key (hour, type) keeps cardinality bounded. */
  private val q24 = Q(
    "q24_hourly_event_rollup",
    (s, dir) => {
      Lake(s, dir).events
        .withColumn("hour_key", date_format(date_trunc("hour", col("ts")), "yyyyMMddHH"))
        .groupBy("hour_key", "event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
        .orderBy("hour_key", "event_type")
    },
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hour_key, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY hour_key, event_type ORDER BY hour_key, event_type""")
  )

  // ---------------------------------------------------------------- q25
  /** Semi/anti joins — absent from the reference (§2.3) but first-class in
    * Spark; semi/anti never duplicate or widen rows, so they beat
    * join+distinct at scale. */
  private val q25 = Q(
    "q25_customer_activity_split",
    (s, dir) => {
      val lake = Lake(s, dir)
      val recentOrders = lake.orders
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
      val active = lake.customer.join(recentOrders,
        col("c_custkey") === col("o_custkey"), "left_semi")
      val dormant = lake.customer.join(recentOrders,
        col("c_custkey") === col("o_custkey"), "left_anti")
      active.groupBy("c_mktsegment").agg(count(lit(1)).as("n_active"))
        .join(
          dormant.groupBy("c_mktsegment").agg(count(lit(1)).as("n_dormant")),
          Seq("c_mktsegment"), "full")
        .na.fill(0L, Seq("n_active", "n_dormant"))
        .orderBy("c_mktsegment")
    },
    Some("""
      WITH recent AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
      active AS (
        SELECT c_mktsegment, COUNT(*) AS n_active FROM customer
        WHERE EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment),
      dormant AS (
        SELECT c_mktsegment, COUNT(*) AS n_dormant FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment)
      SELECT c_mktsegment,
        COALESCE(n_active, 0) AS n_active,
        COALESCE(n_dormant, 0) AS n_dormant
      FROM active FULL JOIN dormant USING (c_mktsegment)
      ORDER BY c_mktsegment""")
  )

  // ---------------------------------------------------------------- q46
  /** Window FRAME specs (beyond the reference): per-user running total and
    * 3-row moving average over the event stream. Sums go through DECIMAL —
    * windowed double sums are engine-dependent (DuckDB aggregates frames
    * via segment trees, a different summation order than Spark's running
    * accumulator), decimals are exact under any order. One shuffle on
    * user_id; both windows share the same sort. */
  private val q46 = Q(
    "q46_event_running_stats",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Lake(s, dir).events
        .withColumn("running_value",
          sum(dec6(col("value"))).over(byUser.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .withColumn("mov_avg3",
          // cast the exact decimal sum to double BEFORE dividing: decimal
          // division scale rules differ between engines, double division
          // of identical inputs does not
          sum(dec6(col("value"))).over(byUser.rowsBetween(-2, 0)).cast("double") /
            count(lit(1)).over(byUser.rowsBetween(-2, 0)))
        .select("event_id", "user_id", "running_value", "mov_avg3")
        .orderBy("user_id", "event_id")
    },
    Some("""
      SELECT event_id, user_id,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w_all AS DOUBLE) AS running_value,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w3 AS DOUBLE) / COUNT(*) OVER w3
          AS mov_avg3
      FROM events
      WINDOW
        w_all AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w3 AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""")
  )

  // ---------------------------------------------------------------- q47
  /** ROLLUP hierarchy totals (beyond the reference): revenue at
    * (region, nation), per-region, and grand-total levels in one pass —
    * Spark's partial-aggregate rollup vs DuckDB GROUP BY ROLLUP. Sort
    * keys coalesce the NULL level markers because the engines disagree on
    * default null ordering. */
  private val q47 = Q(
    "q47_region_nation_rollup",
    (s, dir) => {
      val lake = Lake(s, dir)
      // joins stay DataFrame-side (broadcast hints); the rollup itself goes
      // through spark.sql because Dataset.rollup over a multi-join lineage
      // trips the ambiguous-self-join detector on its duplicated grouping
      // attributes (SQL text has no dataset-id tags to disambiguate).
      // NULL level markers become '' — the engines disagree on default
      // null ordering.
      lake.customer
        .join(broadcast(lake.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(lake.region), col("n_regionkey") === col("r_regionkey"))
        .join(lake.orders, col("o_custkey") === col("c_custkey"))
        .select("r_name", "n_name", "o_totalprice")
        .createOrReplaceTempView("q47_rev_base")
      s.sql("""
        SELECT COALESCE(r_name, '') AS r_name, COALESCE(n_name, '') AS n_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM q47_rev_base
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name, n_name""")
    },
    Some("""
      SELECT COALESCE(r_name, '') AS r_name, COALESCE(n_name, '') AS n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN orders ON o_custkey = c_custkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY r_name, n_name""")
  )

  // ---------------------------------------------------------------- q48
  /** Exact quantiles (beyond the reference): per-priority order-value
    * median and quartiles. Spark's `percentile` and DuckDB's
    * `quantile_cont` share the same linear-interpolation definition and
    * produce bit-identical doubles (verified before this query was added);
    * the aggregation sorts within groups — at scale prefer
    * `approx_percentile` when a bounded error is acceptable, exact
    * percentile when the group fits an executor (true here: 5 groups). */
  private val q48 = Q(
    "q48_order_value_quantiles",
    (s, dir) =>
      Lake(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile(o_totalprice, 0.25)").as("p25"),
          expr("percentile(o_totalprice, 0.5)").as("median"),
          expr("percentile(o_totalprice, 0.75)").as("p75"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"),
    Some("""
      SELECT o_orderpriority,
        quantile_cont(o_totalprice, 0.25) AS p25,
        quantile_cont(o_totalprice, 0.5) AS median,
        quantile_cont(o_totalprice, 0.75) AS p75,
        COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  // ---------------------------------------------------------------- q26
  /** Sessionization via gap detection (lag window): a new session starts
    * after a 30-minute silence. One shuffle on user_id. */
  private val q26 = Q(
    "q26_user_sessions",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Lake(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(
          sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM (
        SELECT user_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
               THEN 1 ELSE 0 END AS new_session
        FROM events)
      GROUP BY user_id ORDER BY user_id""")
  )

  // ---------------------------------------------------------------- q52
  /** Suffix-disambiguated merge (J7) under the hash gate: both sides carry
    * a colliding non-key column (`value`), which `ops.Joins.mergeJoin`
    * suffixes to `value_x`/`value_y` — pandas `pd.merge` suffix semantics
    * (collision-only, keys exempt; reference pandasWrapper.py:20-28). The
    * oracle writes the aliases out explicitly, so the hash match proves
    * the rename rule produces exactly the pandas column contract. */
  private val q52 = Q(
    "q52_suffix_merge",
    (s, dir) => {
      val lake = Lake(s, dir)
      val left = lake.orders
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_totalprice").as("value"))
      val right = lake.customer
        .select(col("c_custkey").as("custkey"), col("c_name"),
          col("c_acctbal").as("value"))
      Joins.mergeJoin(left, right, Seq("custkey"), "inner")
        .select("custkey", "o_orderkey", "value_x", "value_y", "c_name")
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_custkey AS custkey, o_orderkey,
             o_totalprice AS value_x, c_acctbal AS value_y, c_name
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey % 100 = 0
      ORDER BY o_orderkey""")
  )

  // ---------------------------------------------------------------- q63
  /** AS-OF join (absent in the reference; a first-class temporal operator
    * here): every 50th event is a "status change" stream, and each other
    * event picks up its user's latest status at-or-before its timestamp.
    * The Spark side is the union-and-scan shape (ONE shuffle on the key,
    * O(1) window state — see Joins.asofJoin); the oracle is DuckDB's
    * native ASOF LEFT JOIN stating the same semantics declaratively, so
    * the hash gate proves the window formulation IS the as-of join. */
  private val q63 = Q(
    "q63_asof_join",
    (s, dir) => {
      val events = Lake(s, dir).events
      val changes = events.filter(col("event_id") % 50 === 0)
        .select(col("user_id"), col("ts"), col("value").as("status_value"))
      val facts = events.filter(col("event_id") % 50 =!= 0)
      Joins.asofJoin(facts, changes, Seq("user_id"), "ts", Seq("status_value"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("event_ts_us"),
          unix_micros(col("__matched_ts")).as("status_ts_us"),
          col("status_value"))
        .orderBy("event_id")
    },
    Some("""
      WITH r AS (SELECT user_id, ts, value AS status_value FROM events
                 WHERE event_id % 50 = 0),
           l AS (SELECT * FROM events WHERE event_id % 50 <> 0)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS event_ts_us,
             epoch_us(r.ts) AS status_ts_us, r.status_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY event_id""")
  )

  // --------------------------------------------------------------- q259
  /** FORWARD as-of join ([[graft.ops.Joins.asofJoinForward]]) — q63's
    * lookahead twin on the same change/fact split: each event picks up
    * the NEXT status change at or after it, the label-generation shape
    * ("what happened next") backward as-of cannot express. Same
    * union-and-scan plan mirrored to a first-over-following frame; the
    * oracle is DuckDB's native ASOF with the flipped bound. */
  private val q259 = Q(
    "q259_asof_forward",
    (s, dir) => {
      val events = Lake(s, dir).events
      val changes = events.filter(col("event_id") % 50 === 0)
        .select(col("user_id"), col("ts"), col("value").as("status_value"))
      val facts = events.filter(col("event_id") % 50 =!= 0)
      Joins.asofJoinForward(facts, changes, Seq("user_id"), "ts",
          Seq("status_value"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("event_ts_us"),
          unix_micros(col("__matched_ts")).as("status_ts_us"),
          col("status_value"))
        .orderBy("event_id")
    },
    Some("""
      WITH r AS (SELECT user_id, ts, value AS status_value FROM events
                 WHERE event_id % 50 = 0),
           l AS (SELECT * FROM events WHERE event_id % 50 <> 0)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS event_ts_us,
             epoch_us(r.ts) AS status_ts_us, r.status_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
      ORDER BY event_id""")
  )

  // --------------------------------------------------------------- q279
  /** Bounded-staleness as-of — q63 with a freshness SLA: a status match
    * older than one hour at event time is WORSE than no match (serving
    * year-old tier data as "current" is the classic as-of footgun), so
    * stale matches null out, exactly like rows before a key's first
    * change. The staleness test is exact micros arithmetic applied
    * AFTER the one-shuffle as-of scan — the plan is q63's plus one
    * projected conditional; no second pass, no join change. The oracle
    * applies the identical CASE over DuckDB's native ASOF. */
  private val q279 = Q(
    "q279_asof_bounded",
    (s, dir) => {
      val events = Lake(s, dir).events
      val changes = events.filter(col("event_id") % 50 === 0)
        .select(col("user_id"), col("ts"), col("value").as("status_value"))
      val facts = events.filter(col("event_id") % 50 =!= 0)
      val hourUs = 3600000000L
      val joined = Joins.asofJoin(facts, changes, Seq("user_id"), "ts",
        Seq("status_value"))
      val fresh = unix_micros(col("ts")) - unix_micros(col("__matched_ts")) <=
        hourUs
      joined.select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("event_ts_us"),
          when(fresh, unix_micros(col("__matched_ts"))).as("status_ts_us"),
          when(fresh, col("status_value")).as("status_value"))
        .orderBy("event_id")
    },
    Some("""
      WITH r AS (SELECT user_id, ts, value AS status_value FROM events
                 WHERE event_id % 50 = 0),
           l AS (SELECT * FROM events WHERE event_id % 50 <> 0)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS event_ts_us,
             CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
                  THEN epoch_us(r.ts) END AS status_ts_us,
             CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
                  THEN r.status_value END AS status_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY event_id""")
  )

  // --------------------------------------------------------------- q285
  /** Order lead time — days from order to FIRST shipment, the
    * operational latency metric, distributed per priority class in
    * exact-day buckets: one orderkey-join + min-agg (reusing the join
    * key as the aggregation key, so no second shuffle), then a
    * calendar-bounded histogram. datediff on DATE-truncated timestamps
    * is exact integer days on both engines. */
  private val q285 = Q(
    "q285_order_lead_time",
    (s, dir) => {
      val lake = Lake(s, dir)
      val firstShip = lake.lineitem
        .groupBy("l_orderkey")
        .agg(min(to_date(col("l_shipdate"))).as("first_ship"))
      lake.orders
        .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("first_ship"), to_date(col("o_orderdate")))
            .cast("long").as("lead_days"))
        .groupBy("o_orderpriority", "lead_days")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority", "lead_days")
    },
    Some("""
      WITH fs AS (SELECT l_orderkey,
              MIN(CAST(l_shipdate AS DATE)) AS first_ship
            FROM lineitem GROUP BY 1)
      SELECT o_orderpriority,
             CAST(date_diff('day', CAST(o_orderdate AS DATE), first_ship)
               AS BIGINT) AS lead_days,
             COUNT(*) AS n_orders
      FROM orders JOIN fs ON o_orderkey = l_orderkey
      GROUP BY 1, 2
      ORDER BY o_orderpriority, lead_days""")
  )

  // --------------------------------------------------------------- q287
  /** Supplier concentration per part (Herfindahl–Hirschman index) — is
    * a part single-sourced? HHI = Σ share², cleared of its divisions:
    * with per-supplier quantities q_i and total Q, hhi·Q² = Σ q_i² —
    * both exact longs — and the familiar 0–10000 scale is one double
    * expression at the end. The top-20 most-concentrated multi-supplier
    * parts surface procurement risk; single-supplier parts (HHI 10000
    * by definition) are excluded so the ranking is informative. */
  private val q287 = Q(
    "q287_supplier_hhi",
    (s, dir) => {
      val pair = Lake(s, dir).lineitem
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      pair.groupBy("l_partkey")
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum(col("q")).as("q_total"),
          sum(col("q") * col("q")).as("sum_q2"))
        .filter(col("n_suppliers") > 1)
        .withColumn("hhi",
          lit(10000.0) * col("sum_q2").cast("double") /
            (col("q_total") * col("q_total")).cast("double"))
        .orderBy(col("hhi").desc, col("l_partkey"))
        .limit(20)
    },
    Some("""
      WITH pair AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2),
      agg AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(q) AS BIGINT) AS q_total,
               CAST(SUM(q * q) AS BIGINT) AS sum_q2
        FROM pair GROUP BY 1)
      SELECT l_partkey, n_suppliers, q_total, sum_q2,
             10000.0 * CAST(sum_q2 AS DOUBLE)
               / CAST(q_total * q_total AS DOUBLE) AS hhi
      FROM agg
      WHERE n_suppliers > 1
      ORDER BY hhi DESC, l_partkey
      LIMIT 20""")
  )

  // --------------------------------------------------------------- q288
  /** Lorenz-curve deciles — q206's Gini unfolded into the points an
    * equity chart actually plots: customers ranked by revenue, cut into
    * ten explicit buckets (bucket = (rn−1)·10 div n — NOT ntile, whose
    * remainder placement is an engine convention this gate refuses to
    * depend on), each with its exact cent mass, the running cumulative,
    * and the cumulative share as one double division. "The top decile
    * holds X% of revenue" reads off row 9. */
  private val q288 = Q(
    "q288_lorenz_deciles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Lake(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val n = rev.agg(count(lit(1)).as("n"))
      // distributed global rank (Ranks: range partition + offsets); the
      // only remaining ordered window below is over the 10-row decile frame
      val ranked = Ranks
        .globalRowNumber(rev, Seq(col("cents"), col("o_custkey")), "rn")
        .crossJoin(broadcast(n))
        .withColumn("decile", expr("((rn - 1) * 10) div n"))
      val byDecile = ranked.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
      val tot = byDecile.agg(sum(col("cents")).as("total_cents"))
      byDecile
        .withColumn("cum_cents",
          sum(col("cents")).over(Window.orderBy("decile")))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_customers"), col("cents"),
          col("cum_cents"),
          (col("cum_cents").cast("double") / col("total_cents").cast("double"))
            .as("cum_share"))
        .orderBy("decile")
    },
    Some("""
      WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM rev),
      ranked AS (
        SELECT cents,
               ((row_number() OVER (ORDER BY cents, o_custkey) - 1) * 10)
                 // n AS decile
        FROM rev CROSS JOIN n),
      byDecile AS (
        SELECT decile, COUNT(*) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM ranked GROUP BY 1),
      tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM byDecile)
      SELECT decile, n_customers, cents,
             CAST(SUM(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents,
             CAST(SUM(cents) OVER (ORDER BY decile) AS DOUBLE)
               / CAST(total_cents AS DOUBLE) AS cum_share
      FROM byDecile CROSS JOIN tot
      ORDER BY decile""")
  )

  // ---------------------------------------------------------------- q64
  /** RANGE (interval) join: every 100th event opens a 30-minute window;
    * each event matches every window containing its timestamp. The Spark
    * side bin-buckets (Joins.rangeJoin) so the inequality join runs as an
    * EQUI-join on the time bucket + exact predicate — one data-sized
    * shuffle instead of a nested loop; the oracle states the plain
    * inequality join. */
  private val q64 = Q(
    "q64_range_join",
    (s, dir) => {
      val events = Lake(s, dir).events
      val windows = events.filter(col("event_id") % 100 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      Joins.rangeJoin(events, "ts", windows, "w_start", "w_end", binSeconds = 1800)
        .select(col("event_id"), col("window_id"),
          unix_micros(col("ts")).as("event_ts_us"))
        .orderBy("event_id", "window_id")
    },
    Some("""
      WITH w AS (SELECT event_id AS window_id, ts AS w_start,
                        ts + INTERVAL 30 MINUTE AS w_end
                 FROM events WHERE event_id % 100 = 0)
      SELECT e.event_id, w.window_id, epoch_us(e.ts) AS event_ts_us
      FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
      ORDER BY event_id, window_id""")
  )

  // ---------------------------------------------------------------- q78
  /** Incremental aggregate maintenance: the per-group stats state is a
    * commutative monoid (count/decimal-sum add, min/max lattice-join),
    * so merging yesterday's state with today's partial equals the full
    * recompute BITWISE — which is exactly what the oracle states (one
    * plain GROUP BY over the whole table). The engine side never
    * touches history: two partials (each O(its batch)) and a
    * state-sized merge (ops.Stats.partialStats/mergeStats). */
  private val q78 = Q(
    "q78_incremental_stats",
    (s, dir) => {
      import graft.ops.Stats
      val li = Lake(s, dir).lineitem
      val cutoff = "1997-01-01"
      val history = li.filter(col("l_shipdate") < cutoff)
      val batch = li.filter(col("l_shipdate") >= cutoff)
      val state = Stats.mergeStats(
        Seq(Stats.partialStats(history, Seq("l_returnflag"), "l_quantity"),
          Stats.partialStats(batch, Seq("l_returnflag"), "l_quantity")),
        Seq("l_returnflag"))
      Stats.finalizeStats(state)
        .select(col("l_returnflag"), col("cnt"), col("n_v"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v"), col("max_v"), col("avg_v"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(COUNT(l_quantity) AS BIGINT) AS n_v,
        CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sum_v,
        MIN(l_quantity) AS min_v,
        MAX(l_quantity) AS max_v,
        CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE)
          / COUNT(l_quantity) AS avg_v
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  // --------------------------------------------------------------- q191
  /** TPC-H Q4 shape — EXISTS as a left-semi join with a MIXED condition
    * (equi key + a non-equi lateness predicate): orders carrying at
    * least one line shipped > 60 days after the order date, counted per
    * priority. Catalyst plans the equi part as the join key and the
    * lateness as a join-time filter — no correlated per-row subquery
    * execution survives to the physical plan, which is the entire point
    * of expressing EXISTS relationally at 100 TB. */
  private val q191 = Q(
    "q191_late_order_priorities",
    (s, dir) => {
      val lk = Lake(s, dir)
      lk.orders
        .join(lk.lineitem,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("interval 60 days"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_orders
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  // --------------------------------------------------------------- q192
  /** TPC-H Q13 shape — customer order-count distribution including the
    * zero bucket: left outer join + two-level aggregation. The reference
    * has nothing like the "including absent" histogram; SQL's classic
    * trap (COUNT(*) vs COUNT(col) on an outer join) is exactly what the
    * hash gate pins. */
  private val q192 = Q(
    "q192_order_count_distribution",
    (s, dir) => {
      val lk = Lake(s, dir)
      lk.customer
        .join(lk.orders, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders")
    },
    Some("""
      SELECT n_orders, COUNT(*) AS n_customers
      FROM (SELECT c_custkey, COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey)
      GROUP BY n_orders ORDER BY n_orders""")
  )

  // --------------------------------------------------------------- q193
  /** TPC-H Q17 shape — the correlated-average filter: revenue from lines
    * whose quantity is under 20% of their PART's average quantity,
    * reported as avg yearly revenue. The correlation decorrelates into a
    * per-part aggregate joined back (AVG of integral quantities is an
    * exact-sum division — identical doubles both engines); the money sum
    * stays DECIMAL until one final division. */
  private val q193 = Q(
    "q193_small_quantity_revenue",
    (s, dir) => {
      val lk = Lake(s, dir)
      val lim = lk.lineitem.groupBy(col("l_partkey").as("pk"))
        .agg((lit(0.2d) * avg(col("l_quantity"))).as("lim"))
      lk.lineitem
        .join(lim, col("l_partkey") === col("pk") && col("l_quantity") < col("lim"))
        .agg((sum(col("l_extendedprice").cast("decimal(38,2)"))
          .cast("double") / 7.0d).as("avg_yearly"))
    },
    Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
               / 7.0 AS avg_yearly
      FROM lineitem
      JOIN (SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS lim
            FROM lineitem GROUP BY 1) t
        ON l_partkey = pk AND l_quantity < lim""")
  )

  // --------------------------------------------------------------- q194
  /** TPC-H Q18 shape — large-volume orders: HAVING on a grouped sum,
    * joined back to the order/customer detail. The join-back side is the
    * tiny filtered aggregate, broadcast by AQE against the fact. */
  private val q194 = Q(
    "q194_large_volume_orders",
    (s, dir) => {
      val lk = Lake(s, dir)
      val big = lk.lineitem.groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(38,2)")).cast("double")
          .as("sum_qty"))
        .filter(col("sum_qty") > 250.0d)
      lk.orders
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(lk.customer, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
    },
    Some("""
      SELECT c_name, o_orderkey, o_totalprice, sum_qty
      FROM orders
      JOIN (SELECT l_orderkey,
              CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
                AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
                   > 250.0) b
        ON o_orderkey = b.l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY sum_qty DESC, o_orderkey""")
  )

  // --------------------------------------------------------------- q195
  /** TPC-H Q21 shape — "the one supplier who held up the order":
    * multi-supplier orders where EXACTLY ONE supplier shipped late,
    * charged to that supplier. The classic EXISTS/NOT-EXISTS pair
    * decorrelates into per-order distinct counts + a conditional MIN —
    * one aggregate over the join instead of two correlated probes. */
  private val q195 = Q(
    "q195_blame_supplier",
    (s, dir) => {
      val lk = Lake(s, dir)
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("interval 60 days")
      val per = lk.lineitem
        .join(lk.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
          count_distinct(col("l_suppkey")).as("ns"),
          count_distinct(when(late, col("l_suppkey"))).as("nlate"),
          min(when(late, col("l_suppkey"))).as("late_supp"))
      per.filter(col("ns") >= 2 && col("nlate") === 1)
        .groupBy(col("late_supp").as("s_suppkey"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("s_suppkey"))
        .limit(20)
    },
    Some("""
      WITH per AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS ns,
               COUNT(DISTINCT CASE WHEN l_shipdate >
                 o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS nlate,
               MIN(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN l_suppkey END) AS late_supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey)
      SELECT late_supp AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM per WHERE ns >= 2 AND nlate = 1
      GROUP BY late_supp
      ORDER BY n_orders DESC, s_suppkey LIMIT 20""")
  )

  // --------------------------------------------------------------- q196
  /** TPC-H Q22 shape — scalar subquery + NOT EXISTS against a FILTERED
    * set: above-average-balance customers with no high-value order,
    * summarized per segment. The average is computed in exact cents
    * (AVG over raw doubles is fold-order-dependent and would break the
    * gate); the anti-join's right side is the filtered orders subset. */
  private val q196 = Q(
    "q196_rich_low_engagement",
    (s, dir) => {
      val lk = Lake(s, dir)
      val avgBal = lk.customer.filter(col("c_acctbal") > 0.0d)
        .agg((sum(round(col("c_acctbal") * 100.0d, 0).cast("long")
          .cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double") / 100.0d).as("a"))
      val rich = lk.customer.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("a"))
      rich
        .join(lk.orders.filter(col("o_totalprice") > 400000.0d)
          .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          (sum(round(col("c_acctbal") * 100.0d, 0).cast("long")
            .cast("decimal(38,0)")).cast("double") / 100.0d).as("total_bal"))
        .orderBy("c_mktsegment")
    },
    Some("""
      WITH a AS (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT))
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS a
                 FROM customer WHERE c_acctbal > 0.0)
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total_bal
      FROM customer, a
      WHERE c_acctbal > a.a
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_totalprice > 400000.0)
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  // --------------------------------------------------------------- q197
  /** TPC-H Q15 shape — argmax via scalar subquery: the top-revenue
    * supplier(s) for a shipping window, revenue in exact integer
    * ten-thousandths (cents × discount-hundredths) so the max and the
    * equality join cannot drift. */
  private val q197 = Q(
    "q197_top_supplier",
    (s, dir) => {
      val lk = Lake(s, dir)
      val rev = lk.lineitem
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg((sum((round(col("l_extendedprice") * 100.0d, 0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100.0d, 0).cast("long")))
          .cast("decimal(38,0)")).cast("double") / 10000.0d).as("revenue"))
      val best = rev.agg(max(col("revenue")).as("m"))
      rev.crossJoin(broadcast(best))
        .filter(col("revenue") === col("m"))
        .select(col("l_suppkey").as("s_suppkey"), col("revenue"))
        .orderBy("s_suppkey")
    },
    Some("""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) *
                 (100 - CAST(ROUND(l_discount * 100.0) AS BIGINT)))
                 AS DOUBLE) / 10000.0 AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1995-04-01'
        GROUP BY l_suppkey)
      SELECT l_suppkey AS s_suppkey, revenue
      FROM rev WHERE revenue = (SELECT MAX(revenue) FROM rev)
      ORDER BY s_suppkey""")
  )

  // --------------------------------------------------------------- q212
  /** TPC-H Q7 shape — cross-border shipping volume: a FIVE-way join
    * (lineitem→orders→customer→nation, lineitem→supplier→nation)
    * aggregated per (supplier nation, customer nation) pair, domestic
    * traffic excluded. The two nation dims broadcast; revenue is the
    * exact integer cents×(100−disc) sum divided once. */
  private val q212 = Q(
    "q212_cross_border_volume",
    (s, dir) => {
      val lk = Lake(s, dir)
      val sn = lk.nation.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val cn = lk.nation.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      lk.lineitem
        .join(lk.orders, col("l_orderkey") === col("o_orderkey"))
        .join(lk.customer, col("o_custkey") === col("c_custkey"))
        .join(lk.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
        .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
          count(lit(1)).as("n_lines"),
          (sum((round(col("l_extendedprice") * 100.0d, 0).cast("long") *
            (lit(100L) - round(col("l_discount") * 100.0d, 0).cast("long")))
            .cast("decimal(38,0)")).cast("double") / 10000.0d).as("revenue"))
        .orderBy("supp_nation", "cust_nation")
    },
    Some("""
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) *
               (100 - CAST(ROUND(l_discount * 100.0) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY sn.n_name, cn.n_name
      ORDER BY supp_nation, cust_nation""")
  )

  // --------------------------------------------------------------- q213
  /** TPC-H Q11 shape — suppliers carrying an outsized value share:
    * per-supplier revenue HAVING > 1.02% of the GLOBAL total (a scalar
    * subquery both engines fold to one broadcast row). Exact integer
    * revenue on both sides of the comparison. */
  private val q213 = Q(
    "q213_outsized_suppliers",
    (s, dir) => {
      val lk = Lake(s, dir)
      val revExpr = sum((round(col("l_extendedprice") * 100.0d, 0)
        .cast("long") *
        (lit(100L) - round(col("l_discount") * 100.0d, 0).cast("long")))
        .cast("decimal(38,0)"))
      val per = lk.lineitem.groupBy("l_suppkey")
        .agg(revExpr.as("__cents"))
      val tot = lk.lineitem.agg(revExpr.as("__total"))
      per.crossJoin(broadcast(tot))
        .filter(col("__cents").cast("double") >
          col("__total").cast("double") * 0.0102d)
        .select(col("l_suppkey").as("s_suppkey"),
          (col("__cents").cast("double") / 10000.0d).as("revenue"),
          (col("__cents").cast("double") / col("__total").cast("double"))
            .as("share"))
        .orderBy("s_suppkey")
    },
    Some("""
      WITH per AS (SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) *
                 (100 - CAST(ROUND(l_discount * 100.0) AS BIGINT)))
                 AS BIGINT) AS cents
             FROM lineitem GROUP BY l_suppkey),
      tot AS (SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100.0) AS BIGINT)))
                AS BIGINT) AS total
              FROM lineitem)
      SELECT l_suppkey AS s_suppkey,
             CAST(cents AS DOUBLE) / 10000.0 AS revenue,
             CAST(cents AS DOUBLE) / CAST(total AS DOUBLE) AS share
      FROM per CROSS JOIN tot
      WHERE CAST(cents AS DOUBLE) > CAST(total AS DOUBLE) * 0.0102
      ORDER BY s_suppkey""")
  )

  // --------------------------------------------------------------- q214
  /** TPC-H Q8 shape — market share over time: each supplier nation's
    * share of total revenue per ship quarter, the window-over-aggregate
    * composition (quarter totals as a window sum over the grouped
    * frame — no second scan). */
  private val q214 = Q(
    "q214_nation_market_share",
    (s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val lk = Lake(s, dir)
      val sn = lk.nation.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      lk.lineitem
        .join(lk.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
        .groupBy(col("supp_nation"),
          concat(year(col("l_shipdate")), lit("Q"),
            quarter(col("l_shipdate"))).as("ship_quarter"))
        .agg(sum((round(col("l_extendedprice") * 100.0d, 0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100.0d, 0).cast("long")))
          .cast("decimal(38,0)")).as("__cents"))
        .withColumn("revenue", col("__cents").cast("double") / 10000.0d)
        .withColumn("share",
          col("__cents").cast("double") /
            sum(col("__cents")).over(W.partitionBy("ship_quarter"))
              .cast("double"))
        .select("ship_quarter", "supp_nation", "revenue", "share")
        .orderBy("ship_quarter", "supp_nation")
    },
    Some("""
      WITH g AS (SELECT sn.n_name AS supp_nation,
               CAST(year(l_shipdate) AS VARCHAR) || 'Q' ||
                 CAST(quarter(l_shipdate) AS VARCHAR) AS ship_quarter,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) *
                 (100 - CAST(ROUND(l_discount * 100.0) AS BIGINT)))
                 AS BIGINT) AS cents
             FROM lineitem
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation sn ON s_nationkey = sn.n_nationkey
             GROUP BY 1, 2)
      SELECT ship_quarter, supp_nation,
             CAST(cents AS DOUBLE) / 10000.0 AS revenue,
             CAST(cents AS DOUBLE) /
               CAST(SUM(cents) OVER (PARTITION BY ship_quarter) AS DOUBLE)
               AS share
      FROM g ORDER BY ship_quarter, supp_nation""")
  )

  // --------------------------------------------------------------- q203
  /** Typed Aggregator under the hash gate ([[graft.ops.TypedAggs
    * .WeightedMeanCents]]): per-priority mean order value WEIGHTED by
    * line count, computed through `groupByKey(...).agg(agg.toColumn)` —
    * the Dataset custom-aggregate tier. Buffers are integer (cents ×
    * weight) sums with one division in finish, so the typed path is as
    * gate-exact as the untyped library; the oracle states ΣvW/Σw/100
    * directly. */
  private val q203 = Q(
    "q203_typed_weighted_mean",
    (s, dir) => {
      import s.implicits._
      val lk = Lake(s, dir)
      val weights = lk.lineitem.groupBy("l_orderkey")
        .agg(count(lit(1)).as("w"))
      val rows = lk.orders
        .join(weights, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100.0d, 0).cast("long").as("cents"),
          col("w"))
        .as[(String, Long, Long)]
      val agg = new graft.ops.TypedAggs.WeightedMeanCents
      rows.groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(agg.toColumn.name("weighted_mean"))
        .toDF("o_orderpriority", "weighted_mean")
        .orderBy("o_orderpriority")
    },
    Some("""
      WITH w AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS w
                 FROM lineitem GROUP BY 1)
      SELECT o_orderpriority,
             CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) * w)
               AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100.0
               AS weighted_mean
      FROM orders JOIN w ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  // --------------------------------------------------------------- q201
  /** Top-k per group under the hash gate: the 3 priciest parts per brand
    * (row_number with a unique tiebreak). The rank<=k filter compiles to
    * WindowGroupLimit — per-group top-k heaps INSIDE the window
    * operator, no group ever fully sorts (PlanSpec asserts the operator
    * on this exact shape); the gate pins the semantics the plan
    * optimization must preserve. */
  private val q201 = Q(
    "q201_top_parts_per_brand",
    (s, dir) => {
      val w = Window.partitionBy("p_brand")
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Lake(s, dir).part
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("p_brand", "rank", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_brand", "rank")
    },
    Some("""
      SELECT p_brand, CAST(rank AS BIGINT) AS rank, p_partkey, p_name,
             p_retailprice
      FROM (SELECT p_brand, p_partkey, p_name, p_retailprice,
              row_number() OVER (PARTITION BY p_brand
                ORDER BY p_retailprice DESC, p_partkey) AS rank
            FROM part)
      WHERE rank <= 3 ORDER BY p_brand, rank""")
  )

  // --------------------------------------------------------------- q202
  /** UNPIVOT / melt — the pandas wide→long reshape the §2 inventory's
    * pivot family lacked a reverse for: the q12-style per-user event
    * crosstab melted back to (user, event_type, n) long form, zero
    * cells dropped (include-nulls form would keep them; this gate uses
    * the default drop-none because counts are never null). Pivot ∘
    * unpivot = identity is the real contract: the melted frame must
    * hash-equal the plain GROUP BY it round-trips to. */
  private val q202 = Q(
    "q202_unpivot_events",
    (s, dir) => {
      val wide = Lake(s, dir).events
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("view"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchase"))
      wide.unpivot(
          Array(col("user_id")),
          Array(col("click"), col("view"), col("purchase")),
          "event_type", "n")
        .filter(col("n") > 0)
        .orderBy("user_id", "event_type")
    },
    Some("""
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase')
      GROUP BY user_id, event_type
      HAVING COUNT(*) > 0
      ORDER BY user_id, event_type""")
  )

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13,
    q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26,
    q46, q47, q48, q52, q63, q64, q78, q191, q192, q193, q194, q195,
    q196, q197, q201, q202, q203, q212, q213, q214, q259, q279, q285, q287, q288)
}
