package graft
package queries

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Common._

/** Relational core over the TPC-H tables (scan, filter, aggregate, join,
  * sort, limit; SURVEY §2.1-2.5/2.9), and the relational operators —
  * pivot, rollup, set operations, layout and skew advice — over the
  * events and documents tables.
  */
object RelationalQueries {

  /** Decimal-exact revenue term shared by the relational queries. */
  private def revenueSum: Column =
    sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).cast("double")
  private val RevenueSumSql =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  val entries: Seq[Entry] = Seq(
    Query("q01_pricing_summary", (s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1999-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          revenueSum.as("sum_disc_price"),
          (sum(dec("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  $RevenueSumSql AS sum_disc_price,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-09-01'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q02_filter_pushdown", (s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_quantity") < 25 &&
          col("l_discount").between(0.02, 0.06))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("shipdate"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  strftime(l_shipdate, '%Y-%m-%d') AS shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_quantity < 25 AND l_discount BETWEEN 0.02 AND 0.06
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q03_top_revenue_orders", (s, dir) => {
      Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < lit("1998-01-01"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > lit("1997-01-01"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(revenueSum.as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },
      s"""SELECT l_orderkey, $RevenueSumSql AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1997-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    Query("q04_broadcast_dim_join", (s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec("l_extendedprice")).cast("double").as("sum_price"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy("p_brand", "p_type")
    },
      """SELECT p_brand, p_type, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  max(l_quantity) AS max_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand, p_type ORDER BY p_brand, p_type""".stripMargin),
    Query("q05_region_volume", (s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(revenueSum.as("revenue"), count(lit(1)).as("n_lineitems"))
        .orderBy("r_name", "n_name")
    },
      s"""SELECT r_name, n_name, $RevenueSumSql AS revenue, count(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    Query("q06_first_match_dedup", (s, dir) => {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_partkey"))
      Tables.part(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("p_brand"), col("p_partkey"), col("p_name"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, p_partkey, p_name FROM (
        |  SELECT p_brand, p_partkey, p_name,
        |         row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn
        |  FROM part) t
        |WHERE rn = 1 ORDER BY p_brand""".stripMargin),
    Query("q07_percentiles", (s, dir) => {
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(
          round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
          round(expr("percentile(c_acctbal, 0.95)"), 4).as("p95"),
          round(expr("percentile(c_acctbal, 0.99)"), 4).as("p99"),
          max(col("c_acctbal")).as("max_bal"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment,
        |  round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
        |  round(quantile_cont(c_acctbal, 0.95), 4) AS p95,
        |  round(quantile_cont(c_acctbal, 0.99), 4) AS p99,
        |  max(c_acctbal) AS max_bal, count(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q08_no_order_customers", (s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Query("q29_pivot", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivot counts: a bare na.fill(0) would also rewrite
        // a NULL user_id to 0, colliding with the genuine user 0
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .select(col("user_id"), col("click").as("n_click"), col("error").as("n_error"),
          col("purchase").as("n_purchase"), col("signup").as("n_signup"),
          col("view").as("n_view"))
        .orderBy(col("user_id").asc_nulls_last)
    },
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(*) FILTER (event_type = 'error') AS n_error,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (event_type = 'signup') AS n_signup,
        |  count(*) FILTER (event_type = 'view') AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q25_set_ops", (s, dir) => {
      // EXCEPT/INTERSECT surface: customers with orders vs customers with
      // high-value orders
      val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")).distinct()
      val highValue = Tables.orders(s, dir).where(col("o_totalprice") > 200000.0)
        .select(col("o_custkey").as("c_custkey")).distinct()
      withOrders.except(highValue)
        .join(Tables.customer(s, dir), "c_custkey")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
      """SELECT c.c_custkey, c.c_name
        |FROM ((SELECT DISTINCT o_custkey AS c_custkey FROM orders)
        |      EXCEPT
        |      (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000.0)) t
        |JOIN customer c USING (c_custkey)
        |ORDER BY c.c_custkey""".stripMargin),
    Query("q26_ranking", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .where(col("rnk") <= 5)
        .select(col("o_orderpriority"), col("rnk"), col("drnk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderpriority", "rnk", "o_orderkey")
    },
      """SELECT o_orderpriority, rnk, drnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         CAST(rank() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
        |         CAST(dense_rank() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS drnk
        |  FROM orders) t
        |WHERE rnk <= 5 ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin),
    Query("q27_rollup", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec("l_quantity")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q49_salted_agg", (s, dir) => {
      // two-phase salted aggregation on a 5-key (inherently hot-keyed)
      // groupBy: same answer as the plain aggregate, but every hot key is
      // spread over 32 sub-partitions in the first shuffle (Skew.scala)
      Skew.saltedAgg(
        ticks(s, dir).select(col("event_type").as("symbol"), col("value")),
        Seq("symbol"), salts = 32)(Seq(
        ("n_events", count(lit(1)), c => sum(col(c))),
        ("total_value", sum(dec("value")), c => sum(col(c)))))
        .select(col("symbol"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("symbol")
    },
      s"""SELECT event_type AS symbol, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE $TickWhere
        |GROUP BY event_type ORDER BY symbol""".stripMargin),
    // o_totalprice profiled as DECIMAL(12,2): double min/max rendered as
    // strings would hang on shortest-round-trip formatting agreement
    // between engines; decimals render identically by construction
    Query("q75_profile", (s, dir) =>
      Profile.profile(
        Tables.orders(s, dir)
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")).orderBy("col_name"),
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                  CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
        |                  o_orderdate, o_orderpriority FROM orders)
        |SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |       CAST(min(o_custkey) AS VARCHAR) AS min_val,
        |       CAST(max(o_custkey) AS VARCHAR) AS max_val FROM o
        |UNION ALL
        |SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |       CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |       CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM o
        |ORDER BY col_name""".stripMargin),
    // ROLLUP over (source, lang) — the dataset-card composition table at
    // every aggregation level in ONE pass (partial aggs expand the
    // grouping sets map-side; no re-scan per level); grouping_id
    // disambiguates rolled-up NULLs from data NULLs
    Query("q144_rollup_composition", (s, dir) =>
      Tables.documents(s, dir)
        .rollup(col("source"), col("lang"))
        .agg(grouping_id().as("lvl"), count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .select(coalesce(col("source"), lit("<all>")).as("source"),
          coalesce(col("lang"), lit("<all>")).as("lang"),
          col("lvl").cast("long").as("lvl"), col("n_docs"), col("sum_chars"))
        .orderBy("lvl", "source", "lang"),
      // ROLLUP at every level in one pass; GROUPING() bitmask = Spark's
      // grouping_id() for the same column order
      """SELECT coalesce(source, '<all>') AS source,
        |       coalesce(lang, '<all>') AS lang,
        |       CAST(GROUPING(source, lang) AS BIGINT) AS lvl,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY 3, 1, 2""".stripMargin),
    // semi-structured props: JSON field extraction (codegen'd path
    // expression, null on missing/malformed) + per-type stats in one
    // hash agg
    Query("q147_json_props", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum(col("k")).as("sum_k"), countDistinct(col("k")).as("distinct_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type").asc_nulls_last),
      // JSON path extraction with null-on-missing semantics on both
      // engines (get_json_object ↔ json_extract_string + TRY_CAST)
      """WITH e AS (SELECT event_type,
        |                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |           FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(k) AS BIGINT) AS n_k,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       CAST(count(DISTINCT k) AS BIGINT) AS distinct_k,
        |       CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
    // Morton layout audit on the (length, token) bucket grid: each
    // 16-key z-range must cover a small rectangle — the min/max extents
    // ARE the file-skipping zones a z-sorted layout buys
    Query("q153_zorder_layout", (s, dir) =>
      Layout.zOrderLayoutReport(Tables.documents(s, dir)).orderBy("z_range"),
      // bits=4 Morton interleave as plain integer arithmetic — the
      // engine's shift/or chain replayed as masked multiplies
      """WITH b AS (SELECT least(length(text) // 64, 15) AS a,
        |                  least(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                    x -> x <> '')) // 16, 15) AS t
        |           FROM documents),
        |z AS (SELECT a AS len_b, t AS tok_b,
        |             ((a >> 0) & 1) * 1 + ((t >> 0) & 1) * 2 +
        |             ((a >> 1) & 1) * 4 + ((t >> 1) & 1) * 8 +
        |             ((a >> 2) & 1) * 16 + ((t >> 2) & 1) * 32 +
        |             ((a >> 3) & 1) * 64 + ((t >> 3) & 1) * 128 AS zv
        |      FROM b)
        |SELECT CAST(zv // 16 AS BIGINT) AS z_range,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(len_b) AS BIGINT) AS min_len_b,
        |       CAST(max(len_b) AS BIGINT) AS max_len_b,
        |       CAST(min(tok_b) AS BIGINT) AS min_tok_b,
        |       CAST(max(tok_b) AS BIGINT) AS max_tok_b
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),
    // relational pivot with an explicit value list (deterministic
    // schema): the (source × lang) doc-count matrix as wide columns,
    // empty cells coalesced to 0
    Query("q155_pivot_langs", (s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .select(col("source") +:
          langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
        .orderBy(col("source").asc_nulls_last)
    },
      // the pivot value list is explicit on both engines — CASE sums give
      // the same 0-filled wide matrix
      """SELECT source,
        |       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // unpivot (stack) melts the q155 wide matrix back to long — the
    // oracle is the round-trip identity: pivot ∘ unpivot = groupBy
    Query("q171_unpivot", (s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .select(col("source") +:
          langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
        .select(col("source"), expr(
          "stack(5, 'de', de, 'en', en, 'es', es, 'fr', fr, 'zh', zh) AS (lang, n_docs)"))
        .where(col("n_docs") > 0)
        .orderBy(col("source").asc_nulls_last, col("lang"))
    },
      // pivot ∘ unpivot must equal the plain long-form group-by
      // lang IS NOT NULL: the engine pivots over the explicit language
      // list, so a null lang can never round-trip through pivot∘unpivot
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents WHERE lang IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // deterministic bloom pre-filter audited against the exact
    // semi-join: keep/false-positive rates for the (m, k) design point
    Query("q203_bloom_prefilter", (s, dir) =>
      Bloom.prefilterAudit(
        Tables.orders(s, dir).where(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 200000),
        "o_orderkey", Tables.lineitem(s, dir), "l_orderkey"),
      // identical salted-md5 slot arithmetic: slot_i = low-32("i:key") % m
      """WITH bk AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |            WHERE o_orderstatus = 'F' AND o_totalprice > 200000),
        |bits AS (SELECT DISTINCT
        |           ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 65536 AS slot
        |         FROM (SELECT k, unnest([0, 1, 2]) AS i FROM bk)),
        |pk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
        |       WHERE l_orderkey IS NOT NULL),
        |ps AS (SELECT k,
        |              ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 65536 AS slot
        |       FROM (SELECT k, unnest([0, 1, 2]) AS i FROM pk)),
        |pass AS (SELECT k FROM ps JOIN bits USING (slot)
        |         GROUP BY k HAVING count(*) = 3),
        |c AS (SELECT (SELECT count(*) FROM bk) AS n_build_keys,
        |             (SELECT count(*) FROM bits) AS n_slots_set,
        |             (SELECT count(*) FROM pk) AS n_probe_keys,
        |             (SELECT count(*) FROM pass) AS n_pass,
        |             (SELECT count(*) FROM pk WHERE k IN (SELECT k FROM bk)) AS n_true)
        |SELECT CAST(n_build_keys AS BIGINT) AS n_build_keys,
        |       CAST(n_slots_set AS BIGINT) AS n_slots_set,
        |       CAST(n_probe_keys AS BIGINT) AS n_probe_keys,
        |       CAST(n_pass AS BIGINT) AS n_pass,
        |       CAST(n_true AS BIGINT) AS n_true,
        |       CAST(n_pass - n_true AS BIGINT) AS n_false_pos,
        |       CAST(((n_pass - n_true) * 10000) // n_probe_keys AS BIGINT) AS fp_bp,
        |       CAST((n_pass * 10000) // n_probe_keys AS BIGINT) AS pass_bp
        |FROM c""".stripMargin),
    // full CUBE over (priority × status) with grouping_id parity —
    // completes the rollup (q144) grouping-set family
    Query("q214_cube_orders", (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping_id().as("lvl"), count(lit(1)).as("n_orders"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"))
        .select(coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          col("lvl").cast("long").as("lvl"), col("n_orders"), col("sum_price"))
        .orderBy("lvl", "priority", "status"),
      // GROUP BY CUBE with GROUPING() parity (the q144 convention)
      """SELECT coalesce(o_orderpriority, '<all>') AS priority,
        |       coalesce(o_orderstatus, '<all>') AS status,
        |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS lvl,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY 3, 1, 2""".stripMargin),
    // percent_rank / cume_dist / ntile parity under a pinned total
    // order (acctbal, custkey) — ntile is order-dependent, so the tie
    // break is part of the contract
    Query("q215_rank_distributions", (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
    },
      // identical pinned ordering; 6dp rounding on the rank ratios
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd,
        |       CAST(ntile(4) OVER w AS BIGINT) AS tile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin),
    // market-basket: top-20 co-occurring brand pairs per order — the
    // pair join keys on the BASKET, so a ubiquitous brand never squares
    Query("q216_basket_pairs", (s, dir) =>
      Basket.frequentPairs(
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand")),
        "l_orderkey", "p_brand").orderBy("rank"),
      // distinct (basket, item) first; pairs keyed on the basket
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
        |            FROM lineitem JOIN part ON p_partkey = l_partkey),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
        |p AS (SELECT x.i AS item_a, y.i AS item_b,
        |             CAST(count(*) AS BIGINT) AS n_baskets
        |      FROM bi x JOIN bi y ON y.b = x.b AND x.i < y.i
        |      GROUP BY 1, 2),
        |r AS (SELECT item_a, item_b, n_baskets,
        |             CAST((n_baskets * 10000) // nb.n AS BIGINT) AS support_bp,
        |             CAST(row_number() OVER (ORDER BY n_baskets DESC,
        |               item_a ASC, item_b ASC) AS BIGINT) AS rank
        |      FROM p CROSS JOIN nb)
        |SELECT rank, item_a, item_b, n_baskets, support_bp
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // degree-oriented triangle counting on the brand co-occurrence graph
    // (edges ≥ 230bp of baskets) — one wedge per triangle by construction
    Query("q219_triangles", (s, dir) =>
      Basket.triangles(
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand")),
        "l_orderkey", "p_brand"),
      // independent triangle formulation: a<b<c three-way edge join (the
      // engine's degree orientation must reproduce the naive closure)
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS it
        |            FROM lineitem JOIN part ON p_partkey = l_partkey),
        |nb AS (SELECT count(DISTINCT bk) AS n FROM bi),
        |e AS (SELECT x.it AS ea, y.it AS eb
        |      FROM bi x JOIN bi y ON y.bk = x.bk AND x.it < y.it
        |      CROSS JOIN nb
        |      GROUP BY 1, 2, nb.n
        |      HAVING (count(*) * 10000) // nb.n >= 230),
        |t AS (SELECT e1.ea AS a, e1.eb AS b, e2.eb AS c
        |      FROM e e1 JOIN e e2 ON e2.ea = e1.eb
        |      JOIN e e3 ON e3.ea = e1.ea AND e3.eb = e2.eb),
        |nodes AS (SELECT unnest([a, b, c]) AS item FROM t)
        |SELECT item, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY 1 ORDER BY 1""".stripMargin),
    // bucketing-DDL advisor: hottest-bucket share per candidate shuffle
    // key over 64 portable md5 hash buckets
    Query("q243_partition_skew", (s, dir) =>
      Layout.partitionSkew(Tables.events(s, dir), Seq(
        "event_id" -> Seq("event_id"),
        "event_type" -> Seq("event_type"),
        "user_id" -> Seq("user_id"),
        "user_type" -> Seq("user_id", "event_type"))),
      // md5-low-32 mod 64 buckets, null sentinel + chr(1) separator match
      // the engine's concat exactly; skew = max/ideal in HALF_UP bp
      """WITH kb AS (
        |  SELECT 'event_id' AS key_name,
        |         ('0x' || substr(md5(coalesce(CAST(event_id AS VARCHAR), '∅')), 1, 8))::BIGINT % 64 AS bucket
        |  FROM events
        |  UNION ALL
        |  SELECT 'event_type',
        |         ('0x' || substr(md5(coalesce(event_type, '∅')), 1, 8))::BIGINT % 64
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id',
        |         ('0x' || substr(md5(coalesce(CAST(user_id AS VARCHAR), '∅')), 1, 8))::BIGINT % 64
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_type',
        |         ('0x' || substr(md5(concat_ws(chr(1),
        |            coalesce(CAST(user_id AS VARCHAR), '∅'),
        |            coalesce(event_type, '∅'))), 1, 8))::BIGINT % 64
        |  FROM events),
        |b AS (SELECT key_name, bucket, CAST(count(*) AS BIGINT) AS n
        |      FROM kb GROUP BY 1, 2)
        |SELECT key_name, CAST(sum(n) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_buckets_hit,
        |       CAST(max(n) AS BIGINT) AS max_bucket_rows,
        |       CAST(floor(max(n) * 64 * 10000.0 / sum(n) + 0.5) AS BIGINT) AS skew_x_bp
        |FROM b GROUP BY 1 ORDER BY key_name""".stripMargin),
    // natural-key duplicate audit: full-row dups ignoring the surrogate
    // id — the ingestion double-write check at row granularity. The
    // corpus has no natural full-row dups, so every event_id%37==0 row
    // is re-ingested under a shifted id (the q145/q151 planted-twin
    // convention) and the audit must recover exactly those
    Query("q272_duplicate_rows", (s, dir) => {
      val ev = Tables.events(s, dir)
      val doubled = ev.unionByName(
        ev.where(pmod(col("event_id"), lit(37)) === 0)
          .withColumn("event_id", col("event_id") + 7000000000L))
      doubled
        .groupBy(col("user_id"), col("ts"), col("event_type"),
          round(col("value"), 4).as("value"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("event_id")).as("first_id"))
        .where(col("n_copies") > 1)
        .orderBy(col("user_id").asc_nulls_last, col("ts").asc_nulls_last, col("event_type").asc_nulls_last)
    },
      // planted %37 re-ingestion twins; natural keys group both copies
      """WITH doubled AS (
        |  SELECT * FROM events
        |  UNION ALL
        |  SELECT event_id + 7000000000, ts, user_id, event_type, value, props
        |  FROM events WHERE event_id % 37 = 0),
        |g AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |             round(value, 4) AS value,
        |             CAST(count(*) AS BIGINT) AS n_copies,
        |             CAST(min(event_id) AS BIGINT) AS first_id
        |      FROM doubled GROUP BY 1, 2, 3, 4)
        |SELECT * FROM g WHERE n_copies > 1
        |ORDER BY user_id, ts, event_type""".stripMargin),
    // running supply: per-brand daily shipped quantity cumsum over the
    // bounded (brand × shipdate) grid; part side broadcasts
    Query("q270_cumulative_shipments", (s, dir) => {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("d"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_shipdate").as("d"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
        .withColumn("cum_qty", sum(col("qty")).over(w))
        .orderBy("p_brand", "d")
    },
      // day-grid cumsum per brand
      """WITH g AS (SELECT p.p_brand, l.l_shipdate AS d,
        |                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |           GROUP BY 1, 2)
        |SELECT p_brand, d, qty,
        |       CAST(sum(qty) OVER (PARTITION BY p_brand ORDER BY d) AS BIGINT)
        |         AS cum_qty
        |FROM g ORDER BY p_brand, d""".stripMargin),
    // multiset INTERSECT ALL / EXCEPT ALL semantics pinned: min(ma,mb)
    // and max(0, ma−mb) multiplicities between two quantity bags
    Query("q263_bag_setops", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val a = li.where(pmod(col("l_suppkey"), lit(2)) === 0)
        .select(col("l_quantity").cast("long").as("qty"))
      val b = li.where(pmod(col("l_suppkey"), lit(2)) === 1)
        .select(col("l_quantity").cast("long").as("qty"))
      val inter = a.intersectAll(b).groupBy(col("qty"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val exc = a.exceptAll(b).groupBy(col("qty"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      inter.unionByName(exc).select("op", "qty", "n").orderBy("op", "qty")
    },
      // standard-SQL bag semantics on both engines
      """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |           WHERE l_suppkey % 2 = 0),
        |b AS (SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |      WHERE l_suppkey % 2 = 1),
        |i AS (SELECT 'intersect_all' AS op, qty FROM
        |        (SELECT qty FROM a INTERSECT ALL SELECT qty FROM b) t),
        |e AS (SELECT 'except_all' AS op, qty FROM
        |        (SELECT qty FROM a EXCEPT ALL SELECT qty FROM b) t),
        |u AS (SELECT * FROM i UNION ALL SELECT * FROM e)
        |SELECT op, qty, CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // pre-join salt sizing: heavy keys (share > 1/32) + exact ceil
    // salt factor; event_type is the deliberately skewed probe
    Query("q256_salt_advisor", (s, dir) =>
      Skew.saltAdvisor(Tables.events(s, dir), "event_type", parts = 32),
      // heavy = share > 1/32; salt = exact ceil(c·32/n)
      """WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |                  CAST(count(*) AS BIGINT) AS n_rows
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n FROM c)
        |SELECT key, n_rows,
        |       CAST(floor(n_rows * 10000.0 / n + 0.5) AS BIGINT) AS share_bp,
        |       CAST((n_rows * 32 + n - 1) // n AS BIGINT) AS salt_factor
        |FROM c CROSS JOIN t WHERE n_rows * 32 > n ORDER BY key""".stripMargin),
    // explicit GROUPING SETS ((status), (priority)) — the two
    // one-dimension marginals in one pass, grouping_id parity
    Query("q249_grouping_sets", (s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("lvl"),
          count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("revenue_cents"))
        .select(coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("lvl"), col("n_orders"), col("revenue_cents"))
        .orderBy("lvl", "status", "priority"),
      // GROUPING(a,b) bit convention matches Spark grouping_id (q144)
      """SELECT coalesce(o_orderstatus, '<all>') AS status,
        |       coalesce(o_orderpriority, '<all>') AS priority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS lvl,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY 3, 1, 2""".stripMargin),
    // referential-integrity census over the relational core: per FK,
    // row count + anti-join orphan count
    Query("q196_fk_integrity", (s, dir) => {
      def fk(name: String, child: DataFrame, ck: String, parent: DataFrame,
             pk: String) = {
        val n = child.count()
        val orphans = child.select(col(ck))
          .join(parent.select(col(pk).as(ck)), Seq(ck), "left_anti").count()
        Seq((name, n, orphans))
      }
      val rows =
        fk("orders.custkey", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey") ++
        fk("lineitem.orderkey", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey") ++
        fk("customer.nationkey", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey") ++
        fk("supplier.nationkey", Tables.supplier(s, dir), "s_nationkey",
          Tables.nation(s, dir), "n_nationkey") ++
        fk("nation.regionkey", Tables.nation(s, dir), "n_regionkey",
          Tables.region(s, dir), "r_regionkey")
      import s.implicits._
      rows.toDF("fk", "n_rows", "n_orphans").orderBy("fk")
    },
      // per-FK row count + left-anti orphan count
      """SELECT 'customer.nationkey' AS fk,
        |       CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
        |       CAST((SELECT count(*) FROM customer c LEFT JOIN nation n
        |             ON n.n_nationkey = c.c_nationkey
        |             WHERE n.n_nationkey IS NULL) AS BIGINT) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem.orderkey',
        |       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |       CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |             ON o.o_orderkey = l.l_orderkey
        |             WHERE o.o_orderkey IS NULL) AS BIGINT)
        |UNION ALL
        |SELECT 'nation.regionkey',
        |       CAST((SELECT count(*) FROM nation) AS BIGINT),
        |       CAST((SELECT count(*) FROM nation n LEFT JOIN region r
        |             ON r.r_regionkey = n.n_regionkey
        |             WHERE r.r_regionkey IS NULL) AS BIGINT)
        |UNION ALL
        |SELECT 'orders.custkey',
        |       CAST((SELECT count(*) FROM orders) AS BIGINT),
        |       CAST((SELECT count(*) FROM orders o LEFT JOIN customer c
        |             ON c.c_custkey = o.o_custkey
        |             WHERE c.c_custkey IS NULL) AS BIGINT)
        |UNION ALL
        |SELECT 'supplier.nationkey',
        |       CAST((SELECT count(*) FROM supplier) AS BIGINT),
        |       CAST((SELECT count(*) FROM supplier s LEFT JOIN nation n
        |             ON n.n_nationkey = s.s_nationkey
        |             WHERE n.n_nationkey IS NULL) AS BIGINT)
        |ORDER BY fk""".stripMargin),
    // measured "ORDER BY which column" layout advice: per candidate
    // key, the mean normalized probe-span of its 16 counting zones —
    // the share of files a range predicate would FAIL to skip
    Query("q193_sortkey_advisor", (s, dir) =>
      Layout.sortKeyAdvisor(Tables.documents(s, dir),
        candidates = Seq("n_chars" -> "n_chars", "doc_id" -> "doc_id"),
        probeCol = "n_chars").orderBy("sort_key"),
      // the quantileBuckets cut arithmetic per candidate key, zone
      // min/max of the probe, floor-bp mean normalized span
      """WITH js AS (SELECT unnest(range(1, 16)) AS j),
        |g1 AS (SELECT n_chars AS kv, CAST(count(*) AS BIGINT) AS c
        |       FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |w1 AS (SELECT kv, c,
        |              CAST(sum(c) OVER (ORDER BY kv ROWS BETWEEN UNBOUNDED
        |                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |              CAST(sum(c) OVER () AS BIGINT) AS n FROM g1),
        |cut1 AS (SELECT j, min(CASE WHEN cum * 16 >= n * j THEN kv END) AS cut
        |         FROM w1 CROSS JOIN js GROUP BY j),
        |b1 AS (SELECT d.n_chars AS p,
        |              1 + (SELECT count(*) FROM cut1 WHERE cut1.cut < d.n_chars)
        |                AS b
        |       FROM documents d WHERE d.n_chars IS NOT NULL),
        |z1 AS (SELECT b, min(p) AS lo, max(p) AS hi FROM b1 GROUP BY 1),
        |s1 AS (SELECT CAST(count(*) AS BIGINT) AS nz,
        |              CAST(sum(hi - lo) AS BIGINT) AS sp,
        |              CAST(max(hi) AS BIGINT) AS gx, CAST(min(lo) AS BIGINT) AS gn
        |       FROM z1),
        |g2 AS (SELECT doc_id AS kv, CAST(count(*) AS BIGINT) AS c
        |       FROM documents GROUP BY 1),
        |w2 AS (SELECT kv, c,
        |              CAST(sum(c) OVER (ORDER BY kv ROWS BETWEEN UNBOUNDED
        |                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |              CAST(sum(c) OVER () AS BIGINT) AS n FROM g2),
        |cut2 AS (SELECT j, min(CASE WHEN cum * 16 >= n * j THEN kv END) AS cut
        |         FROM w2 CROSS JOIN js GROUP BY j),
        |b2 AS (SELECT d.n_chars AS p,
        |              1 + (SELECT count(*) FROM cut2 WHERE cut2.cut < d.doc_id)
        |                AS b
        |       FROM documents d WHERE d.n_chars IS NOT NULL),
        |z2 AS (SELECT b, min(p) AS lo, max(p) AS hi FROM b2 GROUP BY 1),
        |s2 AS (SELECT CAST(count(*) AS BIGINT) AS nz,
        |              CAST(sum(hi - lo) AS BIGINT) AS sp,
        |              CAST(max(hi) AS BIGINT) AS gx, CAST(min(lo) AS BIGINT) AS gn
        |       FROM z2)
        |SELECT 'doc_id' AS sort_key, nz AS n_zones,
        |       CASE WHEN gx = gn THEN 0
        |            ELSE CAST((sp * 10000) // (nz * (gx - gn)) AS BIGINT)
        |       END AS avg_span_bp
        |FROM s2
        |UNION ALL
        |SELECT 'n_chars', nz,
        |       CASE WHEN gx = gn THEN 0
        |            ELSE CAST((sp * 10000) // (nz * (gx - gn)) AS BIGINT) END
        |FROM s1
        |ORDER BY sort_key""".stripMargin),
    // declarative data-quality expectations: one scan, one conditional
    // sum per rule + a uniqueness check — the dbt-test/GE audit
    Query("q188_expectations", (s, dir) => {
      val d = Tables.documents(s, dir)
      val agg = d.agg(
        sum((col("n_chars") <= 0).cast("long")).as("v_nonpositive_len"),
        sum((!col("lang").isin("de", "en", "es", "fr", "zh")).cast("long"))
          .as("v_lang_domain"),
        sum((length(col("text")) =!= col("n_chars")).cast("long"))
          .as("v_len_consistency"),
        sum(col("doc_id").isNull.cast("long")).as("v_null_id"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("v_dup_id"))
      agg.select(expr(
        "stack(5, 'nonpositive_len', v_nonpositive_len, " +
          "'lang_domain', v_lang_domain, " +
          "'len_consistency', v_len_consistency, " +
          "'null_id', v_null_id, 'dup_id', v_dup_id) AS (rule, n_violations)"))
        .orderBy("rule")
    },
      // one conditional-sum pass per rule; uniqueness via count gap
      """WITH a AS (SELECT
        |  CAST(sum(CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_nonpositive_len,
        |  CAST(sum(CASE WHEN lang NOT IN ('de','en','es','fr','zh')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS v_lang_domain,
        |  CAST(sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT)
        |    AS v_len_consistency,
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_id,
        |  CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS v_dup_id
        |  FROM documents)
        |SELECT 'nonpositive_len' AS rule, v_nonpositive_len AS n_violations FROM a
        |UNION ALL SELECT 'lang_domain', v_lang_domain FROM a
        |UNION ALL SELECT 'len_consistency', v_len_consistency FROM a
        |UNION ALL SELECT 'null_id', v_null_id FROM a
        |UNION ALL SELECT 'dup_id', v_dup_id FROM a
        |ORDER BY rule""".stripMargin),
    // ORDER BY ... LIMIT/OFFSET pagination on a total order — page 3 of
    // the longest-docs listing
    Query("q186_pagination", (s, dir) =>
      Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .offset(20).limit(10),
      // stable total order + LIMIT/OFFSET
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id ASC LIMIT 10 OFFSET 20""".stripMargin),
    // null-safe equality (<=> / IS NOT DISTINCT FROM): planted null keys
    // must join to the null dim row, not vanish
    Query("q187_null_safe_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"),
          when(pmod(col("event_id"), lit(7)) === 0, lit(null))
            .otherwise(col("event_type")).as("k"))
      val dim = ev.groupBy(col("k")).agg(count(lit(1)).as("n_k"))
        .select(col("k").as("k2"), col("n_k"))
      ev.join(dim, col("k") <=> col("k2"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_rows"), max(col("n_k")).as("n_k"))
        .orderBy(col("k").asc_nulls_last)
    },
      // IS NOT DISTINCT FROM keeps the planted null keys joinable
      """WITH ev AS (SELECT event_id,
        |                  CASE WHEN event_id % 7 = 0 THEN NULL
        |                       ELSE event_type END AS k
        |           FROM events),
        |dim AS (SELECT k AS k2, CAST(count(*) AS BIGINT) AS n_k
        |        FROM ev GROUP BY 1)
        |SELECT ev.k, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(max(dim.n_k) AS BIGINT) AS n_k
        |FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.k2
        |GROUP BY ev.k ORDER BY ev.k""".stripMargin),
    // skew-safe salted join (hot keys: 5 types across the corpus) — the
    // salt must not change the RESULT, so the oracle is the plain join
    Query("q177_salted_join", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      val dim = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_total"))
      Skew.saltedJoin(ev, dim, key = "event_type", salts = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_joined"), max(col("type_total")).as("type_total"))
        .orderBy("event_type")
    },
      // the salt never touches the predicate: plain-join identity
      """WITH dim AS (SELECT event_type, CAST(count(*) AS BIGINT) AS type_total
        |             FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_joined,
        |       CAST(max(d.type_total) AS BIGINT) AS type_total
        |FROM events e JOIN dim d ON d.event_type = e.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // correlated EXISTS, Spark-first: a left-semi join (the planner's
    // own rewrite of EXISTS) — suppliers with a returned lineitem
    Query("q173_exists_semijoin", (s, dir) => {
      val late = Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R").select(col("l_suppkey"))
      Tables.supplier(s, dir)
        .join(late, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name").orderBy("s_suppkey")
    },
      // the oracle keeps the textbook correlated EXISTS; the engine's
      // left-semi join must produce the identical relation
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
        |ORDER BY s_suppkey""".stripMargin),
    // correlated scalar subquery (above-nation-average balance) with an
    // EXACT integer cross-multiply predicate — no double-fold averages
    Query("q174_scalar_subquery", (s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("__cents",
          floor(col("c_acctbal") * 100 + 0.5).cast("long"))
      val nAvg = c.groupBy(col("c_nationkey"))
        .agg(sum(col("__cents")).as("__s"), count(lit(1)).as("__cnt"))
      c.join(broadcast(nAvg), Seq("c_nationkey"))
        .where(col("__cents") * col("__cnt") > col("__s"))
        .select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey")
    },
      // above-nation-average balance via exact integer cents cross-multiply
      """WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |                  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |           FROM customer),
        |n AS (SELECT c_nationkey, CAST(sum(cents) AS BIGINT) AS s,
        |             CAST(count(*) AS BIGINT) AS cnt
        |      FROM c GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, c.c_acctbal
        |FROM c JOIN n ON n.c_nationkey = c.c_nationkey
        |WHERE c.cents * n.cnt > n.s
        |ORDER BY c_custkey""".stripMargin),
    // latest-record-per-entity: each customer's most recent order via
    // one window rank (WindowGroupLimit) — the SCD-current lookup
    Query("q175_latest_order", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.orders(s, dir)
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    },
      // greatest-per-entity: (date desc, key desc) rank 1
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |       o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
        |      FROM orders) t
        |WHERE rk = 1 ORDER BY o_custkey""".stripMargin),
    // Benford first-digit audit on integer value ticks — expected
    // shares enter as plan-time literal bp on BOTH engines (no runtime
    // float), deviation in abs bp
    Query("q172_benford", (s, dir) => {
      val ticks = floor(col("value") * 100).cast("long")
      // element_at keeps the literal array's LONG type; elt would
      // string-coerce its varargs and leak a VARCHAR exp_bp column
      val exp = expr("element_at(array(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L, 512L, 458L), cast(digit AS INT))")
      Tables.events(s, dir)
        .where(col("value").isNotNull && !isnan(col("value")) && ticks >= 1)
        .select(substring(ticks.cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("obs_bp", expr("(n * 10000) DIV sum(n) OVER ()"))
        .withColumn("exp_bp", exp)
        .select(col("digit"), col("n"), col("obs_bp"), col("exp_bp"),
          abs(col("obs_bp") - col("exp_bp")).as("dev_bp"))
        .orderBy("digit")
    },
      // integer-tick first digit via string head; literal Benford bp
      """WITH t AS (SELECT CAST(floor(value * 100) AS BIGINT) AS ticks
        |           FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |             AND CAST(floor(value * 100) AS BIGINT) >= 1),
        |d AS (SELECT CAST(substr(CAST(ticks AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |      FROM t),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |o AS (SELECT digit, n,
        |             CAST((n * 10000) // sum(n) OVER () AS BIGINT) AS obs_bp,
        |             CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761
        |                  WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 792
        |                  WHEN 6 THEN 669 WHEN 7 THEN 580 WHEN 8 THEN 512
        |                  ELSE 458 END AS BIGINT) AS exp_bp
        |      FROM c)
        |SELECT digit, n, obs_bp, exp_bp, abs(obs_bp - exp_bp) AS dev_bp
        |FROM o ORDER BY digit""".stripMargin),
    // hour-of-day × type activity heatmap with per-type share bp — the
    // 24-cell grid window is bounded by construction
    Query("q160_hourly_heatmap", (s, dir) => {
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_bp",
          expr("(n * 10000) DIV sum(n) OVER (PARTITION BY event_type)"))
        .select("event_type", "hour", "n", "share_bp")
        .orderBy(col("event_type").asc_nulls_last, col("hour").asc_nulls_last)
    },
      // 24-cell per-type hour grid; share in floor bp
      """WITH h AS (SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT)
        |             AS hour, CAST(count(*) AS BIGINT) AS n
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, hour, n,
        |       CAST((n * 10000) // sum(n) OVER (PARTITION BY event_type)
        |         AS BIGINT) AS share_bp
        |FROM h ORDER BY event_type, hour""".stripMargin),
  )
}
