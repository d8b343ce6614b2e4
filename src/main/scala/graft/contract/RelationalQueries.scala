package graft
package contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Corpus, Transforms}

/** Relational shapes over the TPC-H tables: grouped sums, joins,
  * windows, set operations, pivots, rollups and the exact-integer
  * statistics built on them. */
object RelationalQueries {
  import Tables._
  import Shared._

  val contracts: Seq[Contract] = Seq(
    // A1/A2 — grouped sums/counts (TPC-H Q1 shape; reference A2:
    // `HTGPIPROPHEDEX/__init__.py:502`).
    Contract("q01_pricing_summary", ((s, d) => {
      // Money columns are exact 2-decimal values, so all row arithmetic
      // happens in integer cents (LONG multiplies — the decimal conversion
      // per row was 40% of the query, AggProbe) with DECIMAL accumulators;
      // exact, order-independent, bit-identical to the oracle's decimal
      // formulation. p·d ≤ 1e9·100, p·d·t ≤ 1e11·100 — far inside LONG.
      val p100 = cents(col("l_extendedprice"))
      val d100 = lit(100L) - cents(col("l_discount"))
      val t100 = lit(100L) + cents(col("l_tax"))
      lineitem(s, d).groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sumc(col("l_quantity")).as("sum_qty"),
        sumc(col("l_extendedprice")).as("sum_base_price"),
        (sum((p100 * d100).cast(DecimalType(18, 0))) / lit(10000))
          .cast("double").as("sum_disc_price"),
        (sum((p100 * d100 * t100).cast(DecimalType(18, 0))) / lit(1000000))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
    }),
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |   (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |   (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) *
        |   (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // A1 — watermark derivation: GROUP BY key, MAX(ts)
    // (`HTGPIYAHOO/__init__.py:38`).
    Contract("q02_watermark_max", ((s, d) =>
      Transforms.watermarks(orders(s, d), "o_custkey", "o_orderdate")),
      "SELECT o_custkey, max(o_orderdate) AS max_date FROM orders GROUP BY o_custkey"),

    // J1 — per-entity watermark application as broadcast join + predicate
    // (`HTGPIYAHOO/__init__.py:74-96`).
    Contract("q03_watermark_join", ((s, d) => {
      val o = orders(s, d)
      val wm = Transforms.watermarks(
        o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        "o_custkey", "o_orderdate", "wm_date")
      Transforms.watermarkFilter(o, wm, Seq("o_custkey"), "o_orderdate", "wm_date")
        .filter(col("o_orderdate").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    }),
      """SELECT o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        |FROM orders o
        |LEFT JOIN (SELECT o_custkey, max(o_orderdate) AS wm_date FROM orders
        |      WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_custkey) w
        |  ON o.o_custkey = w.o_custkey
        |WHERE w.wm_date IS NULL OR o.o_orderdate > w.wm_date""".stripMargin),

    // J2 — small-dimension lookup enrichment via broadcast joins
    // (`HTGPIENSO/__init__.py:75,82` dict lookups → dim joins).
    Contract("q04_lookup_enrich", ((s, d) => {
      val c = customer(s, d); val n = nation(s, d); val r = region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), sumc(col("c_acctbal")).as("total_acctbal"))
    }),
      """SELECT r_name, n_name, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // P4/P1/P2/F7-ish — range predicate + projection + derived column
    // (`HTGPISNP500/__init__.py:90-91`).
    Contract("q05_filter_project", ((s, d) =>
      orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          substring(col("o_orderpriority"), 1, 1).as("priority_code"))),
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | substring(o_orderpriority, 1, 1) AS priority_code
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'""".stripMargin),

    // W1/W2 — grouped top-k (generated T-SQL TOP 3 + ROW_NUMBER,
    // `HTIPNEXSITE/__init__.py:106-122`).
    Contract("q06_topk_per_group", ((s, d) =>
      Transforms.topKPerGroup(customer(s, d), Seq(col("c_mktsegment")),
          Seq(col("c_acctbal").desc, col("c_custkey").asc), 3)
        .select(col("c_mktsegment"), col("rnk"), col("c_custkey"), col("c_name"),
          col("c_acctbal"))),
      """SELECT c_mktsegment, rnk, c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
        |   CAST(row_number() OVER (PARTITION BY c_mktsegment
        |        ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
        |  FROM customer) t
        |WHERE rnk <= 3""".stripMargin),

    // A6/A7 — DISTINCT (`PGSITE/__init__.py:284,298`).
    Contract("q07_distinct", ((s, d) =>
      customer(s, d).select(col("c_mktsegment"), col("c_nationkey")).distinct()),
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),

    // SO2 — unpivot/melt (`HTGPIINFLATUS/__init__.py:91`).
    Contract("q08_unpivot", ((s, d) =>
      Transforms.melt(
        part(s, d).select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice")),
        Seq("p_partkey"), Seq("p_size", "p_retailprice"), "attr", "val")),
      """SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part""".stripMargin),

    // SO3 — pivot (`HTGPIPROPHEDEX/__init__.py:392,854`).
    Contract("q09_pivot", ((s, d) =>
      Transforms.pivotAgg(
        lineitem(s, d)
          .select(year(col("l_shipdate")).cast("long").as("ship_year"),
            col("l_returnflag"), col("l_quantity")),
        Seq(col("ship_year")), "l_returnflag", Seq("A", "N", "R"),
        Seq(sumc(col("l_quantity"))))),
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        | CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
        | CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
        | CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY 1""".stripMargin),

    // SO1 — UNION ALL append-merge (`HTGPIYAHOO/__init__.py:96`).
    Contract("q10_union", ((s, d) => {
      val o = orders(s, d)
      val f = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("src", lit("F_SET"))
      val p = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("src", lit("O_SET"))
      f.unionByName(p)
    }),
      """SELECT o_orderkey, o_orderstatus, o_totalprice, 'F_SET' AS src
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice, 'O_SET' AS src
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin),

    // F1-F5 — string transform family (`HTGPIENSO/__init__.py:81-84`,
    // `PGSITE/__init__.py:129-140`).
    Contract("q11_string_clean", ((s, d) =>
      part(s, d).select(col("p_partkey"),
        upper(trim(col("p_name"))).as("name_uc"),
        substring(col("p_name"), 1, 5).as("name5"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
        translate(col("p_name"), "abc", "xyz").as("name_tr"),
        length(col("p_name")).cast("long").as("name_len"))),
      """SELECT p_partkey,
        | upper(trim(p_name)) AS name_uc,
        | substring(p_name, 1, 5) AS name5,
        | concat_ws('-', p_brand, p_type) AS brand_type,
        | regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
        | translate(p_name, 'abc', 'xyz') AS name_tr,
        | CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part""".stripMargin),

    // F8/F9/F10 — date functions (`HTGPICFT/__init__.py:50-54`,
    // `HTGPIINFLATUS/__init__.py:112`).
    Contract("q12_date_funcs", ((s, d) =>
      orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
        weekofyear(col("o_orderdate")).cast("long").as("o_week"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        date_add(col("o_orderdate"), 1).as("next_day"),
        add_months(col("o_orderdate"), 6).as("plus_6m"),
        last_day(col("o_orderdate")).as("eom"))),
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(month(o_orderdate) AS BIGINT) AS o_month,
        | CAST(day(o_orderdate) AS BIGINT) AS o_day,
        | CAST(weekofyear(o_orderdate) AS BIGINT) AS o_week,
        | strftime(o_orderdate, '%Y-%m') AS ym,
        | CAST(o_orderdate AS DATE) + 1 AS next_day,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 6 MONTH AS DATE) AS plus_6m,
        | last_day(CAST(o_orderdate AS DATE)) AS eom
        |FROM orders""".stripMargin),

    // F7 — CASE WHEN bucketing + aggregation
    // (`HTGPIPROPHEDEX/__init__.py:78-87`).
    Contract("q13_case_when", ((s, d) =>
      customer(s, d)
        .withColumn("balance_band",
          when(col("c_acctbal") < 0, "NEGATIVE")
            .when(col("c_acctbal") < 1000, "LOW")
            .when(col("c_acctbal") < 5000, "MID")
            .otherwise("HIGH"))
        .groupBy(col("balance_band"))
        .agg(count(lit(1)).as("n"), min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))),
      """SELECT CASE WHEN c_acctbal < 0 THEN 'NEGATIVE'
        |            WHEN c_acctbal < 1000 THEN 'LOW'
        |            WHEN c_acctbal < 5000 THEN 'MID'
        |            ELSE 'HIGH' END AS balance_band,
        | count(*) AS n, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM customer GROUP BY 1""".stripMargin),

    // F14 — null repair: nullif/coalesce fills
    // (`HTGPIYAHOO/__init__.py:52-53`, `HTGPIWASDE/__init__.py:1204-1207`).
    Contract("q14_null_repair", ((s, d) =>
      events(s, d).select(col("event_id"),
        coalesce(nullif(col("event_type"), lit("error")), lit("UNKNOWN")).as("etype"),
        coalesce(when(col("value") > 150, lit(null)).otherwise(col("value")), lit(0.0))
          .as("value_capped"))),
      """SELECT event_id,
        | coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS etype,
        | coalesce(CASE WHEN value > 150 THEN NULL ELSE value END, CAST(0.0 AS DOUBLE)) AS value_capped
        |FROM events""".stripMargin),

    // A5 — row-wise horizontal arithmetic (`HTGPIPROPHEDEX/__init__.py:426-428`).
    Contract("q15_horizontal_sum", ((s, d) =>
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") + col("l_extendedprice") + col("l_tax") + col("l_discount"))
          .as("row_total"),
        (col("l_extendedprice") - col("l_quantity")).as("price_minus_qty"))),
      """SELECT l_orderkey, l_linenumber,
        | l_quantity + l_extendedprice + l_tax + l_discount AS row_total,
        | l_extendedprice - l_quantity AS price_minus_qty
        |FROM lineitem""".stripMargin),

    // F13 — guarded derived measure (Stocks-to-Use,
    // `HTGPIWASDE/__init__.py:714-718`).
    Contract("q16_derived_measure", ((s, d) => {
      val g = lineitem(s, d).groupBy(col("l_orderkey")).agg(
        (coalesce(
          sum(when(col("l_returnflag") === "R",
            cents(col("l_extendedprice")).cast(DecimalType(18, 0)))),
          lit(0).cast(DecimalType(28, 0))) / lit(100))
          .cast("double").as("returned"),
        sumc(col("l_extendedprice")).as("total"))
      g.select(col("l_orderkey"), col("returned"), col("total"),
        Transforms.guardedRatio(col("returned"), col("total"), lit(100)).as("return_pct"))
    }),
      """WITH g AS (
        |  SELECT l_orderkey,
        |   CAST(coalesce(sum(CASE WHEN l_returnflag = 'R'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) END),
        |        CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS returned,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, returned, total,
        | CASE WHEN total = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE returned / total * 100 END AS return_pct
        |FROM g""".stripMargin),

    // Streaming-shaped tumbling-window aggregation (SURVEY §2.8: the batch
    // form of `groupBy(window($"ts", "1 hour"))` — same code runs under
    // Trigger.AvailableNow).
    Contract("q21_window_agg", ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumc(col("value")).as("total"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("total"))),
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),

    // A-family extension — ROLLUP hierarchy totals (Spark/DuckDB built-in).
    Contract("q39_rollup", ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumc(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))),
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // A-family extension — CUBE over two dimensions.
    Contract("q45_cube", ((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumd(col("o_totalprice")).as("total"))),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),

    // A-family extension — exact distinct counting per group.
    Contract("q40_count_distinct", ((s, d) =>
      lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))),
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // §2.9 custom UDAF — typed moments Aggregator (skewness); oracle mirrors
    // the finish formula over decimal-exact raw moments.
    Contract("q41_skewness_udaf", ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(round(graft.functions.SkewnessAgg.column(col("value")), 6)
          .as("skew"), count(lit(1)).as("n"))),
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s3
        | FROM events GROUP BY event_type)
        |SELECT event_type,
        | round((s3 / n - 3 * (s1 / n) * s2 / n + 2 * (s1 / n) * (s1 / n) * (s1 / n)) /
        |       pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skew,
        | n
        |FROM m""".stripMargin),

    // J-family widening — LEFT SEMI + LEFT ANTI as one tagged output
    // (the reference filters "entities with/without prior loads" in Python
    // loops; these are the join forms that replace that at scale).
    Contract("q46_semi_anti", ((s, d) => {
      val c = customer(s, d).select(col("c_custkey"), col("c_name"))
      val o = orders(s, d).select(col("o_custkey"))
      val has = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .withColumn("status", lit("HAS_ORDERS"))
      val not = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .withColumn("status", lit("NO_ORDERS"))
      has.unionByName(not)
    }),
      """SELECT c_custkey, c_name, 'HAS_ORDERS' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, 'NO_ORDERS' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // SO-family widening — INTERSECT / EXCEPT (distinct set semantics).
    Contract("q47_set_ops", ((s, d) => {
      val o = orders(s, d)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      f.intersect(p).withColumn("tag", lit("BOTH"))
        .unionByName(f.except(p).withColumn("tag", lit("F_ONLY")))
    }),
      """SELECT o_custkey, 'BOTH' AS tag FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t
        |UNION ALL
        |SELECT o_custkey, 'F_ONLY' AS tag FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t""".stripMargin),

    // F-family widening — fuzzy matching: blocked levenshtein pairs on a
    // sampled slice (edit-distance dedup, the classic fuzzy-join shape;
    // blocking key = brand keeps the pair space linear-ish).
    Contract("q49_fuzzy_match", ((s, d) => {
      val p = part(s, d).filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"), col("p_brand"), col("p_name"))
      val a = p.as("a"); val b = p.as("b")
      a.join(b, col("a.p_brand") === col("b.p_brand") &&
          col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("id_a"), col("b.p_partkey").as("id_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("dist"))
        .filter(col("dist") <= 12)
    }),
      """WITH p AS (SELECT p_partkey, p_brand, p_name FROM part
        |           WHERE p_partkey % 50 = 0)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 12""".stripMargin),

    // F15 widening — JSON path extraction (props = {"k": N}) + aggregation,
    // now oracle-checked (DuckDB json_extract_string).
    Contract("q51_json_extract", ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),
      """SELECT event_type,
        | count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin),

    // A-family widening — exact interpolated percentiles (median / p95).
    Contract("q52_percentiles", ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.95D)"), 6).as("p95"),
          count(lit(1)).as("n"))),
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.95), 6) AS p95,
        | count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin),

    // F16/S14 — JSON construction (the reference's HTTP response assembly,
    // `HTIPNEXSITE` JSON result), now oracle-checked: both engines emit
    // identical compact struct JSON.
    Contract("q54_json_build", ((s, d) =>
      events(s, d).select(col("event_id"),
        // emit null fields like DuckDB's to_json does (Spark's default
        // ignoreNullFields=true would drop them and break parity on nulls)
        to_json(struct(col("event_type"), col("user_id")),
          Map("ignoreNullFields" -> "false")).as("j"))),
      """SELECT event_id,
        | CAST(to_json(struct_pack(event_type := event_type, user_id := user_id))
        |      AS VARCHAR) AS j
        |FROM events""".stripMargin),

    // S7/F15 — nested JSON roundtrip: serialize rows to nested JSON docs,
    // re-parse with an explicit schema (the REST-payload shape of
    // `HTGPISNP500`), extract nested fields.
    Contract("q58_json_roundtrip", ((s, d) => {
      val j = orders(s, d).select(
        to_json(struct(col("o_orderkey"),
          struct(col("o_orderstatus").as("st"),
            col("o_totalprice").as("tp")).as("nest"))).as("doc"))
      j.select(from_json(col("doc"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "o_orderkey BIGINT, nest STRUCT<st: STRING, tp: DOUBLE>")).as("p"))
        .select(col("p.o_orderkey").as("o_orderkey"),
          col("p.nest.st").as("st"), col("p.nest.tp").as("tp"))
    }),
      "SELECT o_orderkey, o_orderstatus AS st, o_totalprice AS tp FROM orders"),

    // Incremental aggregate maintenance — the partial-agg algebra behind
    // every incremental load: merging per-batch partial aggregates
    // (sum-of-sums, sum-of-counts) must equal the full recompute. At
    // 100 TB this is how a materialized rollup absorbs a delta without
    // rescanning history; the oracle is the single-pass answer.
    Contract("q93_incremental_agg", ((s, d) => {
      val li = lineitem(s, d)
      def partial(df: DataFrame) = df.groupBy(col("l_returnflag"))
        .agg(sum(cents(col("l_quantity")).cast(DecimalType(18, 0))).as("qty_c"),
          count(lit(1)).as("n"))
      val history = partial(li.filter(col("l_orderkey") % 10 =!= 0))
      val delta = partial(li.filter(col("l_orderkey") % 10 === 0))
      history.unionByName(delta)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("qty_c")).as("qty_c"), sum(col("n")).as("n"))
        .select(col("l_returnflag"),
          (col("qty_c") / lit(100)).cast("double").as("sum_qty"),
          col("n").cast("long").as("n"))
    }),
      // q93: merged partials must equal the one-pass aggregate
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // §2.9 skew control in the checked path — two-phase salted aggregation
    // (same result as a plain groupBy, different physical distribution:
    // the hot key spreads over 8 reducers before the merge).
    Contract("q59_salted_agg", ((s, d) => {
      val merged = Transforms.saltedAggregate(events(s, d), "event_type", 8,
        partials = Seq(
          ("n", c => count(c), lit(1)),
          ("sc", c => sum(cents(c).cast(DecimalType(18, 0))), col("value"))),
        merges = Seq(
          ("n", c => sum(c)),
          ("sc", c => sum(c))))
      merged.select(col("event_type"), col("n"),
        (col("sc") / lit(100)).cast("double").as("total"))
    }),
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100 AS DOUBLE) AS total
        |FROM events GROUP BY event_type""".stripMargin),

    // W-family — full ranking family with a total tiebreak order.
    Contract("q60_rank_family", ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      customer(s, d).select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        | round(percent_rank() OVER w, 6) AS prnk,
        | round(cume_dist() OVER w, 6) AS cdist,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal DESC, c_custkey)""".stripMargin),

    // F-family — wider string-function surface.
    Contract("q61_string_funcs", ((s, d) =>
      part(s, d).select(col("p_partkey"),
        lpad(col("p_brand"), 12, "."). as("brand_pad"),
        rpad(col("p_type"), 18, "_").as("type_pad"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
        reverse(col("p_name")).as("name_rev"),
        repeat(lit("*"), (col("p_size") % 5).cast("int")).as("stars"),
        regexp_replace(col("p_name"), " ", "_").as("name_us"),
        col("p_name").startsWith("a").as("starts_a"),
        col("p_name").contains("ol").as("has_ol"))),
      """SELECT p_partkey,
        | lpad(p_brand, 12, '.') AS brand_pad,
        | rpad(p_type, 18, '_') AS type_pad,
        | split_part(p_type, ' ', 1) AS type_head,
        | reverse(p_name) AS name_rev,
        | repeat('*', CAST(p_size % 5 AS INTEGER)) AS stars,
        | replace(p_name, ' ', '_') AS name_us,
        | starts_with(p_name, 'a') AS starts_a,
        | contains(p_name, 'ol') AS has_ol
        |FROM part""".stripMargin),

    // F20 — array-function surface over embeddings (scalar outputs only:
    // the driver compare sorts rows by every column).
    Contract("q62_array_funcs", ((s, d) =>
      embeddings(s, d).select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        array_min(col("embedding")).cast("double").as("vmin"),
        array_max(col("embedding")).cast("double").as("vmax"),
        element_at(col("embedding"), 1).cast("double").as("first"),
        element_at(array_sort(col("embedding")), 3).cast("double").as("third_smallest"),
        element_at(reverse(array_sort(col("embedding"))), 1).cast("double").as("largest"))),
      """SELECT vec_id,
        | CAST(len(embedding) AS BIGINT) AS dim,
        | CAST(list_min(embedding) AS DOUBLE) AS vmin,
        | CAST(list_max(embedding) AS DOUBLE) AS vmax,
        | CAST(embedding[1] AS DOUBLE) AS first,
        | CAST(list_sort(embedding)[3] AS DOUBLE) AS third_smallest,
        | CAST(list_reverse_sort(embedding)[1] AS DOUBLE) AS largest
        |FROM embeddings""".stripMargin),

    // A-family extension — explicit GROUPING SETS (the rollup/cube
    // generalization; one pass, Expand-based like q39/q45).
    Contract("q101_grouping_sets", ((s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")),
            Seq(col("l_returnflag"), col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sumc(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))),
      // q101: identical grouping-set list, same exact-decimal sum as q39
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS
        |  ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin),

    // Incremental JOIN maintenance — the materialized-view delta algebra:
    // with base/delta splits L = L0 ∪ ΔL, R = R0 ∪ ΔR, the join of the
    // full inputs equals J0 ∪ (ΔL⋈R0) ∪ (L0⋈ΔR) ∪ (ΔL⋈ΔR). The query
    // computes the union-of-four-joins form; the ORACLE computes the
    // direct join of the unioned inputs — an independent derivation, not
    // a mirror, so the compare proves the maintenance identity itself.
    // At scale this is how a 100 TB join view absorbs a day's delta
    // without re-joining history: three small joins instead of one
    // full-history one.
    Contract("q204_join_maintenance", ((s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      val l = lineitem(s, d).select(col("l_orderkey"),
        col("l_extendedprice"), col("l_quantity"))
      val o0 = o.filter(col("o_orderkey") % 10 < 8)
      val dO = o.filter(col("o_orderkey") % 10 >= 8)
      val l0 = l.filter(col("l_orderkey") % 7 < 5)
      val dL = l.filter(col("l_orderkey") % 7 >= 5)
      def j(a: DataFrame, b: DataFrame) =
        a.join(b, col("o_orderkey") === col("l_orderkey"))
      val inc = j(o0, l0).unionByName(j(dO, l0))
        .unionByName(j(o0, dL)).unionByName(j(dO, dL))
      inc.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n"),
          sumd(col("l_extendedprice")).as("revenue"),
          sum(col("l_quantity").cast("long")).as("qty"))
    }),
      // Deliberately NOT a mirror: the oracle joins the full inputs
      // directly, so the compare proves the delta-maintenance identity.
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // Cross-table referential-integrity report (q68's single-table
    // sibling): orphan-FK counts across the star schema via anti-joins —
    // the distributed shape of a constraint checker (parents broadcast
    // when small, shuffle otherwise; only counts move to the driver).
    // The current corpus is fully intact (all five relations 0 orphans,
    // including events.user_id→customer) — the report derives that
    // rather than assuming it, and flags drift on regeneration.
    Contract("q205_fk_integrity", ((s, d) => {
      def rel(name: String, child: DataFrame, fk: String, parent: DataFrame,
          pk: String) = {
        val orphans = child.filter(col(fk).isNotNull)
          .join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphan"))
        child.agg(count(lit(1)).as("n_child"),
            sum(when(col(fk).isNull, 1L).otherwise(0L)).as("n_null_fk"))
          .crossJoin(orphans)
          .select(lit(name).as("relation"), col("n_child").cast("long"),
            col("n_null_fk").cast("long"), col("n_orphan").cast("long"))
      }
      rel("lineitem.orderkey->orders", lineitem(s, d), "l_orderkey",
          orders(s, d), "o_orderkey")
        .unionByName(rel("orders.custkey->customer", orders(s, d),
          "o_custkey", customer(s, d), "c_custkey"))
        .unionByName(rel("customer.nationkey->nation", customer(s, d),
          "c_nationkey", nation(s, d), "n_nationkey"))
        .unionByName(rel("supplier.nationkey->nation", supplier(s, d),
          "s_nationkey", nation(s, d), "n_nationkey"))
        .unionByName(rel("events.user_id->customer", events(s, d),
          "user_id", customer(s, d), "c_custkey"))
    }),
      """WITH rel AS (
        |  SELECT 'lineitem.orderkey->orders' AS relation,
        |    (SELECT count(*) FROM lineitem) AS n_child,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_fk,
        |    (SELECT count(*) FROM lineitem c WHERE c.l_orderkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM orders p
        |        WHERE p.o_orderkey = c.l_orderkey)) AS n_orphan
        |  UNION ALL
        |  SELECT 'orders.custkey->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
        |    (SELECT count(*) FROM orders c WHERE c.o_custkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM customer p
        |        WHERE p.c_custkey = c.o_custkey))
        |  UNION ALL
        |  SELECT 'customer.nationkey->nation',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer WHERE c_nationkey IS NULL),
        |    (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM nation p
        |        WHERE p.n_nationkey = c.c_nationkey))
        |  UNION ALL
        |  SELECT 'supplier.nationkey->nation',
        |    (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM supplier WHERE s_nationkey IS NULL),
        |    (SELECT count(*) FROM supplier c WHERE c.s_nationkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM nation p
        |        WHERE p.n_nationkey = c.s_nationkey))
        |  UNION ALL
        |  SELECT 'events.user_id->customer',
        |    (SELECT count(*) FROM events),
        |    (SELECT count(*) FROM events WHERE user_id IS NULL),
        |    (SELECT count(*) FROM events c WHERE c.user_id IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM customer p
        |        WHERE p.c_custkey = c.user_id)))
        |SELECT relation, CAST(n_child AS BIGINT) AS n_child,
        |  CAST(n_null_fk AS BIGINT) AS n_null_fk,
        |  CAST(n_orphan AS BIGINT) AS n_orphan
        |FROM rel""".stripMargin),

    // Join-cardinality identity — the statistic a cost-based optimizer
    // lives on, PROVEN: |A ⋈_k B| == Σ_k na_k·nb_k, where the right side
    // comes only from the two per-key COUNT tables (what ANALYZE
    // collects), never from executing the join. The query computes both
    // sides independently (the oracle repeats both independently again);
    // equality shows per-key histograms predict equi-join size exactly —
    // and why a hot key's na·nb term is the skew bomb q225 defuses.
    Contract("q241_join_cardinality", ((s, d) => {
      val la = orders(s, d).groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("na"))
      val lb = lineitem(s, d).groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("nb"))
      val est = la.join(lb, "k")
        .agg(sum(col("na") * col("nb")).cast("long").as("n"))
        .select(lit("histogram_product").as("method"), col("n"))
      val actual = orders(s, d).select(col("o_orderkey"))
        .join(lineitem(s, d).select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(lit("actual_join").as("method"), col("n"))
      est.unionByName(actual)
    }),
      // q241: both sides re-derived in SQL.
      """WITH la AS (SELECT o_orderkey AS k, count(*) AS na
        |  FROM orders GROUP BY 1),
        |lb AS (SELECT l_orderkey AS k, count(*) AS nb
        |  FROM lineitem GROUP BY 1)
        |SELECT 'histogram_product' AS method,
        |  CAST(sum(na * nb) AS BIGINT) AS n
        |FROM la JOIN lb USING (k)
        |UNION ALL
        |SELECT 'actual_join', CAST(count(*) AS BIGINT)
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""
        .stripMargin),

    // Percent-of-parent hierarchy report over the region → nation →
    // customer → orders chain (the BI drill-down shape; the only query
    // family the region dimension anchors): per nation, revenue share of
    // its region and of the world, exact integer-cents shares. Both dims
    // broadcast; one fact exchange for the nation rollup.
    Contract("q238_hierarchy_shares", ((s, d) => {
      val rev = orders(s, d).select(col("o_custkey"),
          cents(col("o_totalprice")).as("c"))
        .join(customer(s, d).select(col("c_custkey").as("o_custkey"),
          col("c_nationkey")), "o_custkey")
        .groupBy(col("c_nationkey")).agg(sum(col("c")).as("nc"))
      val dims = nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"),
          col("n_regionkey"))
        .join(region(s, d).select(col("r_regionkey").as("n_regionkey"),
          col("r_name")), "n_regionkey")
      val wReg = Window.partitionBy(col("r_name"))
      val wAll = Window.partitionBy()
      rev.join(broadcast(dims), "c_nationkey")
        .withColumn("rc", sum(col("nc")).over(wReg))
        .withColumn("tc", sum(col("nc")).over(wAll))
        .select(col("r_name"), col("n_name"),
          (col("nc").cast("double") / 100).as("nation_rev"),
          Corpus.ratioRound6(col("nc"), col("rc")).as("of_region_r"),
          Corpus.ratioRound6(col("nc"), col("tc")).as("of_world_r"))
    }),
      // q238: same cents lanes + window shares.
      """WITH rev AS (SELECT c.c_nationkey,
        |    sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS nc
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_nationkey),
        |d AS (SELECT n.n_nationkey, n.n_name, r.r_name
        |  FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey),
        |j AS (SELECT d.r_name, d.n_name, rev.nc,
        |    sum(rev.nc) OVER (PARTITION BY d.r_name) AS rc,
        |    sum(rev.nc) OVER () AS tc
        |  FROM rev JOIN d ON d.n_nationkey = rev.c_nationkey)
        |SELECT r_name, n_name,
        |  CAST(nc AS DOUBLE) / 100 AS nation_rev,
        |  CAST((nc * 2000000 + rc) // (rc * 2) AS DOUBLE) / 1e6
        |    AS of_region_r,
        |  CAST((nc * 2000000 + tc) // (tc * 2) AS DOUBLE) / 1e6
        |    AS of_world_r
        |FROM j""".stripMargin),

    // Aggregate maintenance under RETRACTIONS (q204's sibling for deletes):
    // a maintained SUM/COUNT absorbs a retraction batch as NEGATIVE deltas
    // — maintained = full-history agg + (−1)·retracted agg — while the
    // ORACLE computes the direct agg over surviving rows only. Equality
    // proves the retraction algebra (the streaming/update-mode and
    // changelog-fold foundation): a 100 TB maintained view subtracts the
    // day's deletes instead of re-aggregating history. Exact integer/
    // decimal lanes so +/− cancellation is lossless.
    Contract("q231_agg_retraction", ((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_linenumber"))
      val retracted = li.filter(col("l_linenumber") === 7)
      def agg(df: DataFrame, sign: Long) = df.groupBy(col("l_returnflag"))
        .agg((count(lit(1)) * sign).as("n"),
          (sum(cents(col("l_quantity"))) * sign).as("q100"),
          (sum(dec(col("l_extendedprice"))) * sign).as("p"))
      agg(li, 1L).unionByName(agg(retracted, -1L))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("n")).cast("long").as("n"),
          (sum(col("q100")) / 100).cast("double").as("sum_qty"),
          sum(col("p")).cast("double").as("sum_price"))
    }),
      // q231: the DIRECT aggregate over surviving rows — equality proves the
      // negative-delta retraction algebra.
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0
        |    AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem WHERE l_linenumber <> 7
        |GROUP BY l_returnflag""".stripMargin),

    // Exact WEIGHTED percentiles — "the price level at which a quarter /
    // half / three quarters of the QUANTITY transacted": the q52/q183
    // distinct-value-table pattern with the cumulative running over
    // weights instead of row counts. Everything integer until the final
    // /100; the only sort touches the distinct-cents table.
    Contract("q229_weighted_percentiles", ((s, d) => {
      val li = lineitem(s, d).select(cents(col("l_extendedprice")).as("c"),
        col("l_quantity").cast("long").as("w"))
      val byC = li.groupBy(col("c")).agg(sum(col("w")).as("wc"))
      val cumW = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      val cum = byC.withColumn("cw", sum(col("wc")).over(cumW))
        .withColumn("tw", sum(col("wc")).over(all))
      def pick(p: Int) =
        min(when(col("cw") * 100 >= col("tw") * p, col("c")))
      cum.agg(max(col("tw")).cast("long").as("total_w"),
        (pick(25).cast("double") / 100).as("p25"),
        (pick(50).cast("double") / 100).as("median_w"),
        (pick(75).cast("double") / 100).as("p75"))
    }),
      // q229: identical exact-rank weighted thresholds.
      """WITH li AS (SELECT
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |b AS (SELECT c, sum(w) AS wc FROM li GROUP BY c),
        |cum AS (SELECT c, sum(wc) OVER (ORDER BY c) AS cw,
        |        sum(wc) OVER () AS tw FROM b)
        |SELECT CAST(max(tw) AS BIGINT) AS total_w,
        |  CAST(min(CASE WHEN cw * 100 >= tw * 25 THEN c END) AS DOUBLE)
        |    / 100 AS p25,
        |  CAST(min(CASE WHEN cw * 100 >= tw * 50 THEN c END) AS DOUBLE)
        |    / 100 AS median_w,
        |  CAST(min(CASE WHEN cw * 100 >= tw * 75 THEN c END) AS DOUBLE)
        |    / 100 AS p75
        |FROM cum""".stripMargin),

    // Salted skew join as a QUERY: half the fact lands on ONE key (the
    // 100 TB hot-key shape); the plan salts the fact side (linenumber mod
    // S) and explodes the dim side ×S so the hot key spreads over S
    // reducers — and the ORACLE computes the UNSALTED join, so the compare
    // proves the salting transformation is result-identical, not just
    // that it runs. AQE skew-split is the automatic cousin; salting is
    // the form that also survives non-AQE engines and stateful joins.
    Contract("q225_salted_join", ((s, d) => {
      val saltN = 8
      val f = lineitem(s, d).select(
          when(col("l_orderkey") % 10 < 5, lit(1L))
            .otherwise(col("l_partkey")).as("k"),
          col("l_extendedprice"), col("l_linenumber"))
        .withColumn("salt",
          pmod(col("l_linenumber").cast("long"), lit(saltN.toLong)))
      val dim = part(s, d).select(col("p_partkey").as("k"), col("p_brand"))
        .withColumn("salt",
          explode(array((0 until saltN).map(i => lit(i.toLong)): _*)))
      f.join(dim, Seq("k", "salt"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("long").as("n"),
          sumd(col("l_extendedprice")).as("revenue"))
    }),
      // q225: the UNSALTED join — an independent derivation; equality proves
      // the salting transformation preserves results.
      """WITH f AS (SELECT
        |    CASE WHEN l_orderkey % 10 < 5 THEN 1 ELSE l_partkey END AS k,
        |    l_extendedprice
        |  FROM lineitem)
        |SELECT p.p_brand,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(f.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM f JOIN part p ON p.p_partkey = f.k
        |GROUP BY p.p_brand""".stripMargin),

    // Linear-counting distinct sketch with the MERGE identity proven (the
    // q193 posture for approximate distinct): occupied md5-bucket sets of
    // two disjoint halves union-merge into exactly the direct sketch, and
    // the -m·ln(empty/m) estimate is deterministic (integer occupancy,
    // one libm ln, 6dp round) — a cardinality sketch both engines compute
    // bit-identically, unlike HLL implementations.
    Contract("q226_linear_counting", ((s, d) => {
      val m = 4096L
      def bucket(c: Column) =
        conv(substring(md5(c.cast("string")), 1, 15), 16, 10)
          .cast("long") % m
      val li = lineitem(s, d).select(col("l_orderkey"),
        bucket(col("l_partkey")).as("b"))
      def est(occ: Column) = round(lit(-4096.0) *
        log((lit(m) - occ).cast("double") / lit(4096.0)), 6)
      val aHalf = li.filter(col("l_orderkey") % 2 === 0).select("b").distinct()
      val bHalf = li.filter(col("l_orderkey") % 2 === 1).select("b").distinct()
      val merged = aHalf.unionByName(bHalf).distinct()
        .agg(count(lit(1)).as("occ"))
        .select(lit("merged").as("method"),
          col("occ").cast("long").as("occupied"), est(col("occ")).as("est_r"))
      val direct = li.select("b").distinct().agg(count(lit(1)).as("occ"))
        .select(lit("direct").as("method"),
          col("occ").cast("long").as("occupied"), est(col("occ")).as("est_r"))
      merged.unionByName(direct)
    }),
      // q226: same md5 bucket, same ln operand order.
      """WITH li AS (SELECT l_orderkey,
        |    ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
        |      ::BIGINT % 4096 AS b
        |  FROM lineitem),
        |a AS (SELECT DISTINCT b FROM li WHERE l_orderkey % 2 = 0),
        |bb AS (SELECT DISTINCT b FROM li WHERE l_orderkey % 2 = 1),
        |m AS (SELECT count(*) AS occ FROM
        |  (SELECT b FROM a UNION SELECT b FROM bb)),
        |dd AS (SELECT count(DISTINCT b) AS occ FROM li)
        |SELECT 'merged' AS method, CAST(occ AS BIGINT) AS occupied,
        |  round(-4096 * ln((4096 - occ) / 4096.0), 6) AS est_r FROM m
        |UNION ALL
        |SELECT 'direct', CAST(occ AS BIGINT),
        |  round(-4096 * ln((4096 - occ) / 4096.0), 6) FROM dd""".stripMargin),

    // Full-domain k-anonymity generalization — the privacy gate a dataset
    // release runs before publication: quasi-identifier (nation, balance
    // bin) is generalized UP a fixed ladder (decile → quintile → nation
    // only → whole table) to the FIRST level where every nonempty group
    // holds ≥ k rows. ALL ladder levels' group sizes come from ONE
    // grouping-sets pass (no per-level scans); the 4-row level-minimum
    // table broadcasts back to pick the chosen level. Exact integer bin
    // math (cents + integer DIV) on both engines.
    Contract("q221_k_anonymity", ((s, d) => {
      val kAnon = 25L
      val base = customer(s, d).select(
          col("c_nationkey").cast("long").as("nation"),
          (cents(col("c_acctbal")) + lit(100000L) - lit(1L)).as("sh"))
        .select(col("nation"),
          expr("(sh * 10) DIV 1099999").as("decile"))
        .withColumn("quintile", expr("decile DIV 2"))
      val gs = base
        .groupingSets(Seq(
            Seq(col("nation"), col("decile")),
            Seq(col("nation"), col("quintile")),
            Seq(col("nation")),
            Seq()),
          col("nation"), col("decile"), col("quintile"))
        .agg(count(lit(1)).cast("long").as("n"),
          grouping(col("nation")).as("gn"),
          grouping(col("decile")).as("gd"),
          grouping(col("quintile")).as("gq"))
        .withColumn("level",
          when(col("gn") === 1, lit(3L))
            .when(col("gd") === 0, lit(0L))
            .when(col("gq") === 0, lit(1L))
            .otherwise(lit(2L)))
        // group-bounded (≤ |nations|·|bins| rows) and consumed by BOTH the
        // level-minimum pick and the final filter — materialize once so
        // the grouping-sets pass over customer truly runs ONCE
        .localCheckpoint()
      val chosen = gs.groupBy(col("level")).agg(min(col("n")).as("min_n"))
        .filter(col("min_n") >= kAnon)
        .agg(min(col("level")).as("chosen"))
      gs.crossJoin(broadcast(chosen))
        .filter(col("level") === col("chosen"))
        .select(col("level"),
          coalesce(col("nation"), lit(-1L)).as("nation"),
          coalesce(col("decile"), lit(-1L)).as("decile"),
          coalesce(col("quintile"), lit(-1L)).as("quintile"),
          col("n"))
    }),
      // q221: identical ladder via GROUPING SETS; grouping() flags (not
      // grouping_id bit order, which differs per engine) derive the level.
      """WITH base AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  ((CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000 - 1) * 10)
        |    // 1099999 AS decile
        | FROM customer),
        |b2 AS (SELECT nation, decile, decile // 2 AS quintile FROM base),
        |gs AS (SELECT nation, decile, quintile,
        |    CAST(count(*) AS BIGINT) AS n,
        |    grouping(nation) AS gn, grouping(decile) AS gd,
        |    grouping(quintile) AS gq
        |  FROM b2 GROUP BY GROUPING SETS ((nation, decile),
        |    (nation, quintile), (nation), ())),
        |lv AS (SELECT *, CAST(CASE WHEN gn = 1 THEN 3 WHEN gd = 0 THEN 0
        |    WHEN gq = 0 THEN 1 ELSE 2 END AS BIGINT) AS level FROM gs),
        |ch AS (SELECT min(level) AS chosen FROM (
        |  SELECT level, min(n) AS min_n FROM lv GROUP BY level)
        |  WHERE min_n >= 25)
        |SELECT level, coalesce(nation, -1) AS nation,
        |  coalesce(decile, -1) AS decile,
        |  coalesce(quintile, -1) AS quintile, n
        |FROM lv CROSS JOIN ch WHERE level = chosen""".stripMargin)
  )
}
