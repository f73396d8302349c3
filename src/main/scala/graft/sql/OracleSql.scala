package graft.sql

/** DuckDB oracle SQL mirroring graft.etl.Entities, the pipelines, and
  * the curated aggregations, composed as one flat CTE registry (in
  * dependency order) + a final per-query SELECT. Table names are the
  * bare fixture names (driver registers `lineitem`, `orders`, … over
  * the sfDir parquet).
  *
  * Parity rules (why results match the Spark side bit-for-bit):
  *   - identical per-row arithmetic shape (same ops, same left-assoc
  *     order) → identical IEEE-754 doubles;
  *   - aggregate sums go through scale-0 round + BIGINT (scale-0 round
  *     of a double is identical across engines; integer sums are
  *     order-independent) — see Aggregations scaladoc;
  *   - DuckDB-specific casts: sum(INTEGER) yields HUGEINT → CAST to
  *     BIGINT to match Spark's LongType; year()/month()/day() yield
  *     BIGINT → CAST to INTEGER; CAST(double AS INTEGER) rounds in
  *     DuckDB vs truncates in Spark — only applied to integral values;
  *   - deterministic dedup: QUALIFY row_number() mirrors
  *     Cleaning.dedupByKeyDeterministic.
  */
object OracleSql {

  /** DuckDB planner-hint pass for the driver's oracle runs: mark every
    * CTE referenced MORE THAN ONCE as `AS MATERIALIZED`.
    *
    * Why this exists: DuckDB inlines CTEs by default, so a chain like
    * the k-core rounds — where `knodes_r` is referenced twice by
    * `ke_{r+1}` — re-executes the ENTIRE upstream chain once per
    * reference: 2^rounds recomputations of the MinHash pipeline. The
    * round-8 artifact loss traced to exactly this: the driver's
    * correctness step timed out because seven cluster-family oracles
    * burned 483 s of a 660 s DuckDB budget (dedup_kcore alone 124 s;
    * with hints 1.7 s). Materializing shared CTEs is a pure
    * evaluation-strategy hint — result sets are identical — and it is
    * applied centrally here rather than hand-sprinkled through three
    * thousand lines of oracle text, so a future shared CTE can't
    * reintroduce the blowup by forgetting the keyword.
    *
    * Mechanics: a CTE head is `name [col-list] AS (` whose body starts
    * with SELECT or VALUES — the body guard distinguishes CTE heads
    * from named-window clauses (`WINDOW w AS (PARTITION BY ...)`),
    * which share the head syntax but reject MATERIALIZED (caught live:
    * five window-clause oracles failed to parse before the guard).
    * Already-hinted heads don't match `AS (`. A name is "shared" when
    * `\bname\b`
    * occurs ≥ 3 times in the statement (its head + ≥ 2 uses); the
    * count can only over-estimate (a column spelled like a CTE name
    * counts), and over-materializing a once-used CTE costs a small
    * buffer, never correctness. Single-use CTEs stay inline so
    * DuckDB's filter/projection pushdown through them survives.
    * Recursive CTEs accept the keyword too (verified: DuckDB 1.0
    * evaluates `WITH RECURSIVE r(x) AS MATERIALIZED (...)`
    * identically); their self-reference makes them count as shared,
    * which is harmless — a recursive CTE is inherently materialized. */
  def materializeSharedCtes(sql: String): String = {
    val head =
      ("""([A-Za-z_][A-Za-z_0-9]*)(\s*\([A-Za-z_0-9,\s]*\))?(\s+AS\s+)\(""" +
        """(?=\s*(?i:SELECT|VALUES)\b)""").r
    val names = head.findAllMatchIn(sql).map(_.group(1)).toSet
    def refs(n: String): Int =
      ("\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
        .findAllIn(sql).size
    val shared = names.filter(refs(_) >= 3)
    head.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (shared(m.group(1)))
          m.group(1) + Option(m.group(2)).getOrElse("") +
            m.group(3) + "MATERIALIZED ("
        else m.matched))
  }

  /** CTEs in dependency order; every oracle query carries the full
    * registry (unreferenced CTEs cost nothing). */
  val ctes: Seq[(String, String)] = Seq(

    // ---- entity mapping (mirrors graft.etl.Entities) ----
    "ord_e" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
         o_orderdate AS order_date, o_orderstatus AS delivery_status,
         o_orderkey % 50 AS delivery_partner_id,
         o_orderdate + INTERVAL 1440 MINUTE AS promised_time,
         o_orderdate + INTERVAL (1080 + o_orderkey % 1440) MINUTE AS delivered_time,
         (o_orderkey % 30) / 4.0 + 1.5 AS distance_km
         FROM orders""",

    "item_e" ->
      """SELECT l_orderkey AS order_id, l_partkey AS product_id,
         l_suppkey AS supplier_id,
         l_linenumber AS line_number, l_quantity AS quantity,
         l_extendedprice / l_quantity AS unit_price
         FROM lineitem""",

    "prod_e" ->
      """SELECT p_partkey AS product_id, p_name AS product_name,
         p_type AS category, p_retailprice AS price,
         10.0 + p_partkey % 30 AS margin_percentage
         FROM part""",

    "cust_e" ->
      """SELECT c_custkey AS customer_id, c_mktsegment AS area,
         CASE WHEN c_acctbal < 0 THEN 'at_risk'
              WHEN c_acctbal < 5000 THEN 'standard'
              ELSE 'premium' END AS customer_segment
         FROM customer""",

    "fb_e" ->
      """SELECT event_id AS feedback_id, event_id AS order_id,
         user_id AS customer_id, ts AS feedback_date,
         CAST(1 + event_id % 5 AS INTEGER) AS rating,
         CASE WHEN event_type = 'purchase' THEN 'Excellent'
              WHEN event_type = 'click' THEN 'good'
              WHEN event_type = 'signup' THEN 'POSITIVE'
              WHEN event_type = 'view' THEN 'okay'
              ELSE 'broken' END AS sentiment
         FROM events""",

    "mkt_e" ->
      """SELECT event_id, user_id % 20 AS campaign_id,
         'campaign_' || CAST(user_id % 20 AS VARCHAR) AS campaign_name,
         event_type AS channel, date_trunc('day', ts) AS date,
         CAST(100 + event_id % 900 AS INTEGER) AS impressions,
         CAST(event_id % 120 AS INTEGER) AS clicks,
         CAST(event_id % 7 AS INTEGER) AS conversions,
         (event_id % 1000) / 4.0 AS spend,
         (event_id % 3000) / 4.0 AS revenue_generated
         FROM events""",

    "inv_old_e" ->
      """SELECT l_partkey AS product_id, CAST(l_shipdate AS DATE) AS date,
         l_orderkey AS src_order, l_linenumber AS src_line,
         CAST(l_quantity AS INTEGER) AS stock_received,
         CAST(round(l_tax * 100, 0) AS INTEGER) AS damaged_stock
         FROM lineitem WHERE l_linestatus = 'F'""",

    "inv_new_e" ->
      """SELECT l_partkey AS product_id, CAST(l_shipdate AS DATE) AS date,
         l_orderkey AS src_order, l_linenumber AS src_line,
         CAST(l_quantity AS INTEGER) AS stock_received,
         CAST(round(l_tax * 100, 0) AS INTEGER) AS damaged_stock
         FROM lineitem WHERE l_linestatus = 'O'""",

    "icon_e" ->
      """SELECT * FROM (VALUES (1, '⭐'), (2, '⭐⭐'), (3, '⭐⭐⭐'),
         (4, '⭐⭐⭐⭐'), (5, '⭐⭐⭐⭐⭐')) AS t(rating, rating_icon)""",

    // ---- pipeline 01: sales (mirrors pipelines.SalesRevenue) ----
    "sales_tx" ->
      """SELECT i.order_id, i.line_number, i.product_id, i.supplier_id,
           p.category, o.customer_id, i.quantity, i.unit_price,
           i.quantity * i.unit_price AS line_total,
           i.quantity * i.unit_price * p.margin_percentage / 100.0 AS profit,
           CAST(year(o.order_date) AS INTEGER) AS year,
           CAST(month(o.order_date) AS INTEGER) AS month,
           CAST(day(o.order_date) AS INTEGER) AS day
         FROM (SELECT * FROM item_e
               WHERE order_id IS NOT NULL AND product_id IS NOT NULL AND quantity > 0) i
         JOIN (SELECT * FROM ord_e
               WHERE order_id IS NOT NULL AND order_date IS NOT NULL) o
           ON i.order_id = o.order_id
         JOIN (SELECT * FROM prod_e WHERE product_id IS NOT NULL) p
           ON i.product_id = p.product_id""",

    // ---- pipeline 03: feedback (mirrors pipelines.CustomerFeedback) ----
    "fb_clean" ->
      """SELECT * FROM fb_e
         WHERE feedback_id IS NOT NULL AND feedback_date IS NOT NULL""",

    "fb_norm" ->
      """SELECT *,
           CASE WHEN lower(sentiment) IN ('positive', 'good', 'excellent') THEN 'Positive'
                WHEN lower(sentiment) IN ('negative', 'bad', 'poor') THEN 'Negative'
                WHEN lower(sentiment) IN ('neutral', 'average', 'okay') THEN 'Neutral'
                ELSE 'Unknown' END AS sentiment_normalized
         FROM fb_clean""",

    "fb_enriched" ->
      """SELECT f.feedback_id, f.order_id, f.customer_id,
           CAST(f.feedback_date AS DATE) AS feedback_day,
           f.rating, i.rating_icon, f.sentiment, f.sentiment_normalized,
           CASE WHEN f.sentiment_normalized = 'Positive' THEN 1
                WHEN f.sentiment_normalized = 'Negative' THEN -1
                ELSE 0 END AS sentiment_score,
           c.area, c.customer_segment, o.delivery_status,
           CAST(year(f.feedback_date) AS INTEGER) AS year,
           CAST(month(f.feedback_date) AS INTEGER) AS month
         FROM fb_norm f
         LEFT JOIN icon_e i ON f.rating = i.rating
         LEFT JOIN cust_e c ON f.customer_id = c.customer_id
         LEFT JOIN ord_e o ON f.order_id = o.order_id""",

    // ---- pipeline 04: marketing (mirrors pipelines.MarketingRoi) ----
    "mkt_dedup" ->
      """SELECT * FROM (SELECT * FROM mkt_e
           WHERE campaign_id IS NOT NULL AND date IS NOT NULL)
         QUALIFY row_number() OVER (PARTITION BY campaign_id, date ORDER BY event_id) = 1""",

    "mkt_m" ->
      """SELECT *,
           CASE WHEN impressions > 0 THEN clicks * 100.0 / impressions ELSE 0.0 END AS ctr,
           CASE WHEN clicks > 0 THEN conversions * 100.0 / clicks ELSE 0.0 END AS conversion_rate,
           CASE WHEN clicks > 0 THEN spend / clicks ELSE 0.0 END AS cpc,
           CASE WHEN conversions > 0 THEN spend / conversions ELSE 0.0 END AS cpa,
           CASE WHEN spend > 0 THEN revenue_generated / spend ELSE 0.0 END AS roas,
           CASE WHEN spend > 0 THEN (revenue_generated - spend) * 100.0 / spend ELSE 0.0 END AS roi_pct
         FROM mkt_dedup""",

    "mkt_perf" ->
      """SELECT event_id, campaign_id, campaign_name, channel,
           CAST(date AS DATE) AS date,
           impressions, clicks, conversions, spend, revenue_generated,
           ctr, conversion_rate, cpc, cpa, roas, roi_pct,
           ctr * 0.3 + conversion_rate * 0.3 + roas * 0.4 AS effectiveness_score,
           CAST(year(date) AS INTEGER) AS year,
           CAST(month(date) AS INTEGER) AS month
         FROM mkt_m""",

    // ---- pipeline 05: inventory (mirrors pipelines.InventoryReconciliation) ----
    "inv_old_d" ->
      """SELECT product_id, date, stock_received AS old_stock_received,
           damaged_stock AS old_damaged_stock
         FROM (SELECT * FROM inv_old_e
               WHERE product_id IS NOT NULL AND date IS NOT NULL)
         QUALIFY row_number() OVER (PARTITION BY product_id, date
                                    ORDER BY src_order, src_line, stock_received, damaged_stock) = 1""",

    "inv_new_d" ->
      """SELECT product_id, date, stock_received AS new_stock_received,
           damaged_stock AS new_damaged_stock
         FROM (SELECT * FROM inv_new_e
               WHERE product_id IS NOT NULL AND date IS NOT NULL)
         QUALIFY row_number() OVER (PARTITION BY product_id, date
                                    ORDER BY src_order, src_line, stock_received, damaged_stock) = 1""",

    "inv_var" ->
      """SELECT *,
           coalesce(new_stock_received, 0) - coalesce(old_stock_received, 0) AS stock_variance,
           coalesce(new_damaged_stock, 0) - coalesce(old_damaged_stock, 0) AS damaged_variance
         FROM (SELECT coalesce(o.product_id, n.product_id) AS product_id,
                      coalesce(o.date, n.date) AS date,
                      o.old_stock_received, o.old_damaged_stock,
                      n.new_stock_received, n.new_damaged_stock
               FROM inv_old_d o
               FULL OUTER JOIN inv_new_d n
                 ON o.product_id = n.product_id AND o.date = n.date)""",

    "inv_flag" ->
      """SELECT *,
           CASE WHEN stock_variance <> 0 OR damaged_variance <> 0 THEN 1 ELSE 0 END AS has_discrepancy,
           CASE WHEN abs(stock_variance) > 100 THEN 'Critical'
                WHEN abs(stock_variance) > 50 THEN 'High'
                WHEN abs(stock_variance) > 10 THEN 'Medium'
                ELSE 'Low' END AS severity
         FROM inv_var""",

    "inv_recon" ->
      """SELECT f.*, p.product_name, p.category, p.price,
           abs(f.stock_variance) * coalesce(p.price, 0.0)
             + abs(f.damaged_variance) * coalesce(p.price, 0.0) * 0.5 AS financial_impact,
           CAST(year(f.date) AS INTEGER) AS year,
           CAST(month(f.date) AS INTEGER) AS month
         FROM inv_flag f
         LEFT JOIN prod_e p ON f.product_id = p.product_id""",

    // ---- reconstructed delivery pipeline ----
    "deliv" ->
      """SELECT order_id, delivery_partner_id, delivery_status,
           date_diff('minute', order_date, delivered_time) AS delivery_minutes,
           date_diff('minute', order_date, delivered_time) / 60.0 AS delivery_hours,
           CASE WHEN delivered_time > promised_time THEN 1 ELSE 0 END AS is_delayed,
           distance_km,
           CAST(year(order_date) AS INTEGER) AS year,
           CAST(month(order_date) AS INTEGER) AS month
         FROM ord_e
         WHERE order_id IS NOT NULL AND order_date IS NOT NULL""",

    // ---- curated aggregations (mirror graft.curated.Aggregations) ----
    "curated_revenue_by_category" ->
      """SELECT *, total_revenue / total_orders AS avg_order_value FROM (
           SELECT category,
             count(DISTINCT order_id) AS total_orders,
             count(DISTINCT customer_id) AS unique_customers,
             CAST(sum(CAST(round(line_total * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_revenue,
             CAST(sum(CAST(round(profit * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_profit
           FROM sales_tx GROUP BY category)""",

    "curated_campaign_performance_summary" ->
      """SELECT *, CASE WHEN total_spend > 0
             THEN (total_revenue - total_spend) * 100.0 / total_spend
             ELSE 0.0 END AS overall_roi
         FROM (
           SELECT campaign_id, campaign_name, channel,
             sum(spend) AS total_spend,
             sum(revenue_generated) AS total_revenue,
             CAST(sum(conversions) AS BIGINT) AS total_conversions,
             CAST(sum(CAST(round(ctr * 10000) AS BIGINT)) AS BIGINT) / 10000.0 / count(*) AS avg_ctr,
             CAST(sum(CAST(round(conversion_rate * 10000) AS BIGINT)) AS BIGINT) / 10000.0 / count(*) AS avg_conversion_rate,
             CAST(sum(CAST(round(roas * 10000) AS BIGINT)) AS BIGINT) / 10000.0 / count(*) AS avg_roas
           FROM mkt_perf GROUP BY campaign_id, campaign_name, channel)""",

    "curated_delivery_partner_performance" ->
      """SELECT *, delayed_deliveries / total_deliveries * 100 AS delay_percentage
         FROM (
           SELECT delivery_partner_id,
             count(*) AS total_deliveries,
             CAST(sum(is_delayed) AS BIGINT) AS delayed_deliveries,
             CAST(sum(delivery_minutes) AS BIGINT) / 60.0 / count(*) AS avg_delivery_time_hours,
             avg(distance_km) AS avg_distance_km
           FROM deliv GROUP BY delivery_partner_id)""",

    "curated_area_feedback_metrics" ->
      """SELECT *, positive_count / total_feedback * 100 AS satisfaction_rate
         FROM (
           SELECT area,
             count(feedback_id) AS total_feedback,
             avg(rating) AS avg_rating,
             CAST(sum(CASE WHEN sentiment_normalized = 'Positive' THEN 1 ELSE 0 END) AS BIGINT) AS positive_count,
             CAST(sum(CASE WHEN sentiment_normalized = 'Negative' THEN 1 ELSE 0 END) AS BIGINT) AS negative_count,
             avg(sentiment_score) AS avg_sentiment_score
           FROM fb_enriched GROUP BY area)""",

    "curated_category_inventory_impact" ->
      """SELECT category,
           CAST(sum(CAST(round(financial_impact * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_impact,
           count(DISTINCT CASE WHEN has_discrepancy = 1 THEN product_id END) AS affected_products,
           avg(stock_variance) AS avg_stock_variance,
           avg(damaged_variance) AS avg_damaged_variance
         FROM inv_recon GROUP BY category""",

    "curated_product_inventory_discrepancies" ->
      """SELECT product_id, product_name, category,
           CAST(sum(has_discrepancy) AS BIGINT) AS discrepancy_occurrences,
           CAST(sum(abs(stock_variance)) AS BIGINT) AS total_stock_variance,
           CAST(sum(abs(damaged_variance)) AS BIGINT) AS total_damaged_variance,
           CAST(sum(CAST(round(financial_impact * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_impact,
           CASE max(CASE WHEN severity = 'Critical' THEN 4 WHEN severity = 'High' THEN 3
                         WHEN severity = 'Medium' THEN 2 ELSE 1 END)
             WHEN 4 THEN 'Critical' WHEN 3 THEN 'High' WHEN 2 THEN 'Medium'
             ELSE 'Low' END AS max_severity
         FROM inv_recon GROUP BY product_id, product_name, category""")

  /** Prefix `query` with the full CTE registry. */
  def withCtes(query: String): String =
    ctes.map { case (n, b) => s"$n AS ($b)" }
      .mkString("WITH ", ",\n", "\n") + query

  // ---- final per-query oracle statements ----

  val salesTransactions: String =
    withCtes("SELECT * FROM sales_tx ORDER BY order_id, line_number, " +
      "product_id, supplier_id, quantity, unit_price")

  val ratingIconJoin: String = withCtes(
    """SELECT f.feedback_id, f.rating, i.rating_icon
       FROM fb_clean f LEFT JOIN icon_e i ON f.rating = i.rating
       ORDER BY f.feedback_id""")

  val customerFeedbackEnriched: String =
    withCtes("SELECT * FROM fb_enriched ORDER BY feedback_id")

  val marketingPerformance: String =
    withCtes("SELECT * FROM mkt_perf ORDER BY campaign_id, date, event_id")

  val inventoryReconciliation: String =
    withCtes("SELECT * FROM inv_recon ORDER BY product_id, date")

  val deliveryPerformance: String =
    withCtes("SELECT * FROM deliv ORDER BY order_id")
}
