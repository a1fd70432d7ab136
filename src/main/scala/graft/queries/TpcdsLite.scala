package graft.queries

import graft.Engine

import org.apache.spark.sql.SparkSession

/** TPC-DS-lite: a deterministic, closed-form micro-instance of the TPC-DS
  * schema backing the reference's perf suite
  * (`ql/src/test/queries/clientpositive/perf/query*.q` — 60 plan-golden
  * queries over store_sales/date_dim/item/...). Every table is generated
  * from pure modular arithmetic over a row index, so BOTH engines can
  * materialize bit-identical data: Spark writes it once to scratch parquet
  * (store_sales partitioned by `ss_sold_date_sk`, the classic TPC-DS
  * layout that makes dynamic partition pruning apply), DuckDB regenerates
  * it per query from a `WITH` prologue. The perf queries then run as the
  * SAME SQL text on both engines — a full hash compare of multi-join
  * star-schema plans, not a plan-only golden file.
  *
  * Dialect notes: the only divergences between Spark SQL and DuckDB needed
  * here are the `range()` table function's column name (`id` vs `range`),
  * integer division (`DIV` vs `//`), and the canonical string type name
  * (`STRING` vs `VARCHAR`) — handled by token substitution so there is
  * ONE template per table.
  *
  * Money columns are DECIMAL(9,2)/(11,2): per-row values derive from a
  * single double division/multiplication (deterministic IEEE ops — same
  * literal inputs, same result in both engines) and decimal SUMs are
  * exact and order-independent, which removes the float-summation-order
  * hazard from every aggregate; query bodies cast final aggregates to
  * DOUBLE (the shared-text analog of the DuckDB-decimal-vs-pandas rule).
  */
object TpcdsLite {

  /** (table, rows, shared-template SQL). Tokens: `#I#` = range() column,
    * `#IDIV#` = integer division operator, `#STR#` = string type name. */
  private val gens: Seq[(String, String)] = Seq(
    "date_dim" ->
      """SELECT CAST(2450815 + i AS INT) AS d_date_sk,
        |  CAST(1998 + i #IDIV# 360 AS INT) AS d_year,
        |  CAST((i #IDIV# 30) % 12 + 1 AS INT) AS d_moy,
        |  CAST(i % 30 + 1 AS INT) AS d_dom,
        |  CAST(1176 + i #IDIV# 30 AS INT) AS d_month_seq,
        |  CAST(5270 + i #IDIV# 7 AS INT) AS d_week_seq,
        |  CAST(i % 7 AS INT) AS d_dow,
        |  CAST(((i #IDIV# 30) % 12) #IDIV# 3 + 1 AS INT) AS d_qoy,
        |  DATE '1998-01-01' + CAST(i AS INT) AS d_date,
        |  CAST(1998 + i #IDIV# 360 AS #STR#) || 'Q' ||
        |    CAST(((i #IDIV# 30) % 12) #IDIV# 3 + 1 AS #STR#) AS d_quarter_name
        |FROM (SELECT #I# AS i FROM range(0, 1080)) t""",
    "item" ->
      """SELECT CAST(i + 1 AS INT) AS i_item_sk,
        |  'I' || CAST(i + 1 AS #STR#) AS i_item_id,
        |  'DESC' || CAST(i % 120 AS #STR#) AS i_item_desc,
        |  CAST(i % 25 + 1 AS INT) AS i_brand_id,
        |  'BRAND' || CAST(i % 25 + 1 AS #STR#) AS i_brand,
        |  'CLASS' || CAST(i % 15 AS #STR#) AS i_class,
        |  'CAT' || CAST(i % 10 AS #STR#) AS i_category,
        |  CAST(i % 40 + 1 AS INT) AS i_manufact_id,
        |  'MFG' || CAST(i % 40 + 1 AS #STR#) AS i_manufact,
        |  CAST(i % 15 + 1 AS INT) AS i_class_id,
        |  CAST(i % 10 + 1 AS INT) AS i_category_id,
        |  CAST(((i * 23) % 6000 + 50) / 100.0 AS DECIMAL(9,2)) AS i_wholesale_cost,
        |  CAST(((i * 17) % 9000 + 100) / 100.0 AS DECIMAL(9,2)) AS i_current_price,
        |  'PROD' || CAST(i + 1 AS #STR#) AS i_product_name
        |FROM (SELECT #I# AS i FROM range(0, 300)) t""",
    "store" ->
      """SELECT CAST(i + 1 AS INT) AS s_store_sk,
        |  'ST' || CAST(i + 1 AS #STR#) AS s_store_id,
        |  CAST(i % 3 + 1 AS INT) AS s_company_id,
        |  CAST(i * 37 % 900 + 1 AS #STR#) AS s_street_number,
        |  'STREET' || CAST(i % 50 AS #STR#) AS s_street_name,
        |  CASE WHEN i % 2 = 0 THEN 'Ave' ELSE 'Blvd' END AS s_street_type,
        |  'SUITE' || CAST(i % 9 AS #STR#) AS s_suite_number,
        |  'STORE' || CAST(i + 1 AS #STR#) AS s_store_name,
        |  'S' || CAST(i % 5 AS #STR#) AS s_state,
        |  'COUNTY' || CAST(i % 4 AS #STR#) AS s_county,
        |  'CITY' || CAST(i % 60 AS #STR#) AS s_city,
        |  'COMP' || CAST(i % 3 AS #STR#) AS s_company_name,
        |  CAST(10000 + i AS #STR#) AS s_zip,
        |  CAST(180 + i * 13 AS INT) AS s_number_employees
        |FROM (SELECT #I# AS i FROM range(0, 10)) t""",
    "time_dim" ->
      """SELECT CAST(i AS INT) AS t_time_sk,
        |  CAST(i #IDIV# 3600 AS INT) AS t_hour,
        |  CAST((i % 3600) #IDIV# 60 AS INT) AS t_minute,
        |  CASE WHEN i #IDIV# 3600 BETWEEN 6 AND 8 THEN 'breakfast'
        |       WHEN i #IDIV# 3600 BETWEEN 18 AND 20 THEN 'dinner' END AS t_meal_time
        |FROM (SELECT #I# AS i FROM range(0, 86400)) t""",
    "household_demographics" ->
      """SELECT CAST(i + 1 AS INT) AS hd_demo_sk,
        |  CAST(i % 10 AS INT) AS hd_dep_count,
        |  CAST(i % 6 AS INT) AS hd_vehicle_count,
        |  'BP' || CAST(i % 4 AS #STR#) AS hd_buy_potential,
        |  CAST(i % 20 + 1 AS INT) AS hd_income_band_sk
        |FROM (SELECT #I# AS i FROM range(0, 720)) t""",
    "customer_demographics" ->
      """SELECT CAST(i + 1 AS INT) AS cd_demo_sk,
        |  CASE WHEN i % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
        |  'MS' || CAST(i % 5 AS #STR#) AS cd_marital_status,
        |  'ES' || CAST(i % 7 AS #STR#) AS cd_education_status,
        |  CAST(i % 7 AS INT) AS cd_dep_count
        |FROM (SELECT #I# AS i FROM range(0, 1920)) t""",
    "tpcds_customer" ->
      """SELECT CAST(i + 1 AS INT) AS c_customer_sk,
        |  'C' || CAST(100000 + i AS #STR#) AS c_customer_id,
        |  'FN' || CAST(i % 200 AS #STR#) AS c_first_name,
        |  'LN' || CAST(i % 100 AS #STR#) AS c_last_name,
        |  'SAL' || CAST(i % 6 AS #STR#) AS c_salutation,
        |  CASE WHEN i % 2 = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
        |  CAST(i % 1920 + 1 AS INT) AS c_current_cdemo_sk,
        |  CAST(i % 720 + 1 AS INT) AS c_current_hdemo_sk,
        |  CAST(i % 2500 + 1 AS INT) AS c_current_addr_sk,
        |  CAST(i % 12 + 1 AS INT) AS c_birth_month,
        |  CAST(1924 + i % 70 AS INT) AS c_birth_year,
        |  CAST(2450815 + (i * 7) % 1080 AS INT) AS c_first_sales_date_sk,
        |  CAST(2450815 + (i * 7 + 30) % 1080 AS INT) AS c_first_shipto_date_sk
        |FROM (SELECT #I# AS i FROM range(0, 5000)) t""",
    "customer_address" ->
      """SELECT CAST(i + 1 AS INT) AS ca_address_sk,
        |  CAST(i % 999 + 1 AS #STR#) AS ca_street_number,
        |  'STREET' || CAST(i % 50 AS #STR#) AS ca_street_name,
        |  'CITY' || CAST(i % 60 AS #STR#) AS ca_city,
        |  'COUNTY' || CAST(i % 8 AS #STR#) AS ca_county,
        |  CAST(10000 + i % 900 AS #STR#) AS ca_zip,
        |  'S' || CAST(i % 5 AS #STR#) AS ca_state,
        |  'COUNTRY0' AS ca_country,
        |  CAST(-5 - i % 3 AS INT) AS ca_gmt_offset
        |FROM (SELECT #I# AS i FROM range(0, 2500)) t""",
    "income_band" ->
      """SELECT CAST(i + 1 AS INT) AS ib_income_band_sk,
        |  CAST(i * 10000 AS INT) AS ib_lower_bound,
        |  CAST(i * 10000 + 9999 AS INT) AS ib_upper_bound
        |FROM (SELECT #I# AS i FROM range(0, 20)) t""",
    "promotion" ->
      """SELECT CAST(i + 1 AS INT) AS p_promo_sk,
        |  CASE WHEN i % 2 = 0 THEN 'N' ELSE 'Y' END AS p_channel_email,
        |  CASE WHEN i % 3 = 0 THEN 'N' ELSE 'Y' END AS p_channel_event,
        |  CASE WHEN i % 2 = 1 THEN 'N' ELSE 'Y' END AS p_channel_tv
        |FROM (SELECT #I# AS i FROM range(0, 30)) t""",
    // FACT: 120k sales. Dimension FKs are md5-hashed per column (`#H(...)H#`
    // = hex→int, the q172 keyed-hash discipline): linear-congruential
    // derivations leave residues mod the non-coprime dimension sizes
    // (1080/1920/720/30/10) CORRELATED, which can empty a conjunctive
    // filter entirely — a hash decorrelates every filter column. Ticket
    // and customer stay deliberately linear and aligned: the 3 rows
    // sharing a ticket ((i*97) % 40000 collides at stride 40000) also
    // share a customer ((i*41) % 5000 is stride-40000-invariant), so
    // tickets are per-customer as in real TPC-DS.
    "store_sales" ->
      """SELECT CAST(2450815 + #H(substr(md5(CAST(i AS #STR#) || ':ssd'), 1, 15))H# % 1080 AS INT) AS ss_sold_date_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':sst'), 1, 15))H# % 86400 AS INT) AS ss_sold_time_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':itm'), 1, 15))H# % 300 + 1 AS INT) AS ss_item_sk,
        |  CAST((i * 41) % 5000 + 1 AS INT) AS ss_customer_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':cd'), 1, 15))H# % 1920 + 1 AS INT) AS ss_cdemo_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':hd'), 1, 15))H# % 720 + 1 AS INT) AS ss_hdemo_sk,
        |  CASE WHEN #H(substr(md5(CAST(i AS #STR#) || ':adn'), 1, 15))H# % 37 = 0 THEN CAST(NULL AS INT)
        |       ELSE CAST(#H(substr(md5(CAST(i AS #STR#) || ':ad'), 1, 15))H# % 2500 + 1 AS INT) END AS ss_addr_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':st'), 1, 15))H# % 10 + 1 AS INT) AS ss_store_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':pr'), 1, 15))H# % 30 + 1 AS INT) AS ss_promo_sk,
        |  CAST((i * 97) % 40000 AS INT) AS ss_ticket_number,
        |  CAST(i % 99 + 1 AS INT) AS ss_quantity,
        |  CAST(((i * 7) % 9000 + 100) / 100.0 AS DECIMAL(9,2)) AS ss_wholesale_cost,
        |  CAST(((i * 11) % 12000 + 200) / 100.0 AS DECIMAL(9,2)) AS ss_list_price,
        |  CAST(((i * 17) % 10000 + 50) / 100.0 AS DECIMAL(9,2)) AS ss_sales_price,
        |  CAST((i % 99 + 1) * (((i * 17) % 10000 + 50) / 100.0) AS DECIMAL(11,2)) AS ss_ext_sales_price,
        |  CAST((i % 99 + 1) * (((i * 11) % 12000 + 200) / 100.0) AS DECIMAL(11,2)) AS ss_ext_list_price,
        |  CAST((i % 99 + 1) * (((i * 7) % 9000 + 100) / 100.0) AS DECIMAL(11,2)) AS ss_ext_wholesale_cost,
        |  CAST((i % 99 + 1) * (((i * 17) % 10000 + 50) / 100.0) * 0.08 AS DECIMAL(11,2)) AS ss_ext_tax,
        |  CAST(((i * 3) % 2000) / 100.0 AS DECIMAL(9,2)) AS ss_coupon_amt,
        |  CAST((((i * 13) % 20000) - 10000) / 100.0 AS DECIMAL(9,2)) AS ss_net_profit
        |FROM (SELECT #I# AS i FROM range(0, 120000)) t""",
    // Every 10th sale is returned: row j re-derives the keys of store_sales
    // row i = 10*j (same hash seed text for the item, same linear forms for
    // customer/ticket), so (customer, item, ticket) triples join exactly.
    "store_returns" ->
      """SELECT CAST(#H(substr(md5(CAST(i * 10 AS #STR#) || ':itm'), 1, 15))H# % 300 + 1 AS INT) AS sr_item_sk,
        |  CAST((i * 410) % 5000 + 1 AS INT) AS sr_customer_sk,
        |  CAST((i * 970) % 40000 AS INT) AS sr_ticket_number,
        |  CAST(2450815 + #H(substr(md5(CAST(i AS #STR#) || ':srd'), 1, 15))H# % 1080 AS INT) AS sr_returned_date_sk,
        |  CAST(i % 50 + 1 AS INT) AS sr_return_quantity,
        |  CAST(((i * 23) % 8000 + 100) / 100.0 AS DECIMAL(9,2)) AS sr_net_loss,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':scd'), 1, 15))H# % 1920 + 1 AS INT) AS sr_cdemo_sk,
        |  CAST(((i * 19) % 9000 + 50) / 100.0 AS DECIMAL(9,2)) AS sr_return_amt,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':srr'), 1, 15))H# % 12 + 1 AS INT) AS sr_reason_sk
        |FROM (SELECT #I# AS i FROM range(0, 12000)) t""",
    // Catalog sales re-derive (customer, item) from the same base index
    // family (row k mirrors store row 10*k), so return-then-catalog-buy
    // shapes (reference query17/query29) have non-empty joins by design.
    "catalog_sales" ->
      """SELECT CAST(2450815 + #H(substr(md5(CAST(i AS #STR#) || ':csd'), 1, 15))H# % 1080 AS INT) AS cs_sold_date_sk,
        |  CAST(2450815 + #H(substr(md5(CAST(i AS #STR#) || ':csd'), 1, 15))H# % 1080
        |       + #H(substr(md5(CAST(i AS #STR#) || ':csq'), 1, 15))H# % 30 AS INT) AS cs_ship_date_sk,
        |  CAST(#H(substr(md5(CAST(i * 10 AS #STR#) || ':itm'), 1, 15))H# % 300 + 1 AS INT) AS cs_item_sk,
        |  CAST((i * 410) % 5000 + 1 AS INT) AS cs_bill_customer_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':ccd'), 1, 15))H# % 1920 + 1 AS INT) AS cs_bill_cdemo_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':chd'), 1, 15))H# % 720 + 1 AS INT) AS cs_bill_hdemo_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':cpr'), 1, 15))H# % 40 + 1 AS INT) AS cs_promo_sk,
        |  CASE WHEN #H(substr(md5(CAST(i AS #STR#) || ':cwn'), 1, 15))H# % 41 = 0 THEN CAST(NULL AS INT)
        |       ELSE CAST(#H(substr(md5(CAST(i AS #STR#) || ':cwh'), 1, 15))H# % 5 + 1 AS INT) END AS cs_warehouse_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':cst'), 1, 15))H# % 86400 AS INT) AS cs_sold_time_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':ccc'), 1, 15))H# % 4 + 1 AS INT) AS cs_call_center_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':ccp'), 1, 15))H# % 25 + 1 AS INT) AS cs_catalog_page_sk,
        |  CAST(((i * 29) % 12000 + 100) / 100.0 AS DECIMAL(9,2)) AS cs_sales_price,
        |  CAST((i * 89) % 20000 AS INT) AS cs_order_number,
        |  CAST(i % 80 + 1 AS INT) AS cs_quantity,
        |  CAST(((i * 19) % 15000 + 500) / 100.0 AS DECIMAL(9,2)) AS cs_ext_list_price,
        |  CAST(((i * 31) % 14000 + 300) / 100.0 AS DECIMAL(9,2)) AS cs_list_price,
        |  CAST(((i * 13) % 2500) / 100.0 AS DECIMAL(9,2)) AS cs_coupon_amt,
        |  CAST((((i * 37) % 24000) - 12000) / 100.0 AS DECIMAL(9,2)) AS cs_net_profit,
        |  CAST(((i * 23) % 5000) / 100.0 AS DECIMAL(9,2)) AS cs_ext_discount_amt,
        |  CAST((i % 80 + 1) * (((i * 29) % 12000 + 100) / 100.0) AS DECIMAL(11,2)) AS cs_ext_sales_price
        |FROM (SELECT #I# AS i FROM range(0, 60000)) t""",
    // Returns mirror catalog row k = 10*m on (item, order); refund
    // magnitudes are sized well BELOW the list-price sums so the query64
    // profitability screen (sale > 2*refund) keeps a healthy majority.
    "catalog_returns" ->
      """SELECT CAST(#H(substr(md5(CAST(i * 100 AS #STR#) || ':itm'), 1, 15))H# % 300 + 1 AS INT) AS cr_item_sk,
        |  CAST((i * 890) % 20000 AS INT) AS cr_order_number,
        |  CAST(((i * 7) % 3000) / 100.0 AS DECIMAL(9,2)) AS cr_refunded_cash,
        |  CAST(((i * 5) % 1500) / 100.0 AS DECIMAL(9,2)) AS cr_reversed_charge,
        |  CAST(((i * 3) % 1000) / 100.0 AS DECIMAL(9,2)) AS cr_store_credit,
        |  CAST(i % 20 + 1 AS INT) AS cr_return_quantity,
        |  CAST(((i * 11) % 7000 + 100) / 100.0 AS DECIMAL(9,2)) AS cr_return_amount,
        |  CAST(((i * 13) % 5000 + 50) / 100.0 AS DECIMAL(9,2)) AS cr_net_loss,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':crc'), 1, 15))H# % 4 + 1 AS INT) AS cr_call_center_sk,
        |  CAST(2450815 + #H(substr(md5(CAST(i AS #STR#) || ':crd'), 1, 15))H# % 1080 AS INT) AS cr_returned_date_sk,
        |  CAST((i * 410) % 5000 + 1 AS INT) AS cr_returning_customer_sk
        |FROM (SELECT #I# AS i FROM range(0, 6000)) t""",
    // Web order lines: ~3 lines per order ((i*89) % 20000 collides at
    // stride 20000); ORDER-level attributes (ship addr/date, site) derive
    // from the order number so an order ships as one unit, while the
    // warehouse is LINE-level — split-warehouse orders exist by design
    // (the reference query94/query95 EXISTS shape needs them).
    "web_sales" ->
      """SELECT CAST(2450815 + #H(substr(md5(CAST(i AS #STR#) || ':wsd'), 1, 15))H# % 1080 AS INT) AS ws_sold_date_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wit'), 1, 15))H# % 300 + 1 AS INT) AS ws_item_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wba'), 1, 15))H# % 2500 + 1 AS INT) AS ws_bill_addr_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wbc'), 1, 15))H# % 5000 + 1 AS INT) AS ws_bill_customer_sk,
        |  CAST(onum AS INT) AS ws_order_number,
        |  CAST(i % 99 + 1 AS INT) AS ws_quantity,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wst2'), 1, 15))H# % 86400 AS INT) AS ws_sold_time_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':whd'), 1, 15))H# % 720 + 1 AS INT) AS ws_ship_hdemo_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wpr'), 1, 15))H# % 40 + 1 AS INT) AS ws_promo_sk,
        |  CASE WHEN #H(substr(md5(CAST(i AS #STR#) || ':wpn'), 1, 15))H# % 37 = 0 THEN CAST(NULL AS INT)
        |       ELSE CAST(#H(substr(md5(CAST(i AS #STR#) || ':wpg'), 1, 15))H# % 20 + 1 AS INT) END AS ws_web_page_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wwh'), 1, 15))H# % 5 + 1 AS INT) AS ws_warehouse_sk,
        |  CAST(#H(substr(md5(CAST(onum AS #STR#) || ':wsa'), 1, 15))H# % 2500 + 1 AS INT) AS ws_ship_addr_sk,
        |  CAST(2450815 + #H(substr(md5(CAST(onum AS #STR#) || ':wsp'), 1, 15))H# % 1080 AS INT) AS ws_ship_date_sk,
        |  CAST(#H(substr(md5(CAST(onum AS #STR#) || ':wst'), 1, 15))H# % 8 + 1 AS INT) AS ws_web_site_sk,
        |  CAST(((i * 13) % 9000 + 100) / 100.0 AS DECIMAL(9,2)) AS ws_sales_price,
        |  CAST((i % 99 + 1) * (((i * 13) % 9000 + 100) / 100.0) AS DECIMAL(11,2)) AS ws_ext_sales_price,
        |  CAST(((i * 7) % 4000) / 100.0 AS DECIMAL(9,2)) AS ws_ext_ship_cost,
        |  CAST((((i * 17) % 22000) - 11000) / 100.0 AS DECIMAL(9,2)) AS ws_net_profit
        |FROM (SELECT #I# AS i, (#I# * 89) % 20000 AS onum FROM range(0, 60000)) t""",
    "warehouse" ->
      """SELECT CAST(i + 1 AS INT) AS w_warehouse_sk,
        |  'WH' || CAST(i + 1 AS #STR#) AS w_warehouse_name,
        |  CAST((i + 1) * 25000 AS INT) AS w_warehouse_sq_ft,
        |  'CITY' || CAST(i % 60 AS #STR#) AS w_city,
        |  'COUNTY' || CAST(i % 4 AS #STR#) AS w_county,
        |  'S' || CAST(i % 5 AS #STR#) AS w_state,
        |  'COUNTRY0' AS w_country
        |FROM (SELECT #I# AS i FROM range(0, 5)) t""",
    // Weekly snapshot fact (TPC-DS inventory): one row per (week, item,
    // warehouse) over the full 154-week calendar — 231k rows. The
    // quantity is deliberately SPIKY (1-in-9 rows jump to the 0..999
    // range, the rest sit in 0..39): the query39 iceberg needs per-group
    // cov = stddev/mean > 1, the query72 screen needs quantities below
    // typical order sizes, and the query82 band (100..500) needs a thin
    // selective slice — one distribution serves all three.
    "inventory" ->
      """SELECT CAST(2450815 + (i #IDIV# 1500) * 7 AS INT) AS inv_date_sk,
        |  CAST((i % 1500) % 300 + 1 AS INT) AS inv_item_sk,
        |  CAST((i % 1500) #IDIV# 300 + 1 AS INT) AS inv_warehouse_sk,
        |  CAST(CASE WHEN #H(substr(md5(CAST(i AS #STR#) || ':inq'), 1, 15))H# % 9 = 0
        |       THEN #H(substr(md5(CAST(i AS #STR#) || ':inv'), 1, 15))H# % 1000
        |       ELSE #H(substr(md5(CAST(i AS #STR#) || ':inv'), 1, 15))H# % 40
        |       END AS INT) AS inv_quantity_on_hand
        |FROM (SELECT #I# AS i FROM range(0, 231000)) t""",
    "web_site" ->
      """SELECT CAST(i + 1 AS INT) AS web_site_sk,
        |  'WS' || CAST(i + 1 AS #STR#) AS web_site_id,
        |  'WC' || CAST(i % 4 AS #STR#) AS web_company_name
        |FROM (SELECT #I# AS i FROM range(0, 8)) t""",
    // every ~10th web order has a return; row i mirrors web_sales LINE
    // k = 10*i (same item-hash seed), so (order, item) pairs join exactly.
    // Returning/refunded demographics COINCIDE for a third of returns
    // (the same-person case query85's cd1=cd2 equality screen needs).
    "web_returns" ->
      """SELECT CAST((i * 890) % 20000 AS INT) AS wr_order_number,
        |  CAST(#H(substr(md5(CAST(i * 10 AS #STR#) || ':wit'), 1, 15))H# % 300 + 1 AS INT) AS wr_item_sk,
        |  CAST(i % 15 + 1 AS INT) AS wr_return_quantity,
        |  CAST(((i * 17) % 8000 + 100) / 100.0 AS DECIMAL(9,2)) AS wr_return_amt,
        |  CAST(((i * 7) % 4000 + 50) / 100.0 AS DECIMAL(9,2)) AS wr_net_loss,
        |  CAST(((i * 11) % 6000 + 100) / 100.0 AS DECIMAL(9,2)) AS wr_refunded_cash,
        |  CAST(((i * 5) % 2000) / 100.0 AS DECIMAL(9,2)) AS wr_fee,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wrc'), 1, 15))H# % 1920 + 1 AS INT) AS wr_refunded_cdemo_sk,
        |  CASE WHEN i % 3 = 0
        |       THEN CAST(#H(substr(md5(CAST(i AS #STR#) || ':wrc'), 1, 15))H# % 1920 + 1 AS INT)
        |       ELSE CAST(#H(substr(md5(CAST(i AS #STR#) || ':wrd'), 1, 15))H# % 1920 + 1 AS INT)
        |       END AS wr_returning_cdemo_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wra'), 1, 15))H# % 2500 + 1 AS INT) AS wr_refunded_addr_sk,
        |  CAST(#H(substr(md5(CAST(i AS #STR#) || ':wrr'), 1, 15))H# % 12 + 1 AS INT) AS wr_reason_sk
        |FROM (SELECT #I# AS i FROM range(0, 2000)) t""",
    "web_page" ->
      """SELECT CAST(i + 1 AS INT) AS wp_web_page_sk,
        |  CAST(4800 + i * 40 AS INT) AS wp_char_count
        |FROM (SELECT #I# AS i FROM range(0, 20)) t""",
    "call_center" ->
      """SELECT CAST(i + 1 AS INT) AS cc_call_center_sk,
        |  'CC' || CAST(i + 1 AS #STR#) AS cc_call_center_id,
        |  'CENTER' || CAST(i + 1 AS #STR#) AS cc_name,
        |  'MGR' || CAST(i % 3 AS #STR#) AS cc_manager
        |FROM (SELECT #I# AS i FROM range(0, 4)) t""",
    "reason" ->
      """SELECT CAST(i + 1 AS INT) AS r_reason_sk,
        |  'REASON' || CAST(i + 1 AS #STR#) AS r_reason_desc
        |FROM (SELECT #I# AS i FROM range(0, 12)) t""",
    "catalog_page" ->
      """SELECT CAST(i + 1 AS INT) AS cp_catalog_page_sk,
        |  'CP' || CAST(i + 1 AS #STR#) AS cp_catalog_page_id
        |FROM (SELECT #I# AS i FROM range(0, 25)) t""")
    .map { case (n, t) => n -> t.stripMargin }

  private def sparkSql(t: String): String =
    t.replace("#I#", "id").replace("#IDIV#", " DIV ").replace("#STR#", "STRING")
      .replace("#H(", "CAST(conv(").replace(")H#", ", 16, 10) AS BIGINT)")

  private def duckSql(t: String): String =
    t.replace("#I#", "range").replace("#IDIV#", " // ").replace("#STR#", "VARCHAR")
      .replace("#H(", "CAST(('0x' || ").replace(")H#", ") AS BIGINT)")

  /** Oracle prologue: every lite table as a DuckDB CTE (unreferenced CTEs
    * are pruned by DuckDB, so one uniform prologue serves all queries),
    * closed by a dummy so query bodies can write `WITH #TABLES#, own AS
    * (...)` or `WITH #TABLES# SELECT`. */
  lazy val duckPrologue: String =
    gens.map { case (n, t) => s"$n AS (\n${duckSql(t)})" }.mkString(",\n") +
      ",\n_lite AS (SELECT 1 AS one)"

  private val sparkPrologue = "_lite AS (SELECT 1 AS one)"

  /** Expand a shared query body for each engine. */
  def forSpark(body: String): String = body.replace("#TABLES#", sparkPrologue)
  def forDuck(body: String): String = body.replace("#TABLES#", duckPrologue)

  /** Spark-dialect generator SQL for one table with the fact row count
    * scaled ×`factor` — the scale-experiment hook (`tools/TpcdsScale`):
    * same closed-form columns, more rows, so join selectivities and the
    * date-partition layout are preserved under scale-up. */
  private[graft] def sparkGenSql(table: String, factor: Int): String = {
    val t = gens.find(_._1 == table)
      .getOrElse(sys.error(s"unknown lite table $table"))._2
    sparkSql(t.replace("range(0, 120000)", s"range(0, ${120000L * factor})")
      .replace("range(0, 60000)", s"range(0, ${60000L * factor})")
      .replace("range(0, 12000)", s"range(0, ${12000L * factor})")
      .replace("range(0, 6000)", s"range(0, ${6000L * factor})"))
  }

  // versioned by the generator text: template edits invalidate the cache
  private def scratch: String =
    s"${Engine.scratchRoot}/tpcds_lite_${gens.hashCode.toHexString}"

  private val registered =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  /** Materialize (once per scratch dir) and register all lite tables as
    * temp views reading the parquet — real file scans, so plans carry
    * pushed filters, pruned schemas, and DPP over the partitioned fact. */
  def register(spark: SparkSession): Unit = synchronized {
    // a lite view must NEVER shadow a warehouse table: temp-view
    // registration is session-global and Engine.registerAll caches, so a
    // collision silently redirects every later warehouse query in the
    // session (the bug that renamed `customer` → `tpcds_customer`)
    val clash = gens.map(_._1).toSet
      .intersect(graft.Engine.TableNames.map(_.toLowerCase).toSet)
    require(clash.isEmpty,
      s"TPC-DS-lite table(s) $clash collide with warehouse tables")
    val dir = scratch
    val marker = new java.io.File(s"$dir/_LITE_READY")
    if (!marker.exists()) {
      // Cross-process safety (bench + sbt test share this scratch): build
      // into a process-private temp dir, then PUBLISH with one atomic
      // rename — a concurrent reader either sees no dir (and builds its
      // own candidate) or the complete one, never a half-written table.
      // The loser's rename fails (target exists), it discards its
      // candidate and reads the winner's.
      val tmp = new java.io.File(
        s"$dir.tmp-${java.lang.ProcessHandle.current().pid()}")
      gens.foreach { case (name, t) =>
        val df = spark.sql(sparkSql(t))
        if (name == "store_sales")
          // repartition by the partition column first: otherwise every one
          // of the 32 write tasks emits a file per date it holds (~34k
          // files); this way each date's rows land in one task → ~1 file
          // per partition dir
          df.repartition(org.apache.spark.sql.functions.col("ss_sold_date_sk"))
            .write.mode("overwrite").partitionBy("ss_sold_date_sk")
            .parquet(s"$tmp/$name")
        else df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/$name")
      }
      new java.io.File(tmp, "_LITE_READY").createNewFile()
      if (!tmp.renameTo(new java.io.File(dir))) {
        // another process published first — ours is redundant
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(tmp)
        require(marker.exists(),
          s"lite scratch $dir exists without a ready marker — remove it")
      }
    }
    val key = s"${System.identityHashCode(spark)}:$dir"
    if (registered.add(key))
      gens.foreach { case (name, _) =>
        spark.read.parquet(s"$dir/$name").createOrReplaceTempView(name)
      }
  }
}
