package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.{ExactAgg, Sql}
import graft.operators.{Chunker, TopK, Upsert}

/** Relational operator coverage over the driver's TPC-H-ish testdata.
  * Each query re-expresses one or more SURVEY.md §2 operators as a Spark
  * plan, with a DuckDB oracle that must hash-match. Scale notes per query
  * describe the 100 TB shape (shuffle count, broadcastability).
  */
object CoreQueries {

  /** q01 — A1 group-by multi-agg (the reference's core analytic,
    * aggregate_rental_rates.py:119-140) incl. the n==1→0 stddev rule.
    * Scale: one hash-partial + final exchange on the two group cols;
    * integer partial aggregation is lossless map-side combine.
    */
  private val q01 = Q("q01_agg_groupby",
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          ExactAgg.sumFx(col("l_quantity")).as("sum_qty"),
          ExactAgg.sumFx(col("l_extendedprice")).as("sum_price"),
          ExactAgg.avgFx(col("l_discount")).as("avg_disc"),
          ExactAgg.stddevFx(col("l_quantity")).as("std_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${Sql.sumFx("l_quantity")} AS sum_qty,
      ${Sql.sumFx("l_extendedprice")} AS sum_price,
      ${Sql.avgFx("l_discount")} AS avg_disc,
      ${Sql.stddevFx("l_quantity")} AS std_qty,
      COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** q02 — J1 enrichment join chain + A1: revenue per nation.
    * Scale: fact-fact join shuffles on orderkey; customer/nation are
    * broadcast (dims ≪ fact) so only ONE exchange touches lineitem.
    */
  private val q02 = Q("q02_join_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          ExactAgg.revenueFx(col("l_extendedprice"), col("l_discount"))
            .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("n_name"))
    },
    Some(s"""SELECT n_name,
      ${Sql.revenueFx("l_extendedprice", "l_discount")} AS revenue,
      COUNT(*) AS n
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  /** q03 — P3/P6 predicate pushdown + global agg (TPC-H Q6 shape).
    * Scale: filter + project reach the parquet scan (PushedFilters);
    * single-row result, no wide exchange at all.
    */
  private val q03 = Q("q03_filter_pushdown",
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          ExactAgg.revenueFx(col("l_extendedprice"), col("l_discount"))
            .as("revenue"),
          count(lit(1)).as("n"))
    },
    Some(s"""SELECT
      ${Sql.revenueFx("l_extendedprice", "l_discount")} AS revenue,
      COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24"""))

  /** q04 — A5/W3 per-group top-k (ranked retrieval shape,
    * transcript_summaries.py:271-275). Tie-free ordering via orderkey.
    * Scale: rank pushes a per-partition k-limit into the window sort.
    */
  private val q04 = Q("q04_window_topk",
    (s, dir) => {
      TopK.perGroup(t(s, dir, "orders"),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    },
    Some("""SELECT o_custkey, o_orderkey, rk FROM (
      SELECT o_custkey, o_orderkey,
        ROW_NUMBER() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) WHERE rk <= 3
      ORDER BY o_custkey, rk"""))

  /** q05 — J5 anti-join (delisting set-diff,
    * archive_delisted_properties.py:93-119): customers with no orders.
    * Scale: shuffled hash anti-join on the key, or broadcast when the
    * right side's distinct keys fit (AQE decides).
    */
  private val q05 = Q("q05_anti_join",
    (s, dir) => {
      Upsert.delisted(t(s, dir, "customer"),
        t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .withColumnRenamed("o_custkey", "c_custkey"),
        Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01')
      ORDER BY c_custkey"""))

  /** q06 — J7 semi-join existence filter (skip-already-processed,
    * get_edm_council_transcripts.py:186-190).
    */
  private val q06 = Q("q06_semi_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val done = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(done, c("c_custkey") === done("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey"""))

  /** q07 — O2 union + O4 distinct (multi-source concat then dedup,
    * combine_broker_listings.py:71-75). Scale: distinct = one exchange
    * on the deduped column; union is free (no shuffle).
    */
  private val q07 = Q("q07_union_dedup",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "click").select(col("user_id"))
        .unionByName(
          e.filter(col("value") > 150).select(col("user_id")))
        .distinct()
        .orderBy(col("user_id"))
    },
    Some("""SELECT DISTINCT user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id FROM events WHERE value > 150)
      ORDER BY user_id"""))

  /** q08 — A2/A3 profile: counts + distinct counts (exact; the engine
    * also exposes approx_count_distinct for the 100 TB path, tested in
    * ScalaTest not against the oracle).
    */
  private val q08 = Q("q08_profile_distinct",
    (s, dir) => {
      t(s, dir, "events").agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_value"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"))
    },
    Some("""SELECT COUNT(*) AS n, COUNT(value) AS n_value,
      COUNT(DISTINCT user_id) AS n_users,
      COUNT(DISTINCT event_type) AS n_types FROM events"""))

  /** q09 — F-chain scalar functions: regex extract (F13/F14), lenient
    * cast with default (F11 safe_cast), case mapping (F8), concat (F2).
    * All codegen'd built-ins, narrow (zero shuffles).
    */
  private val q09 = Q("q09_scalar_funcs",
    (s, dir) => {
      val p = t(s, dir, "part")
      p.select(
        col("p_partkey"),
        upper(col("p_type")).as("type_up"),
        initcap(col("p_name")).as("name_cap"),
        graft.functions.TextFunctions.tokenCount(col("p_name"))
          .as("name_tokens"),
        coalesce(regexp_extract(col("p_brand"), "#(\\d+)", 1)
          .try_cast("int"), lit(0)).as("brand_num"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
      UPPER(p_type) AS type_up,
      ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT(p_name, ' '),
        x -> CONCAT(UPPER(x[1]), LOWER(SUBSTR(x, 2)))), ' ') AS name_cap,
      CASE WHEN LENGTH(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(p_name),
          '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g'))) = 0 THEN 0
        ELSE LENGTH(STRING_SPLIT(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
          LOWER(p_name), '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g')), ' '))
        END AS name_tokens,
      COALESCE(TRY_CAST(REGEXP_EXTRACT(p_brand, '#(\d+)', 1) AS INT), 0)
        AS brand_num,
      CONCAT_WS('/', p_brand, p_type) AS brand_type
      FROM part ORDER BY p_partkey"""))

  /** q10 — F20 JSON extraction from a string column + group agg
    * (get_osm_data.py:149-150 tag parsing shape).
    */
  private val q10 = Q("q10_json_extract",
    (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
      CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
        AS BIGINT) AS sum_k,
      COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** q11 — F12 date part extraction + A1 (permit y/m/d decomposition,
    * get_edm_building_permits.py:43-47).
    */
  private val q11 = Q("q11_date_parts",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n"),
          ExactAgg.sumFx(col("o_totalprice")).as("sum_price"))
        .orderBy(col("y"), col("m"))
    },
    Some(s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
      EXTRACT(MONTH FROM o_orderdate) AS m,
      COUNT(*) AS n, ${Sql.sumFx("o_totalprice")} AS sum_price
      FROM orders GROUP BY y, m ORDER BY y, m"""))

  /** q12 — W1 sliding-window chunking with overlap (N=5, overlap 2 here;
    * reference uses 35/6, transcripts_to_vector_db.py:174-228). One
    * exchange total: the explode reuses the window's hash partitioning.
    */
  private val q12 = Q("q12_chunker",
    (s, dir) => {
      Chunker.slidingChunks(t(s, dir, "events"),
        partCol = "user_id", orderCols = Seq("ts", "event_id"),
        textCol = "event_type", n = 5, overlap = 2)
        .orderBy(col("user_id"), col("chunk_id"))
    },
    Some("""WITH numbered AS (
      SELECT user_id, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    exploded AS (
      SELECT user_id, event_type, rn,
        UNNEST(range(GREATEST(0, CAST(CEIL((rn - 5) / 3.0) AS BIGINT)),
          CAST(FLOOR((rn - 1) / 3.0) AS BIGINT) + 1)) AS chunk_id
      FROM numbered)
    SELECT user_id, chunk_id, COUNT(*) AS n_items,
      STRING_AGG(event_type, ' ' ORDER BY rn) AS text
    FROM exploded GROUP BY user_id, chunk_id
    ORDER BY user_id, chunk_id"""))

  /** q13 — F24/J4 closed-form grid-cell aggregation: the containment
    * join collapsed to floor() projection + groupBy — the engine's
    * biggest asymptotic win over the reference
    * (aggregate_rental_rates.py:122-123). One exchange.
    */
  private val q13 = Q("q13_grid_agg",
    (s, dir) => {
      t(s, dir, "orders")
        .withColumn("cell",
          graft.functions.GeoFunctions.gridCellX(col("o_totalprice"),
            0.0, 25000.0))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          ExactAgg.avgFx(col("o_totalprice")).as("avg_price"),
          ExactAgg.stddevFx(col("o_totalprice")).as("std_price"))
        .orderBy(col("cell"))
    },
    Some(s"""SELECT CAST(FLOOR((o_totalprice - 0.0) / 25000.0) AS BIGINT)
        AS cell,
      COUNT(*) AS n, ${Sql.avgFx("o_totalprice")} AS avg_price,
      ${Sql.stddevFx("o_totalprice")} AS std_price
      FROM orders GROUP BY cell ORDER BY cell"""))

  /** q14 — K2/J6 upsert as pure algebra: ON CONFLICT DO NOTHING of a
    * staged batch into an existing table (combine_and_format.py:122-129).
    * Here: "existing" = orders before 1998, "incoming" = all orders
    * (so the overlap must be dropped); count survivors per status.
    */
  private val q14 = Q("q14_upsert_antidup",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val existing = o.filter(col("o_orderdate") <
        lit("1998-01-01").cast("timestamp"))
      val incoming = o.select(col("o_orderkey"), col("o_orderstatus"))
      Upsert.newRows(existing, incoming, Seq("o_orderkey"),
        tieBreak = Seq("o_orderstatus"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
      WHERE o_orderkey NOT IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-01-01')
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14)
}
