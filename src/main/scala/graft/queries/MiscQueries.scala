package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.operators.{AsofJoin, RangeJoin}

/** Remaining scalar/aggregation surface from SURVEY.md §2 not covered by
  * earlier batches: A6 (sorted collect_set), F16/F17 (h:m:s <-> seconds),
  * F18 (URL parsing), F19 (stringified-list parsing), F6 (array-of-struct
  * to joined string), O1 (limit with total order).
  */
object MiscQueries {

  /** q28 — A6: per-group sorted distinct collect + array join (the
    * REIT page-hit dedup shape, REIT_metrics.py:182-207). Map-side
    * partial collect_set keeps the exchange small at scale.
    */
  private val q28 = Q("q28_collect_agg",
    (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          array_join(sort_array(collect_set(col("lang"))), ",").as("langs"),
          countDistinct(col("lang")).as("n_langs"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    },
    Some("""SELECT source,
      ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT lang)), ',') AS langs,
      COUNT(DISTINCT lang) AS n_langs, COUNT(*) AS n_docs
      FROM documents GROUP BY source ORDER BY source"""))

  /** q29 — F16/F17: seconds -> h:mm:ss formatting and back (transcript
    * timestamp links, get_edm_council_transcripts.py:278-294 /
    * transcript_summaries.py:144-159). Pure integer arithmetic +
    * format_string — codegen'd, narrow.
    */
  private val q29 = Q("q29_time_format",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        (col("event_id") % 86400).as("secs"))
      e.select(
        col("event_id"),
        format_string("%d:%02d:%02d",
          (col("secs") / 3600).cast("long"),
          ((col("secs") % 3600) / 60).cast("long"),
          col("secs") % 60).as("hms"))
        .withColumn("roundtrip_secs",
          split(col("hms"), ":").getItem(0).cast("long") * 3600 +
            split(col("hms"), ":").getItem(1).cast("long") * 60 +
            split(col("hms"), ":").getItem(2).cast("long"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      PRINTF('%d:%02d:%02d', (event_id % 86400) // 3600,
        ((event_id % 86400) % 3600) // 60, (event_id % 86400) % 60) AS hms,
      ((event_id % 86400) // 3600) * 3600 +
        (((event_id % 86400) % 3600) // 60) * 60 +
        ((event_id % 86400) % 60) AS roundtrip_secs
      FROM events ORDER BY event_id"""))

  /** q30 — F18/F19: URL query-param extraction (clean_youtube_url shape)
    * and stringified-list parsing (get_brochure_info.py:132-133), both as
    * regex/split column algebra mirrored exactly in SQL.
    */
  private val q30 = Q("q30_url_listparse",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        concat(lit("https://yt.example/watch?v=vid"), col("event_id"),
          lit("&t="), col("event_id") % 100).as("url"),
        concat(lit("['tag"), col("event_id") % 7, lit("', 'tag"),
          col("event_id") % 3, lit("']")).as("tag_list_str"))
      e.select(
        col("event_id"),
        regexp_extract(col("url"), "[?&]v=([^&]+)", 1).as("video_id"),
        split(regexp_replace(col("tag_list_str"), "[\\[\\]']", ""), ", ")
          .as("tags"))
        .select(col("event_id"), col("video_id"),
          array_join(col("tags"), "|").as("tags_joined"),
          size(col("tags")).cast("long").as("n_tags"))
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (SELECT event_id,
        CONCAT('https://yt.example/watch?v=vid', event_id, '&t=',
          event_id % 100) AS url,
        CONCAT('[''tag', event_id % 7, ''', ''tag', event_id % 3, ''']')
          AS tag_list_str
      FROM events)
      SELECT event_id,
        REGEXP_EXTRACT(url, '[?&]v=([^&]+)', 1) AS video_id,
        ARRAY_TO_STRING(STRING_SPLIT(REGEXP_REPLACE(tag_list_str,
          '[\[\]'']', '', 'g'), ', '), '|') AS tags_joined,
        LEN(STRING_SPLIT(REGEXP_REPLACE(tag_list_str,
          '[\[\]'']', '', 'g'), ', ')) AS n_tags
      FROM e ORDER BY event_id"""))

  /** q32 — W1 with the reference's EXACT window semantics (full windows
    * + double-modulo tail, transcripts_to_vector_db.py:197-225), n=7
    * overlap=3, oracle-mirrored including python-mod on negatives.
    */
  private val q32 = Q("q32_chunker_reference",
    (s, dir) => {
      graft.operators.Chunker.referenceChunks(t(s, dir, "events"),
        partCol = "user_id", tsCol = "event_id", textCol = "event_type",
        n = 7, overlap = 3)
        .orderBy(col("user_id"), col("is_tail"), col("chunk_ts"))
    },
    Some("""WITH numbered AS (
      SELECT user_id, event_type, event_id,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM events),
    fulls AS (
      SELECT user_id, event_id, event_type, rn,
        UNNEST(range(GREATEST(0, CAST(CEIL((rn - 7) / 4.0) AS BIGINT)),
          LEAST(CAST(FLOOR((rn - 1) / 4.0) AS BIGINT),
                CAST(FLOOR((cnt - 7) / 4.0) AS BIGINT)) + 1)) AS k
      FROM numbered WHERE cnt >= 7),
    fullc AS (
      SELECT user_id, MIN(event_id) AS chunk_ts, COUNT(*) AS n_items,
        STRING_AGG(event_type, ' ' ORDER BY rn) AS text, FALSE AS is_tail
      FROM fulls GROUP BY user_id, k),
    tails AS (
      SELECT user_id, MIN(event_id) AS chunk_ts, COUNT(*) AS n_items,
        STRING_AGG(event_type, ' ' ORDER BY rn) AS text, TRUE AS is_tail
      FROM numbered
      WHERE cnt % 4 <> 0 AND ((((cnt - 7) % 4) + 4) % 4) <> 0
        AND rn > cnt - 7
      GROUP BY user_id)
    SELECT * FROM (SELECT * FROM fullc UNION ALL SELECT * FROM tails)
    ORDER BY user_id, is_tail, chunk_ts"""))

  /** q33 — A2 data-profile ratios (the reference's non-null percentage
    * probes, get_AV_listings.py:118): exact integer counts divided once
    * in double — bit-equal across engines without fixed-point tricks.
    */
  private val q33 = Q("q33_profile_ratios",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.agg(
        count(lit(1)).as("n"),
        (count(col("value")).cast("double") / count(lit(1)).cast("double"))
          .as("value_nonnull_ratio"),
        (count(when(col("event_type") === "error", 1)).cast("double") /
          count(lit(1)).cast("double")).as("error_ratio"),
        (countDistinct(col("user_id")).cast("double") /
          count(lit(1)).cast("double")).as("user_card_ratio"))
    },
    Some("""SELECT COUNT(*) AS n,
      (CAST(COUNT(value) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        AS value_nonnull_ratio,
      (CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE)) AS error_ratio,
      (CAST(COUNT(DISTINCT user_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        AS user_card_ratio
      FROM events"""))

  /** q34 — F10 dict→JSON serialization at the sink boundary
    * (combine_broker_listings.py:98-99) + F20 read-back: to_json of a
    * struct, then extraction from the serialized form.
    */
  private val q34 = Q("q34_to_json",
    (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          to_json(struct(col("c_name").as("name"),
            col("c_mktsegment").as("seg"),
            col("c_nationkey").cast("long").as("nation"))).as("doc"))
        .withColumn("seg_back", get_json_object(col("doc"), "$.seg"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
      CAST(to_json(struct_pack(name := c_name, seg := c_mktsegment,
        nation := CAST(c_nationkey AS BIGINT))) AS VARCHAR) AS doc,
      json_extract_string(to_json(struct_pack(name := c_name,
        seg := c_mktsegment, nation := CAST(c_nationkey AS BIGINT))),
        '$.seg') AS seg_back
      FROM customer ORDER BY c_custkey"""))

  /** q43 — backward as-of join ([[graft.operators.AsofJoin]]): each
    * error event picks up the most recent prior click of the same user.
    * Reference side is deduped to one row per (user, ts) so the equal-ts
    * winner is deterministic in both engines. `ts` is TIMESTAMP_NTZ in
    * Spark (parquet TIMESTAMP(MICROS)) and TIMESTAMP in DuckDB; both
    * project epoch microseconds (`unix_micros` under the UTC session /
    * `epoch_us`) so the joined values compare engine-neutrally.
    */
  private val q43 = Q("q43_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val probe = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val ref = e.filter(col("event_type") === "click")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"), col("ts"))
            .orderBy(col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsofJoin.backward(probe, ref, keyCols = Seq("user_id"),
        tsCol = "ts", payloadCols = Seq("event_id", "value"),
        tieCol = "event_id")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          col("r_event_id"), col("r_value"),
          expr("unix_micros(cast(r_ts as timestamp))").as("r_ts_us"))
        .orderBy(col("event_id"))
    },
    Some("""WITH ref AS (
        SELECT user_id, ts, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY user_id, ts
            ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click' QUALIFY rn = 1),
      probe AS (SELECT event_id, user_id, ts
        FROM events WHERE event_type = 'error')
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        r.event_id AS r_event_id, r.value AS r_value,
        epoch_us(r.ts) AS r_ts_us
      FROM probe p ASOF LEFT JOIN ref r
        ON p.user_id = r.user_id AND p.ts >= r.ts
      ORDER BY p.event_id"""))

  /** q44 — gap-based sessionization ([[graft.operators.Sessionize]]):
    * 30-minute-gap sessions per user, collapsed to per-session stats.
    * Sessionizes on epoch-microsecond longs on BOTH sides
    * (`unix_micros` under the UTC session / `epoch_us`) so the gap
    * arithmetic is plain integer math in either engine.
    */
  private val q44 = Q("q44_sessionize",
    (s, dir) => {
      val gapUs = 1800000000L // 30 min
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      graft.operators.Sessionize
        .stats(e, "user_id", "ts_us", gapUs, tieCol = "event_id")
        .select(col("user_id"), col("session_ord"),
          col("n_events"), col("start_ts").as("start_us"),
          col("end_ts").as("end_us"), col("duration").as("duration_us"))
        .orderBy(col("user_id"), col("session_ord"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        FROM events),
      l AS (SELECT user_id, event_id, ts_us,
          CASE WHEN LAG(ts_us) OVER w IS NULL
            OR ts_us - LAG(ts_us) OVER w > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      s AS (SELECT user_id, ts_us,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS UNBOUNDED PRECEDING) AS session_ord
        FROM l)
      SELECT user_id, CAST(session_ord AS BIGINT) AS session_ord,
        COUNT(*) AS n_events, MIN(ts_us) AS start_us,
        MAX(ts_us) AS end_us, MAX(ts_us) - MIN(ts_us) AS duration_us
      FROM s GROUP BY user_id, session_ord
      ORDER BY user_id, session_ord"""))

  /** q46 — keyed interval join ([[graft.operators.RangeJoin]]): every
    * error within one hour after a purchase by the same user. The naive
    * inequality join is a per-user cartesian; the operator cells time at
    * the interval width (replication ≤ 2×) and equi-joins on
    * (user, cell) with exact containment as residual. Microsecond ts on
    * both sides, as in q43/q44.
    */
  private val q46 = Q("q46_range_join",
    (s, dir) => {
      val hourUs = 3600000000L
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts_us").as("err_ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("ts_us").as("lo_us"),
          (col("ts_us") + hourUs).as("hi_us"))
      RangeJoin.pointInInterval(errors, purchases,
          pointCol = "err_ts_us", loCol = "lo_us", hiCol = "hi_us",
          cellWidth = hourUs, keyCols = Seq("user_id"))
        .select(col("err_id"), col("user_id"), col("err_ts_us"),
          col("pur_id"), col("lo_us").as("pur_ts_us"),
          (col("err_ts_us") - col("lo_us")).as("delta_us"))
        .orderBy(col("err_id"), col("pur_id"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
        epoch_us(ts) AS ts_us FROM events)
      SELECT err.event_id AS err_id, err.user_id,
        err.ts_us AS err_ts_us, pur.event_id AS pur_id,
        pur.ts_us AS pur_ts_us, err.ts_us - pur.ts_us AS delta_us
      FROM (SELECT * FROM e WHERE event_type = 'error') err
      JOIN (SELECT * FROM e WHERE event_type = 'purchase') pur
        ON err.user_id = pur.user_id
        AND err.ts_us >= pur.ts_us
        AND err.ts_us <= pur.ts_us + 3600000000
      ORDER BY err_id, pur_id"""))

  /** q48 — salted two-phase aggregation ([[graft.operators.Skew]]) under
    * the oracle gate: hot event-type groups spread over 16 salts in
    * phase 1, re-aggregated in phase 2. Values quantized (ExactAgg) so
    * the two-phase sum is bit-identical to the oracle's one-phase sum —
    * the lossless-composition property that makes salting safe at all.
    */
  private val q48 = Q("q48_skew_salted_agg",
    (s, dir) => {
      import graft.functions.ExactAgg
      graft.operators.Skew.saltedAggregate(
        t(s, dir, "events"), keys = Seq("event_type"),
        saltBy = Seq(col("event_id")), salts = 16,
        partialAggs = Seq(count(lit(1)).as("pn"),
          sum(ExactAgg.ints(col("value")).cast("decimal(38,0)")).as("psum")),
        finalAggs = Seq(sum(col("pn")).as("n_events"),
          (sum(col("psum")).cast("double") / lit(100.0)).as("sum_value")))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
          AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** q52 — salted equi-join for a hot-key fact side
    * ([[graft.operators.Skew]].saltedJoin): events (5 hot event_type
    * keys) join a small per-type dim; left rows spread over 8 salts,
    * dim replicated per salt, so no reducer sees a whole hot key.
    * Salt assignment is a deterministic hash of event_id — retryable
    * shuffle output — and the JOIN RESULT is exact, which is precisely
    * what the oracle (plain join) certifies.
    */
  private val q52 = Q("q52_skew_salted_join",
    (s, dir) => {
      import graft.functions.ExactAgg
      val e = t(s, dir, "events")
      val dim = e.select(col("event_type")).distinct()
        .withColumn("type_weight", length(col("event_type")).cast("long"))
      graft.operators.Skew.saltedJoin(e, dim, Seq("event_type"),
          saltBy = Seq(col("event_id")), salts = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum((ExactAgg.ints(col("value")) * col("type_weight"))
            .cast("decimal(38,0)")).cast("double") / lit(100.0))
            .as("weighted_value"))
        .orderBy(col("event_type"))
    },
    Some("""WITH dim AS (SELECT DISTINCT event_type,
          CAST(LENGTH(event_type) AS BIGINT) AS type_weight FROM events)
      SELECT e.event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(ROUND(e.value * 100.0) AS BIGINT) * d.type_weight)
          AS DOUBLE) / 100.0 AS weighted_value
      FROM events e JOIN dim d ON e.event_type = d.event_type
      GROUP BY e.event_type ORDER BY e.event_type"""))

  /** q67 — q44's sessionization through the (key, bucket) stitch
    * ([[graft.operators.Sessionize.assignStitched]], 1-hour buckets ≥
    * the 30-min gap): the event window partitions on (user, hour) so a
    * mega-user's history never serializes one reducer, and boundary
    * sessions merge through the bounded per-bucket stitch frame.
    * Shares q44's oracle verbatim — the stitch must be invisible.
    */
  private val q67 = Q("q67_sessionize_stitched",
    (s, dir) => {
      val gapUs = 1800000000L // 30 min
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      graft.operators.Sessionize
        .stats(e, "user_id", "ts_us", gapUs, tieCol = "event_id",
          stitchBucket = Some(3600000000L)) // 1 h
        .select(col("user_id"), col("session_ord"),
          col("n_events"), col("start_ts").as("start_us"),
          col("end_ts").as("end_us"), col("duration").as("duration_us"))
        .orderBy(col("user_id"), col("session_ord"))
    },
    q44.oracle)

  /** q81 — WARC record parsing ([[graft.sources.Warc]]): the web-
    * archive container Common Crawl ships, round-tripped like
    * q78-q80. Each doc encodes to a two-record WARC blob (response =
    * text, metadata = lang); every 17th blob truncates inside the
    * first header (zero records survive) and every 19th truncates
    * inside the SECOND record's payload (exactly the first record
    * survives — the complete-prefix contract). The oracle replays the
    * construction analytically.
    */
  private val q81 = Q("q81_warc_records",
    (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.sources.Warc
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val payloadType = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType)))
      val blobs = s.createDataFrame(docs.rdd.mapPartitions(_.map { r =>
        val id = r.getLong(0)
        val uri = s"http://docs.example/$id"
        val rec0 = Warc.WarcRecord("response", uri,
          "2026-01-01T00:00:00Z", r.getString(1).getBytes("UTF-8"))
        val rec1 = Warc.WarcRecord("metadata", uri + "/meta",
          "2026-01-01T00:00:00Z", r.getString(2).getBytes("UTF-8"))
        val full = Warc.encode(Seq(rec0, rec1))
        val bytes =
          if (id % 17 == 0) full.take(20)
          else if (id % 19 == 0) {
            val r0len = Warc.encode(Seq(rec0)).length
            full.take(r0len + (full.length - r0len) / 2)
          } else full
        Row(id, bytes)
      }), payloadType)
      Warc.records(blobs, "doc_id", "payload")
        .select(col("doc_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"), col("payload_text"))
        .orderBy(col("doc_id"), col("rec_idx"))
    },
    Some("""WITH recs AS (
        SELECT doc_id, CAST(0 AS INT) AS rec_idx, 'response' AS warc_type,
          'http://docs.example/' || CAST(doc_id AS VARCHAR) AS target_uri,
          CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS content_length,
          text AS payload_text
        FROM documents WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id, CAST(1 AS INT), 'metadata',
          'http://docs.example/' || CAST(doc_id AS VARCHAR) || '/meta',
          CAST(OCTET_LENGTH(ENCODE(lang)) AS BIGINT), lang
        FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0)
      SELECT doc_id, rec_idx, warc_type, target_uri, content_length,
        payload_text
      FROM recs ORDER BY doc_id, rec_idx"""))

  /** q82 — URL canonicalization
    * ([[graft.functions.TextFunctions.canonicalUrl]]): the web-corpus
    * dedup key. URLs are synthesized per event_id with every
    * normalization hazard — mixed-case scheme/host, default and
    * non-default explicit ports, empty paths, unsorted query params,
    * tracking params, fragments — and the oracle computes the expected
    * canonical form ANALYTICALLY from the id arithmetic (it never
    * re-implements the parser), so the gate checks normalization
    * semantics end to end.
    */
  private val q82 = Q("q82_url_canonical",
    (s, dir) => {
      import graft.functions.TextFunctions
      val e = t(s, dir, "events").select(col("event_id"),
        concat(
          when(col("event_id") % 2 === 0, "HTTPS").otherwise("http"),
          lit("://"),
          when(col("event_id") % 3 === 0, "EXAMPLE.com")
            .when(col("event_id") % 3 === 1, "sub.Example.org")
            .otherwise("Example.com"),
          when(col("event_id") % 4 === 0,
            when(col("event_id") % 2 === 0, ":443").otherwise(":80"))
            .when(col("event_id") % 4 === 1, lit(":8080"))
            .otherwise(lit("")),
          when(col("event_id") % 5 === 0, lit(""))
            .otherwise(concat(lit("/a/b"), col("event_id") % 7)),
          lit("?b="), col("event_id") % 3,
          lit("&utm_source=x&a="), col("event_id") % 5,
          lit("&fbclid=zz#frag"), col("event_id") % 2).as("url"))
      e.select(col("event_id"), col("url"),
          TextFunctions.canonicalUrl(col("url")).as("canonical_url"))
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (SELECT event_id,
        CONCAT(
          CASE WHEN event_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END,
          '://',
          CASE WHEN event_id % 3 = 0 THEN 'EXAMPLE.com'
               WHEN event_id % 3 = 1 THEN 'sub.Example.org'
               ELSE 'Example.com' END,
          CASE WHEN event_id % 4 = 0 THEN
                 CASE WHEN event_id % 2 = 0 THEN ':443' ELSE ':80' END
               WHEN event_id % 4 = 1 THEN ':8080'
               ELSE '' END,
          CASE WHEN event_id % 5 = 0 THEN ''
               ELSE CONCAT('/a/b', event_id % 7) END,
          '?b=', event_id % 3,
          '&utm_source=x&a=', event_id % 5,
          '&fbclid=zz#frag', event_id % 2) AS url
      FROM events)
      SELECT event_id, url,
        CONCAT(
          CASE WHEN event_id % 2 = 0 THEN 'https' ELSE 'http' END,
          '://',
          CASE WHEN event_id % 3 = 1 THEN 'sub.example.org'
               ELSE 'example.com' END,
          CASE WHEN event_id % 4 = 1 THEN ':8080' ELSE '' END,
          CASE WHEN event_id % 5 = 0 THEN '/'
               ELSE CONCAT('/a/b', event_id % 7) END,
          '?a=', event_id % 5, '&b=', event_id % 3) AS canonical_url
      FROM e ORDER BY event_id"""))

  /** q90 — deterministic fixed-iteration PageRank
    * ([[graft.operators.GraphRank.pageRank]]) on the symmetrized
    * customer↔supplier purchase graph (orders ⋈ lineitem): the
    * domain-authority centrality prior. The trajectory is EXACT
    * INTEGER arithmetic (scaled long ranks, 85/100 damping, integer
    * division), so the unrolled CTE oracle replays it with no
    * floating-point mirroring at all — a double formulation
    * hash-mismatched by 1 ulp because DuckDB contracts a + b·c into
    * an FMA. Symmetrization guarantees no dangling nodes (the
    * operator rejects them loudly).
    */
  private val q90 = Q("q90_pagerank",
    (s, dir) => {
      import graft.operators.GraphRank
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"))
      val raw = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c:"), col("o_custkey").cast("string"))
          .as("src"),
          concat(lit("s:"), col("l_suppkey").cast("string")).as("dst"))
        .distinct()
      val sym = raw.unionByName(
        raw.select(col("dst").as("src"), col("src").as("dst")))
      GraphRank.pageRank(sym, "src", "dst", iters = 3)
        .orderBy(col("id"))
    },
    Some {
      val S = 1000000000000L
      def cte(i: Int, prev: String): String =
        s"""c$i AS (SELECT e.dst AS id, SUM(r.r_q // r.deg) AS csum
          FROM e JOIN $prev r ON e.src = r.id GROUP BY e.dst),
        r$i AS (SELECT d.id, d.deg,
            CAST((($S - $S * 85 // 100) // (SELECT n FROM nn)) +
              (COALESCE(c.csum, 0) * 85 // 100) AS BIGINT) AS r_q
          FROM deg d LEFT JOIN c$i c ON d.id = c.id)"""
      s"""WITH eraw AS (SELECT DISTINCT
          'c:' || CAST(o_custkey AS VARCHAR) AS src,
          's:' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT src, dst FROM eraw
        UNION SELECT dst AS src, src AS dst FROM eraw),
      deg AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY src),
      nn AS (SELECT COUNT(*) AS n FROM deg),
      r0 AS (SELECT id, deg,
          $S // (SELECT n FROM nn) AS r_q FROM deg),
      ${cte(1, "r0")},
      ${cte(2, "r1")},
      ${cte(3, "r2")}
      SELECT id, r_q, CAST(r_q AS DOUBLE) / $S.0 AS r
      FROM r3 ORDER BY id"""
    })

  /** q113 — per-node TRIANGLE counts (round 8,
    * [[graft.operators.GraphRank.triangleCounts]]): the local
    * clustering companion to q90's centrality. The fixture is a
    * deterministic ring over doc ids with +1/+2 chords plus sparse +4
    * and ×3 chord families (counts vary 3–5, so a miscount anywhere
    * shifts the hash). The operator runs the degree-ordered
    * compact-forward algorithm (O(m^1.5) — hub nodes never enumerate
    * full neighbor pairs); the oracle closes the plain a<b<c triple
    * join over the same canonical edges — identical triangles either
    * way, exact integer counts.
    */
  private val q113 = Q("q113_triangle_counts",
    (s, dir) => {
      import graft.operators.GraphRank
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val d = col("doc_id")
      def ring(off: Int) =
        docs.select(d.as("src"), pmod(d + off, lit(n)).as("dst"))
      val edges = ring(1)
        .unionByName(ring(2))
        .unionByName(docs.filter(pmod(d, lit(3)) === 0)
          .select(d.as("src"), pmod(d + 4, lit(n)).as("dst")))
        .unionByName(docs.filter(pmod(d, lit(5)) === 0)
          .select(d.as("src"), pmod(d * 3, lit(n)).as("dst")))
      GraphRank.triangleCounts(edges, "src", "dst")
        .orderBy(col("id"))
    },
    Some("""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      e0 AS (SELECT doc_id AS src,
          (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
        UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
          FROM documents
        UNION ALL SELECT doc_id, (doc_id + 4) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 3 = 0
        UNION ALL SELECT doc_id, (doc_id * 3) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 5 = 0),
      ce AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
          GREATEST(src, dst) AS b
        FROM e0 WHERE src <> dst),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM ce e1 JOIN ce e2 ON e2.a = e1.b
        JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
      perv AS (SELECT UNNEST([x, y, z]) AS id FROM tri)
      SELECT id, COUNT(*) AS triangles FROM perv
      GROUP BY id ORDER BY id"""))

  /** q133 — label-propagation communities (round 11,
    * [[graft.operators.GraphRank.labelPropagation]], Raghavan 2007):
    * the soft-cluster layer on q113's ring+chord fixture — 3
    * synchronous rounds, vote winner (count DESC, label ASC). The
    * oracle unrolls the rounds as CTEs with a ROW_NUMBER argmax (the
    * engine's min(struct(−c, lbl)) is the same total order) and joins
    * community sizes back.
    */
  private val q133 = Q("q133_label_propagation",
    (s, dir) => {
      import graft.operators.GraphRank
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val d = col("doc_id")
      def ring(off: Int) =
        docs.select(d.as("src"), pmod(d + off, lit(n)).as("dst"))
      val edges = ring(1)
        .unionByName(ring(2))
        .unionByName(docs.filter(pmod(d, lit(3)) === 0)
          .select(d.as("src"), pmod(d + 4, lit(n)).as("dst")))
        .unionByName(docs.filter(pmod(d, lit(5)) === 0)
          .select(d.as("src"), pmod(d * 3, lit(n)).as("dst")))
      val labels = GraphRank.labelPropagation(edges, "src", "dst",
        iters = 3)
      val comm = labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("comm_size"))
      labels.join(comm, Seq("lbl"))
        .select(col("id"), col("lbl").as("label"), col("comm_size"))
        .orderBy(col("id"))
    },
    Some {
      def rnd(i: Int, prev: String): String =
        s"""v$i AS (SELECT e.dst AS id, l.lbl AS lbl, COUNT(*) AS c
          FROM e JOIN $prev l ON e.src = l.id GROUP BY e.dst, l.lbl),
        l$i AS (SELECT id, lbl FROM (SELECT id, lbl,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl)
              AS rn FROM v$i) WHERE rn = 1)"""
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      e0 AS (SELECT doc_id AS src,
          (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
        UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
          FROM documents
        UNION ALL SELECT doc_id, (doc_id + 4) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 3 = 0
        UNION ALL SELECT doc_id, (doc_id * 3) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 5 = 0),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e0 WHERE src <> dst
        UNION ALL SELECT dst AS src, src AS dst FROM e0
          WHERE src <> dst)),
      l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
      ${rnd(1, "l0")}, ${rnd(2, "l1")}, ${rnd(3, "l2")},
      comm AS (SELECT lbl, COUNT(*) AS comm_size FROM l3 GROUP BY lbl)
      SELECT l.id AS id, l.lbl AS label,
        CAST(c.comm_size AS BIGINT) AS comm_size
      FROM l3 l JOIN comm c USING (lbl) ORDER BY id"""
    })

  /** q147 — Benford first-digit audit over order totals
    * ([[graft.operators.Profile.benfordChi2]], round 11): χ² of each
    * priority class's first-digit distribution against Benford's law,
    * the numeric-column health check for fabricated/capped values.
    * Prices convert to integer CENTS (decimal shift never changes the
    * leading digit; digit taken from the decimal STRING — no runtime
    * log10), and the irrational Benford expectations are ppm LITERALS
    * computed once driver-side and embedded in BOTH plans (the
    * q126/q128 precedent), so every cell is one integral division of
    * exact integers.
    */
  private val q147 = Q("q147_benford_totalprice",
    (s, dir) => {
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      graft.operators.Profile.benfordChi2(
          t(s, dir, "orders")
            .select(col("o_orderpriority"), cents.as("cents")),
          "o_orderpriority", "cents")
        .withColumnRenamed("grp", "o_orderpriority")
        .orderBy(col("o_orderpriority"))
    },
    Some {
      val pvals = graft.operators.Profile.BenfordPpm
        .map { case (d, p) => s"($d, $p)" }.mkString(", ")
      s"""WITH p(d, ppm) AS (VALUES $pvals),
        v AS (SELECT o_orderpriority AS grp,
            CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
          FROM orders),
        dg AS (SELECT grp,
            CAST(SUBSTR(CAST(c AS VARCHAR), 1, 1) AS INT) AS d
          FROM v WHERE c > 0),
        obs AS (SELECT grp, d, COUNT(*) AS o FROM dg GROUP BY grp, d),
        ns AS (SELECT grp, SUM(o) AS n FROM obs GROUP BY grp),
        cells AS (SELECT ns.grp, ns.n, p.ppm, COALESCE(obs.o, 0) AS o
          FROM ns CROSS JOIN p LEFT JOIN obs
            ON obs.grp = ns.grp AND obs.d = p.d),
        terms AS (SELECT grp, n,
            ((1000000 * CAST(o AS HUGEINT) - CAST(n AS HUGEINT) * ppm)
              * (1000000 * CAST(o AS HUGEINT) - CAST(n AS HUGEINT) * ppm)
              * 1000000)
              // (CAST(n AS HUGEINT) * ppm * 1000000) AS term
          FROM cells)
        SELECT grp AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_vals,
          CAST(SUM(term) AS BIGINT) AS benford_q
        FROM terms GROUP BY grp ORDER BY o_orderpriority"""
    })

  /** q148 — METADATA-ONLY predicate aggregates
    * ([[graft.sources.TableStore.aggWhere]], round 11): a key-window
    * revenue total over a range-clustered store table settles
    * interior files from the manifest's exact per-file sums —
    * zero I/O — and reads only the boundary files; this gate builds
    * the table from orders in-query and certifies the metadata path's
    * (count, sum, min, max) against DuckDB's full aggregate over the
    * same window. Cents keep the totals exact (the q147 conversion).
    */
  private val q148 = Q("q148_metadata_agg",
    (s, dir) => {
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), cents.as("cents"))
      Scratch.withDir("graft_q148_st") { root =>
        val store = new graft.sources.TableStore(s, root)
        store.rewrite("ord",
          orders.repartitionByRange(8, col("o_orderkey"))
            .sortWithinPartitions(col("o_orderkey")))
        store.analyze("ord", Seq("o_orderkey", "cents"))
        val a = store.aggWhere("ord",
          col("o_orderkey") >= 5000 && col("o_orderkey") < 50000, "cents")
        def l(v: Option[java.math.BigDecimal]) =
          v.map(b => lit(b.longValueExact()))
            .getOrElse(lit(null).cast("long"))
        s.range(1).select(lit(a.count).as("cnt"),
          lit(a.sum.longValueExact()).as("sum_cents"),
          l(a.min).as("min_cents"), l(a.max).as("max_cents"))
      }(s)
    },
    Some("""SELECT COUNT(*) AS cnt, CAST(SUM(c) AS BIGINT) AS sum_cents,
        MIN(c) AS min_cents, MAX(c) AS max_cents
      FROM (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE o_orderkey >= 5000 AND o_orderkey < 50000)"""))

  /** q155 — order-independent content digest
    * ([[graft.functions.Digest.tableDigest]], round 11): per-source
    * mod-2^64 sums of 60-bit canonical row hashes over
    * (doc_id, source, n_chars, text) — the cross-engine table
    * integrity audit. The oracle recomputes every row hash (md5 +
    * 15-hex-digit parse) and the HUGEINT wrap from scratch, so the
    * gate certifies that BOTH engines agree on the digest of the same
    * data — exactly the migration-audit use case.
    */
  private val q155 = Q("q155_content_digest",
    (s, dir) => graft.functions.Digest
      .tableDigest(t(s, dir, "documents"),
        Seq("doc_id", "source", "n_chars", "text"), Seq("source"))
      .orderBy(col("source")),
    Some {
      val b15 = SamplingQueries.bucketSql("h", 15)
      s"""WITH rowh AS (SELECT source, CAST($b15 AS BIGINT) AS h
          FROM (SELECT source, md5(CONCAT('digest', ':',
              CONCAT_WS(CHR(1),
                COALESCE(CAST(doc_id AS VARCHAR), '[NULL]'),
                COALESCE(CAST(source AS VARCHAR), '[NULL]'),
                COALESCE(CAST(n_chars AS VARCHAR), '[NULL]'),
                COALESCE(CAST(text AS VARCHAR), '[NULL]')))) AS h,
              source
            FROM documents)),
        d AS (SELECT source, COUNT(*) AS n_rows,
            SUM(CAST(h AS HUGEINT))
              % CAST('18446744073709551616' AS HUGEINT) AS du
          FROM rowh GROUP BY source)
      SELECT source, n_rows,
        CAST(CASE WHEN du >= CAST('9223372036854775808' AS HUGEINT)
          THEN du - CAST('18446744073709551616' AS HUGEINT) ELSE du END
          AS BIGINT) AS digest
      FROM d ORDER BY source"""
    })

  /** q158 — ordered-step conversion funnel
    * ([[graft.operators.Funnel.conversion]], round 11): users
    * completing view → click → purchase, each step strictly after the
    * previous step's earliest binding and within 24 h of the first
    * view — the classic product-analytics report. Timestamps compare
    * as epoch micros on BOTH engines (`unix_micros` ⇄ `epoch_us`,
    * event-id tie-break), so the greedy-earliest match is exact and
    * engine-portable.
    */
  private val q158 = Q("q158_event_funnel",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.conversion(e, "user_id", "t_us",
          "event_id", "event_type",
          Seq("view", "click", "purchase"),
          maxSpanMicros = Some(24L * 3600 * 1000000))
        .orderBy(col("step"))
    },
    Some {
      val span = 24L * 3600 * 1000000
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
        s1 AS (SELECT user_id,
            MIN(struct_pack(t := t, id := event_id)) AS k1
          FROM e WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id,
            MIN(struct_pack(t := e.t, id := e.event_id)) AS k2,
            MIN((s1.k1).t) AS t0
          FROM e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click'
            AND struct_pack(t := e.t, id := e.event_id) > s1.k1
            AND e.t - (s1.k1).t <= $span
          GROUP BY e.user_id),
        s3 AS (SELECT e.user_id,
            MIN(struct_pack(t := e.t, id := e.event_id)) AS k3
          FROM e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase'
            AND struct_pack(t := e.t, id := e.event_id) > s2.k2
            AND e.t - s2.t0 <= $span
          GROUP BY e.user_id)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
          (SELECT COUNT(*) FROM s1) AS n_users
        UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
      ORDER BY step"""
    })

  /** q159 — daily retention cohorts
    * ([[graft.operators.Funnel.retentionCohorts]], round 11): users
    * bucketed by their first active day, (cohort, k) cells counting
    * who returned k days later — exact epoch-micros bucket arithmetic
    * on both engines.
    */
  private val q159 = Q("q159_retention_cohorts",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"))
      graft.operators.Funnel.retentionCohorts(e, "user_id", "t_us",
          bucketMicros = 24L * 3600 * 1000000)
        .orderBy(col("cohort"), col("k"))
    },
    Some {
      val b = 24L * 3600 * 1000000
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        act AS (SELECT DISTINCT user_id, t // $b AS b FROM e),
        coh AS (SELECT user_id, MIN(b) AS c FROM act GROUP BY user_id)
      SELECT c AS cohort, CAST(b - c AS BIGINT) AS k,
        COUNT(*) AS n_users
      FROM act JOIN coh USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort, k"""
    })

  /** q161 — ROLLUP subtotal hierarchy (round 11): the multi-level
    * aggregation surface (per (priority, status), per priority, grand
    * total in ONE pass — Spark's Expand + single aggregate, no
    * re-scan per level) with GROUPING markers distinguishing a real
    * NULL group from a subtotal row. Money as the q147 cents
    * convention (positive-value ROUND is correctly-rounded in both
    * engines) so the sums gate exactly.
    */
  private val q161 = Q("q161_rollup_subtotals",
    (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping(col("o_orderpriority")).cast("long").as("gp"),
          grouping(col("o_orderstatus")).cast("long").as("gs"),
          count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .select(
          coalesce(col("o_orderpriority"), lit("[ALL]")).as("priority"),
          coalesce(col("o_orderstatus"), lit("[ALL]")).as("status"),
          (col("gp") + lit(2L) * col("gs")).as("gid"),
          col("n"), col("sum_cents"))
        .orderBy(col("gid"), col("priority"), col("status"))
    },
    Some("""SELECT COALESCE(o_orderpriority, '[ALL]') AS priority,
        COALESCE(o_orderstatus, '[ALL]') AS status,
        CAST(GROUPING(o_orderpriority) + 2*GROUPING(o_orderstatus)
          AS BIGINT) AS gid,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS sum_cents
      FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      ORDER BY gid, priority, status"""))

  /** q162 — PIVOT to a wide event-type matrix (round 11): per
    * user-bucket counts spread across one column per event type —
    * Spark's `pivot` with an EXPLICIT value list (no
    * distinct-discovery scan; at 100 TB the pivot values must be a
    * declared vocabulary, never inferred). The oracle is the
    * portable conditional-aggregation form; absent cells coalesce to
    * 0 on both engines.
    */
  private val q162 = Q("q162_pivot_events",
    (s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val p = t(s, dir, "events")
        .select((col("user_id") % 10).as("ub"), col("event_type"))
        .groupBy(col("ub"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("ub") +:
          types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy(col("ub"))
    },
    Some {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val cells = types.map(t =>
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) " +
          s"AS BIGINT) AS $t").mkString(", ")
      s"""SELECT user_id % 10 AS ub, $cells
        FROM events GROUP BY 1 ORDER BY 1"""
    })

  /** q164 — first-order event transition matrix
    * ([[graft.operators.Funnel.transitionMatrix]], round 11):
    * (prev, next) counts over per-user (t, id)-ordered histories with
    * exact ppm row probabilities — the Markov-chain behavior view.
    */
  private val q164 = Q("q164_transition_matrix",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.transitionMatrix(e, "user_id", "t_us",
          "event_id", "event_type")
        .orderBy(col("prev_type"), col("next_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      w AS (SELECT user_id, event_type AS nxt,
          LAG(event_type) OVER (PARTITION BY user_id
            ORDER BY t, event_id) AS prv
        FROM e),
      c AS (SELECT prv, nxt, COUNT(*) AS n FROM w
        WHERE prv IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT prv, SUM(n) AS tn FROM c GROUP BY prv)
      SELECT c.prv AS prev_type, c.nxt AS next_type,
        CAST(c.n AS BIGINT) AS n,
        CAST((1000000 * c.n) // tot.tn AS BIGINT) AS p_ppm
      FROM c JOIN tot USING (prv) ORDER BY prev_type, next_type"""))

  /** q167 — top user-journey paths
    * ([[graft.operators.Funnel.topPaths]], round 12): each user's
    * first-5-events type sequence, the 20 most common (count desc,
    * path asc — tie-free).
    */
  private val q167 = Q("q167_event_paths",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.topPaths(e, "user_id", "t_us",
          "event_id", "event_type", pathLen = 5, k = 20)
        .orderBy(col("n_users").desc, col("path"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      r AS (SELECT user_id, event_type,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY t, event_id) AS rn FROM e),
      p AS (SELECT user_id,
          STRING_AGG(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 5 GROUP BY user_id),
      c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path)
      SELECT path, CAST(n_users AS BIGINT) AS n_users FROM c
      QUALIFY ROW_NUMBER() OVER (ORDER BY n_users DESC, path) <= 20
      ORDER BY n_users DESC, path"""))

  /** q168 — RFM quintile segmentation
    * ([[graft.operators.Segments.rfm]], round 12): recency/frequency/
    * monetary quintile cells over orders — exact day/cent integer
    * arithmetic, tie-free NTILE grading on both engines.
    */
  private val q168 = Q("q168_rfm_segments",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"),
        col("o_totalprice"))
      graft.operators.Segments.rfm(o, "o_custkey", "t_us",
          "o_totalprice")
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },
    Some("""WITH per AS (SELECT o_custkey,
          MAX(epoch_us(o_orderdate)) AS last_t,
          COUNT(*) AS f_n,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS m_cents
        FROM orders GROUP BY o_custkey),
      anchor AS (SELECT MAX(last_t) AS a FROM per),
      scored AS (SELECT o_custkey, m_cents,
          NTILE(5) OVER (ORDER BY (a - last_t) // 86400000000,
            o_custkey) AS r_q,
          NTILE(5) OVER (ORDER BY f_n DESC, o_custkey) AS f_q,
          NTILE(5) OVER (ORDER BY m_cents DESC, o_custkey) AS m_q
        FROM per, anchor)
      SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        CAST(m_q AS BIGINT) AS m_q,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(m_cents) AS BIGINT) AS sum_m_cents
      FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** q169 — DAU/MAU stickiness
    * ([[graft.operators.Funnel.stickiness]], round 12): per-day
    * distinct actives, trailing-28-day distinct actives, exact ppm
    * ratio — the engagement companion to q159's cohorts.
    */
  private val q169 = Q("q169_stickiness",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"))
      graft.operators.Funnel.stickiness(e, "user_id", "t_us")
        .orderBy(col("day"))
    },
    Some("""WITH act AS (SELECT DISTINCT user_id,
          epoch_us(ts) // 86400000000 AS d FROM events),
      dau AS (SELECT d, COUNT(*) AS dau FROM act GROUP BY d),
      contrib AS (SELECT DISTINCT user_id, d + g.x AS td
        FROM act, (SELECT UNNEST(GENERATE_SERIES(0, 27)) AS x) g),
      mau AS (SELECT td AS d, COUNT(*) AS mau FROM contrib GROUP BY td)
      SELECT CAST(dau.d AS BIGINT) AS day, CAST(dau.dau AS BIGINT) AS dau,
        CAST(mau.mau AS BIGINT) AS mau,
        CAST((1000000 * dau.dau) // mau.mau AS BIGINT) AS stickiness_ppm
      FROM dau JOIN mau USING (d) ORDER BY day"""))

  /** q170 — exact EWMA of daily order volume
    * ([[graft.operators.Timeseries.ewmaCounts]], round 12): α=1/2
    * truncated-horizon smoothing with power-of-two integer weights —
    * the bit-exact cross-engine trajectory (scaled numerator,
    * denominator 2^16).
    */
  private val q170 = Q("q170_ewma_orders",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.ewmaCounts(o, "t_us", horizon = 16)
        .orderBy(col("day"))
    },
    Some("""WITH cnt AS (SELECT epoch_us(o_orderdate) // 86400000000
            AS d, COUNT(*) AS n
          FROM orders GROUP BY 1),
      bounds AS (SELECT MAX(d) AS hi FROM cnt),
      contrib AS (SELECT c.d + g.x AS td,
          c.n * (1::BIGINT << (16 - 1 - g.x)) AS w
        FROM cnt c, (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS x) g,
          bounds b
        WHERE c.d + g.x <= b.hi)
      SELECT CAST(td AS BIGINT) AS day,
        CAST(SUM(w) AS BIGINT) AS ewma_scaled
      FROM contrib GROUP BY td ORDER BY day"""))

  /** q174 — resource-allocation link prediction
    * ([[graft.operators.GraphRank.raLinkPrediction]], round 12,
    * Zhou 2009): top-30 predicted links over the q113 synthetic
    * graph — exact Σ⌊10⁶/deg(z)⌋ scores, hub-capped wedge centers.
    */
  private val q174 = Q("q174_ra_link_prediction",
    (s, dir) => {
      import graft.operators.GraphRank
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val d = col("doc_id")
      def ring(off: Int) =
        docs.select(d.as("src"), pmod(d + off, lit(n)).as("dst"))
      val edges = ring(1)
        .unionByName(ring(2))
        .unionByName(docs.filter(pmod(d, lit(3)) === 0)
          .select(d.as("src"), pmod(d + 4, lit(n)).as("dst")))
        .unionByName(docs.filter(pmod(d, lit(5)) === 0)
          .select(d.as("src"), pmod(d * 3, lit(n)).as("dst")))
      GraphRank.raLinkPrediction(edges, "src", "dst", k = 30)
        .orderBy(col("score_micro").desc, col("u"), col("v"))
    },
    Some("""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      e0 AS (SELECT doc_id AS src,
          (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
        UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
          FROM documents
        UNION ALL SELECT doc_id, (doc_id + 4) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 3 = 0
        UNION ALL SELECT doc_id, (doc_id * 3) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 5 = 0),
      und AS (SELECT DISTINCT LEAST(src, dst) AS a,
          GREATEST(src, dst) AS b FROM e0 WHERE src <> dst),
      adj AS (SELECT a AS z, b AS x FROM und
        UNION ALL SELECT b, a FROM und),
      deg AS (SELECT z, COUNT(*) AS d FROM adj GROUP BY z),
      keep AS (SELECT adj.z, adj.x, deg.d FROM adj JOIN deg USING (z)
        WHERE deg.d <= 64),
      pairs AS (SELECT k1.x AS u, k2.x AS v, k1.d
        FROM keep k1 JOIN keep k2 ON k1.z = k2.z AND k1.x < k2.x),
      scored AS (SELECT u, v, SUM(1000000 // d) AS score_micro,
          COUNT(*) AS common FROM pairs GROUP BY u, v),
      nonedge AS (SELECT s.* FROM scored s LEFT JOIN und
          ON s.u = und.a AND s.v = und.b
        WHERE und.a IS NULL)
      SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
        CAST(score_micro AS BIGINT) AS score_micro,
        CAST(common AS BIGINT) AS common
      FROM nonedge
      QUALIFY ROW_NUMBER() OVER (ORDER BY score_micro DESC, u, v) <= 30
      ORDER BY score_micro DESC, u, v"""))

  /** q175 — population stability index drift
    * ([[graft.operators.Profile.psiDrift]], round 12): event values
    * in 10 declared 50-wide bins, first-half vs second-half cohorts,
    * Laplace-smoothed quantized terms (margins audited ≥ 1.2e-2 at
    * both SFs — operator scaladoc).
    */
  private val q175 = Q("q175_psi_drift",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        when(expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          < 19738L, "a").otherwise("b").as("g"),
        least(lit(9L), greatest(lit(0L),
          floor(col("value") / 50).cast("long"))).as("bin"))
      graft.operators.Profile.psiDrift(e, "g", "bin", "a", "b")
        .orderBy(col("bin"))
    },
    Some("""WITH e AS (SELECT CASE WHEN epoch_us(ts) // 86400000000
            < 19738 THEN 'a' ELSE 'b' END AS g,
          LEAST(9, GREATEST(0, CAST(FLOOR(value / 50) AS BIGINT)))
            AS bin FROM events),
      c AS (SELECT bin,
          SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS n_a,
          SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS n_b
        FROM e GROUP BY bin),
      tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb,
          COUNT(*) AS nb FROM c)
      SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a,
        CAST(n_b AS BIGINT) AS n_b,
        CAST(FLOOR(1000000 * ((CAST(n_a + 1 AS DOUBLE)
              / CAST(ta + nb AS DOUBLE)
            - CAST(n_b + 1 AS DOUBLE) / CAST(tb + nb AS DOUBLE))
          * LN((CAST(n_a + 1 AS DOUBLE) / CAST(ta + nb AS DOUBLE))
            / (CAST(n_b + 1 AS DOUBLE) / CAST(tb + nb AS DOUBLE)))))
          AS BIGINT) AS term_micro
      FROM c, tot ORDER BY bin"""))

  /** q180 — winsorized robust statistics
    * ([[graft.operators.Profile.winsorizedStats]], round 12):
    * per-priority order values clipped at discrete p05/p95 ranks —
    * exact cents, exact clip accounting (q157's MAD sibling for the
    * clip-don't-drop policy).
    */
  private val q180 = Q("q180_winsorized_stats",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("o_orderkey"))
      graft.operators.Profile.winsorizedStats(o, "o_orderpriority",
          "cents", "o_orderkey")
        .withColumnsRenamed(Map("lo" -> "lo_cents", "hi" -> "hi_cents",
          "sum_wins" -> "sum_wins_cents"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH v AS (SELECT o_orderpriority AS grp,
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
          o_orderkey AS id FROM orders),
      r AS (SELECT grp, c, id,
          ROW_NUMBER() OVER (PARTITION BY grp ORDER BY c, id) AS rn,
          COUNT(*) OVER (PARTITION BY grp) AS n FROM v),
      b AS (SELECT grp, MAX(n) AS n,
          MAX(CASE WHEN rn = GREATEST(1,
            (50000 * n + 999999) // 1000000) THEN c END) AS lo,
          MAX(CASE WHEN rn = (950000 * n + 999999) // 1000000
            THEN c END) AS hi
        FROM r GROUP BY grp)
      SELECT v.grp AS o_orderpriority, CAST(MAX(b.n) AS BIGINT) AS n,
        CAST(MAX(b.lo) AS BIGINT) AS lo_cents,
        CAST(MAX(b.hi) AS BIGINT) AS hi_cents,
        CAST(SUM(LEAST(GREATEST(v.c, b.lo), b.hi)) AS BIGINT)
          AS sum_wins_cents,
        CAST(SUM(CASE WHEN v.c < b.lo THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clip_lo,
        CAST(SUM(CASE WHEN v.c > b.hi THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clip_hi
      FROM v JOIN b ON v.grp = b.grp GROUP BY v.grp
      ORDER BY o_orderpriority"""))

  /** q181 — Simpson source-mix diversity per language
    * ([[graft.operators.Profile.simpsonDiversity]], round 12): the
    * unbiased two-draw concentration index over each language's
    * source composition — q166 Gini's ecological sibling, all exact
    * ppm integrals.
    */
  private val q181 = Q("q181_simpson_diversity",
    (s, dir) =>
      graft.operators.Profile.simpsonDiversity(
          t(s, dir, "documents"), "lang", "source")
        .withColumnsRenamed(Map("n_rows" -> "n_docs",
          "n_cats" -> "n_sources"))
        .orderBy(col("lang")),
    Some("""WITH c AS (SELECT lang, source, COUNT(*) AS n
        FROM documents GROUP BY 1, 2),
      g AS (SELECT lang, SUM(n) AS nn, SUM(n * (n - 1)) AS num,
          COUNT(*) AS k FROM c GROUP BY lang)
      SELECT lang, CAST(nn AS BIGINT) AS n_docs,
        CAST(k AS BIGINT) AS n_sources,
        CAST(CASE WHEN nn > 1 THEN (1000000 * num) // (nn * (nn - 1))
          ELSE 0 END AS BIGINT) AS simpson_ppm,
        CAST(CASE WHEN nn > 1 THEN (1000000 * (nn * (nn - 1) - num))
          // (nn * (nn - 1)) ELSE 0 END AS BIGINT) AS diversity_ppm
      FROM g ORDER BY lang"""))

  /** q182 — market-basket association rules
    * ([[graft.operators.Basket.associationRules]], round 12): brand
    * co-occurrence within orders — exact support / confidence / lift
    * integrals, min-support pruned, lift-ranked top 25.
    */
  private val q182 = Q("q182_association_rules",
    (s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      graft.operators.Basket.associationRules(baskets, "l_orderkey",
          "p_brand", minSupport = 20L, k = 25)
        .orderBy(col("lift_ppm").desc, col("antecedent"),
          col("consequent"))
    },
    Some("""WITH items AS (SELECT DISTINCT l.l_orderkey AS o,
          p.p_brand AS i
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      nb AS (SELECT COUNT(DISTINCT o) AS n FROM items),
      sup AS (SELECT i, COUNT(*) AS n_i FROM items GROUP BY i),
      pairs AS (SELECT a.i AS ia, b.i AS ib, COUNT(*) AS n_ab
        FROM items a JOIN items b ON a.o = b.o AND a.i <> b.i
        GROUP BY a.i, b.i),
      r AS (SELECT ia, ib, n_ab, sa.n_i AS n_a, sb.n_i AS n_b
        FROM pairs JOIN sup sa ON pairs.ia = sa.i
          JOIN sup sb ON pairs.ib = sb.i)
      SELECT ia AS antecedent, ib AS consequent,
        CAST(n_ab AS BIGINT) AS n_both,
        CAST((1000000 * n_ab) // n_a AS BIGINT) AS conf_ppm,
        CAST((1000000 * n_ab * (SELECT n FROM nb)) // (n_a * n_b)
          AS BIGINT) AS lift_ppm
      FROM r WHERE n_ab >= 20
      QUALIFY ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, antecedent,
        consequent) <= 25
      ORDER BY lift_ppm DESC, antecedent, consequent"""))

  /** q183 — first/last-touch revenue attribution
    * ([[graft.operators.Funnel.attribution]], round 12): purchase
    * cents credited to acquisition channels under both single-touch
    * models in one window pass — exact integers end to end.
    */
  private val q183 = Q("q183_attribution",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      graft.operators.Funnel.attribution(e, "user_id", "t_us",
          "event_id", "event_type", "cents")
        .orderBy(col("model"), col("channel"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
      w AS (SELECT user_id, event_type, cents,
          FIRST_VALUE(event_type) OVER (PARTITION BY user_id
            ORDER BY t, event_id) AS first_ch,
          LAST_VALUE(CASE WHEN event_type <> 'purchase'
              THEN event_type END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS last_ch
        FROM e),
      p AS (SELECT * FROM w WHERE event_type = 'purchase')
      SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM (
        SELECT 'first' AS model, first_ch AS channel, cents FROM p
        UNION ALL
        SELECT 'last', COALESCE(last_ch, '[NONE]'), cents FROM p)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q184 — funnel conversion-latency percentiles
    * ([[graft.operators.Funnel.conversionLatency]], round 12):
    * discrete p50/p90 of time-from-first-step for the q158 funnel's
    * converting users — exact epoch-micros deltas, rank quantiles.
    */
  private val q184 = Q("q184_funnel_latency",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.conversionLatency(e, "user_id", "t_us",
          "event_id", "event_type",
          Seq("view", "click", "purchase"),
          maxSpanMicros = Some(24L * 3600 * 1000000))
        .orderBy(col("step"))
    },
    Some {
      val span = 24L * 3600 * 1000000
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
        s1 AS (SELECT user_id,
            MIN(struct_pack(t := t, id := event_id)) AS k1
          FROM e WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id,
            MIN(struct_pack(t := e.t, id := e.event_id)) AS k2,
            MIN((s1.k1).t) AS t0
          FROM e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click'
            AND struct_pack(t := e.t, id := e.event_id) > s1.k1
            AND e.t - (s1.k1).t <= $span
          GROUP BY e.user_id),
        s3 AS (SELECT e.user_id,
            MIN(struct_pack(t := e.t, id := e.event_id)) AS k3,
            MIN(s2.t0) AS t0
          FROM e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase'
            AND struct_pack(t := e.t, id := e.event_id) > s2.k2
            AND e.t - s2.t0 <= $span
          GROUP BY e.user_id),
        d AS (SELECT 2 AS step, 'click' AS event_type, user_id,
            (k2).t - t0 AS delta FROM s2
          UNION ALL SELECT 3, 'purchase', user_id, (k3).t - t0 FROM s3),
        r AS (SELECT step, event_type, delta,
            ROW_NUMBER() OVER (PARTITION BY step
              ORDER BY delta, user_id) AS rn,
            COUNT(*) OVER (PARTITION BY step) AS n FROM d)
        SELECT CAST(step AS BIGINT) AS step, MAX(event_type)
            AS event_type,
          CAST(MAX(n) AS BIGINT) AS n_users,
          CAST(MAX(CASE WHEN rn = GREATEST(1,
            (500000 * n + 999999) // 1000000) THEN delta END)
            AS BIGINT) AS p50_us,
          CAST(MAX(CASE WHEN rn = GREATEST(1,
            (900000 * n + 999999) // 1000000) THEN delta END)
            AS BIGINT) AS p90_us
        FROM r GROUP BY step ORDER BY step"""
    })

  /** q185 — CUBE subtotals (round 12): the full 2^d grouping lattice
    * over (lang, source) — q161 ROLLUP's sibling surface, ONE Expand
    * + one aggregate exchange (plan-spec in OperatorsSpec). The
    * `[ALL]` sentinel renders the aggregated-out dimension on both
    * engines (this data holds no NULL/'[ALL]' lang or source — the
    * sentinel cannot collide).
    */
  private val q185 = Q("q185_cube_subtotals",
    (s, dir) =>
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(coalesce(col("lang"), lit("[ALL]")).as("lang"),
          coalesce(col("source"), lit("[ALL]")).as("source"),
          col("n"), col("sum_chars"))
        .orderBy(col("lang"), col("source")),
    Some("""SELECT COALESCE(lang, '[ALL]') AS lang,
        COALESCE(source, '[ALL]') AS source,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY CUBE (lang, source)
      ORDER BY lang, source"""))

  /** q188 — quantile normalization across groups
    * ([[graft.operators.Profile.quantileNormalize]], round 12,
    * Bolstad 2003): event values re-mapped onto the pooled
    * distribution per event-type group — the aggregate gate pins
    * every group's normalized sum/extremes (aligned distributions),
    * which hashes the full per-row rank map transitively.
    */
  private val q188 = Q("q188_quantile_normalize",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        col("event_id"))
      graft.operators.Profile.quantileNormalize(e, "event_type",
          "cents", "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("norm_value")).cast("long").as("sum_norm"),
          min(col("norm_value")).cast("long").as("min_norm"),
          max(col("norm_value")).cast("long").as("max_norm"))
        .orderBy(col("event_type"))
    },
    Some("""WITH v AS (SELECT event_type AS g,
          CAST(ROUND(value * 100) AS BIGINT) AS c, event_id AS id
        FROM events),
      r AS (SELECT g, c, id,
          ROW_NUMBER() OVER (PARTITION BY g ORDER BY c, id) AS rn,
          COUNT(*) OVER (PARTITION BY g) AS n FROM v),
      pooled AS (SELECT c,
          ROW_NUMBER() OVER (ORDER BY c, g, id) AS prn FROM v),
      nn AS (SELECT COUNT(*) AS nt FROM v),
      m AS (SELECT g, rn, n, GREATEST(1,
          ((((1000000 * rn + n - 1) // n) * nt + 999999) // 1000000))
          AS prank
        FROM r, nn),
      norm AS (SELECT m.g, p.c AS nc FROM m
        JOIN pooled p ON p.prn = m.prank)
      SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(nc) AS BIGINT) AS sum_norm,
        CAST(MIN(nc) AS BIGINT) AS min_norm,
        CAST(MAX(nc) AS BIGINT) AS max_norm
      FROM norm GROUP BY g ORDER BY event_type"""))

  /** q189 — activity-decile revenue concentration
    * ([[graft.operators.Segments.activityDeciles]], round 12): the
    * Pareto view — users ranked into activity deciles, exact purchase
    * cents and ppm revenue share per decile.
    */
  private val q189 = Q("q189_activity_deciles",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      graft.operators.Segments.activityDeciles(e, "user_id",
          "event_type", "cents")
        .orderBy(col("decile"))
    },
    Some("""WITH act AS (SELECT user_id, COUNT(*) AS n_events,
          SUM(CASE WHEN event_type = 'purchase'
            THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS rev
        FROM events GROUP BY user_id),
      d AS (SELECT user_id, n_events, rev,
          NTILE(10) OVER (ORDER BY n_events DESC, user_id) AS decile
        FROM act),
      tot AS (SELECT SUM(rev) AS tr FROM d)
      SELECT CAST(decile AS BIGINT) AS decile,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(n_events) AS BIGINT) AS n_events,
        CAST(SUM(rev) AS BIGINT) AS rev_cents,
        CAST(CASE WHEN tr > 0 THEN (1000000 * SUM(rev)) // tr
          ELSE 0 END AS BIGINT) AS rev_share_ppm
      FROM d, tot GROUP BY decile, tr ORDER BY decile"""))

  /** q190 — session-basket association rules (round 12): a
    * COMPOSITION gate over two audited shapes — q44's session
    * assignment becomes the basket key and q182's rule algebra runs
    * over event types within each session ("what do users do
    * together in one sitting"). The oracle chains the q44 session
    * CTE verbatim into the q182 rule SQL, so gap drift and rule
    * drift both fail one hash.
    */
  private val q190 = Q("q190_session_baskets",
    (s, dir) => {
      val gapUs = 1800000000L // 30 min
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      val sess = graft.operators.Sessionize
        .assign(e, "user_id", "ts_us", gapUs, tieCol = "event_id")
        .select(concat_ws(":", col("user_id"), col("session_ord"))
          .as("basket"), col("event_type"))
      graft.operators.Basket.associationRules(sess, "basket",
          "event_type", minSupport = 20L, k = 20)
        .orderBy(col("lift_ppm").desc, col("antecedent"),
          col("consequent"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
          epoch_us(ts) AS ts_us FROM events),
      l AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN LAG(ts_us) OVER w IS NULL
            OR ts_us - LAG(ts_us) OVER w > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id
          ORDER BY ts_us, event_id)),
      s AS (SELECT user_id, event_type,
          SUM(is_new) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
            AS session_ord
        FROM l),
      items AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' ||
          CAST(session_ord AS VARCHAR) AS o, event_type AS i FROM s),
      nb AS (SELECT COUNT(DISTINCT o) AS n FROM items),
      sup AS (SELECT i, COUNT(*) AS n_i FROM items GROUP BY i),
      pairs AS (SELECT a.i AS ia, b.i AS ib, COUNT(*) AS n_ab
        FROM items a JOIN items b ON a.o = b.o AND a.i <> b.i
        GROUP BY a.i, b.i),
      r AS (SELECT ia, ib, n_ab, sa.n_i AS n_a, sb.n_i AS n_b
        FROM pairs JOIN sup sa ON pairs.ia = sa.i
          JOIN sup sb ON pairs.ib = sb.i)
      SELECT ia AS antecedent, ib AS consequent,
        CAST(n_ab AS BIGINT) AS n_both,
        CAST((1000000 * n_ab) // n_a AS BIGINT) AS conf_ppm,
        CAST((1000000 * n_ab * (SELECT n FROM nb)) // (n_a * n_b)
          AS BIGINT) AS lift_ppm
      FROM r WHERE n_ab >= 20
      QUALIFY ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, antecedent,
        consequent) <= 20
      ORDER BY lift_ppm DESC, antecedent, consequent"""))

  /** q192 — Mann–Whitney U rank-sum drift
    * ([[graft.operators.Profile.mannWhitney]], round 12): first-half
    * vs second-half event values, exact doubled-midrank U and the
    * common-language effect size — the directional member of the
    * drift kit (χ² q135, KS q152, PSI q175).
    */
  private val q192 = Q("q192_mann_whitney",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        when(expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          < 19738L, "a").otherwise("b").as("g"),
        round(col("value") * 100, 0).cast("long").as("v"))
      graft.operators.Profile.mannWhitney(e, "g", "v", "a", "b")
    },
    Some("""WITH e AS (SELECT CASE WHEN epoch_us(ts) // 86400000000
            < 19738 THEN 'a' ELSE 'b' END AS g,
          CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
      c AS (SELECT v, SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na,
          SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb
        FROM e GROUP BY v),
      w AS (SELECT v, na, nb,
          COALESCE(SUM(na + nb) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum
        FROM c),
      t AS (SELECT SUM(na) AS n1, SUM(nb) AS n2,
          SUM(na * (2 * cum + na + nb + 1)) AS r1x2 FROM w)
      SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
        CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u_x2,
        CAST((1000000 * (r1x2 - n1 * (n1 + 1))) // (2 * n1 * n2)
          AS BIGINT) AS rho_ppm
      FROM t"""))

  /** q194 — top event trigrams
    * ([[graft.operators.Funnel.topKgrams]], round 12): contiguous
    * 3-step type sequences over per-user histories — the order-3
    * extension of q164's transition bigrams, one window pass.
    */
  private val q194 = Q("q194_event_trigrams",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.topKgrams(e, "user_id", "t_us",
          "event_id", "event_type", n = 3, k = 25)
        .orderBy(col("n_grams").desc, col("gram"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      l AS (SELECT user_id, event_type AS c,
          LAG(event_type, 1) OVER w AS b,
          LAG(event_type, 2) OVER w AS a
        FROM e WINDOW w AS (PARTITION BY user_id
          ORDER BY t, event_id)),
      g AS (SELECT a || '>' || b || '>' || c AS gram, COUNT(*) AS n
        FROM l WHERE a IS NOT NULL GROUP BY 1)
      SELECT gram, CAST(n AS BIGINT) AS n_grams FROM g
      QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, gram) <= 25
      ORDER BY n_grams DESC, gram"""))

  /** q195 — CUSUM change detection on daily order volume
    * ([[graft.operators.Timeseries.cusumCounts]], round 12, Page
    * 1954): the closed-form prefix-min cumulative sum — exact longs,
    * spec-pinned against the sequential recursion; EWMA (q170) tracks
    * the level, CUSUM flags when it SHIFTED.
    */
  private val q195 = Q("q195_cusum_changepoints",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.cusumCounts(o, "t_us", slack = 1L,
          threshold = 10L)
        .orderBy(col("day"))
    },
    Some("""WITH cnt AS (SELECT epoch_us(o_orderdate) // 86400000000
            AS d, COUNT(*) AS n FROM orders GROUP BY 1),
      mu AS (SELECT SUM(n) // COUNT(*) AS mu FROM cnt),
      p AS (SELECT d, n, mu,
          SUM(n - mu - 1) OVER (ORDER BY d) AS pf FROM cnt, mu),
      s AS (SELECT d, n, mu,
          pf - LEAST(0, MIN(pf) OVER (ORDER BY d)) AS cusum FROM p)
      SELECT CAST(d AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        CAST(cusum AS BIGINT) AS cusum,
        CAST(cusum > 10 * mu AS BIGINT) AS flagged
      FROM s ORDER BY day"""))

  /** q196 — Spearman rank correlation
    * ([[graft.operators.Profile.spearmanRho2]], round 12): order
    * frequency vs revenue per customer — exact doubled-midrank signed
    * ρ², no float ever forms.
    */
  private val q196 = Q("q196_spearman_rho",
    (s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"),
          sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("y"))
      graft.operators.Profile.spearmanRho2(per, "x", "y")
    },
    Some("""WITH per AS (SELECT o_custkey, COUNT(*) AS x,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1),
      rx AS (SELECT x, COUNT(*) AS c FROM per GROUP BY x),
      rxm AS (SELECT x, 2 * COALESCE(SUM(c) OVER (ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1 AS r2 FROM rx),
      ry AS (SELECT y, COUNT(*) AS c FROM per GROUP BY y),
      rym AS (SELECT y, 2 * COALESCE(SUM(c) OVER (ORDER BY y
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1 AS r2 FROM ry),
      j AS (SELECT rxm.r2 AS rx2, rym.r2 AS ry2 FROM per
        JOIN rxm ON per.x = rxm.x JOIN rym ON per.y = rym.y),
      t AS (SELECT COUNT(*)::HUGEINT AS n, SUM(rx2)::HUGEINT AS sx,
          SUM(ry2)::HUGEINT AS sy, SUM(rx2 * ry2)::HUGEINT AS sxy,
          SUM(rx2 * rx2)::HUGEINT AS sxx,
          SUM(ry2 * ry2)::HUGEINT AS syy FROM j),
      f AS (SELECT n, (n * sxy - sx * sy) AS a,
          (n * sxx - sx * sx) AS vx, (n * syy - sy * sy) AS vy FROM t)
      SELECT CAST(n AS BIGINT) AS n,
        CAST(CASE WHEN vx > 0 AND vy > 0
          THEN (CASE WHEN a >= 0 THEN 1 ELSE -1 END)
            * ((((a * a) // vx) * 1000000) // vy)
          ELSE 0 END AS BIGINT) AS rho2_signed_ppm
      FROM f"""))

  /** q197 — Cramér's V categorical association
    * ([[graft.operators.Profile.cramersV2]], round 12): is a
    * document's source predictive of its language — exact per-cell
    * χ² integrals over the full contingency grid, exact ppm V².
    */
  private val q197 = Q("q197_cramers_v",
    (s, dir) =>
      graft.operators.Profile.cramersV2(t(s, dir, "documents"),
        "lang", "source"),
    Some("""WITH o AS (SELECT lang AS r, source AS c, COUNT(*) AS o
        FROM documents GROUP BY 1, 2),
      rt AS (SELECT r, SUM(o) AS rn FROM o GROUP BY r),
      ct AS (SELECT c, SUM(o) AS cn FROM o GROUP BY c),
      nn AS (SELECT SUM(o)::HUGEINT AS n FROM o),
      grid AS (SELECT rt.r, ct.c, rt.rn::HUGEINT AS rn,
          ct.cn::HUGEINT AS cn, COALESCE(o.o, 0)::HUGEINT AS o
        FROM rt CROSS JOIN ct
        LEFT JOIN o ON o.r = rt.r AND o.c = ct.c),
      terms AS (SELECT (1000000 * (o * n - rn * cn)
            * (o * n - rn * cn)) // (rn * cn * n) AS t
        FROM grid, nn),
      k AS (SELECT LEAST((SELECT COUNT(*) FROM rt),
          (SELECT COUNT(*) FROM ct)) - 1 AS kk)
      SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n,
        CAST((SELECT kk FROM k) AS BIGINT) AS dof_min,
        CAST(SUM(t) AS BIGINT) AS chi2_micro,
        CAST(SUM(t) // ((SELECT n FROM nn) * (SELECT kk FROM k))
          AS BIGINT) AS v2_ppm
      FROM terms"""))

  /** q198 — day-of-week seasonality + uniformity χ²
    * ([[graft.operators.Timeseries.dowProfile]], round 12): order
    * volume by weekday with exact ppm shares and per-cell χ² terms.
    */
  private val q198 = Q("q198_dow_seasonality",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.dowProfile(o, "t_us")
        .orderBy(col("dow"))
    },
    Some("""WITH c AS (SELECT (epoch_us(o_orderdate) // 86400000000
            + 3) % 7 AS dow, COUNT(*) AS n
          FROM orders GROUP BY 1),
      tot AS (SELECT SUM(n) AS t FROM c)
      SELECT CAST(dow AS BIGINT) AS dow, CAST(n AS BIGINT) AS n,
        CAST((1000000 * n) // t AS BIGINT) AS share_ppm,
        CAST((1000000::HUGEINT * (7 * n - t) * (7 * n - t))
          // (7 * t) AS BIGINT) AS chi2_term_micro
      FROM c, tot ORDER BY dow"""))

  /** q199 — trailing 7-day revenue via a RANGE window frame
    * ([[graft.operators.Timeseries.trailingDailySum]], round 12):
    * value-based framing over daily order cents — silent days inside
    * the window contribute nothing; gaps wider than the window reset.
    */
  private val q199 = Q("q199_trailing_revenue",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Timeseries.trailingDailySum(o, "t_us", "cents",
          window = 7)
        .orderBy(col("day"))
    },
    Some("""WITH daily AS (SELECT epoch_us(o_orderdate) // 86400000000
            AS day, COUNT(*) AS n,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1)
      SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        CAST(cents AS BIGINT) AS cents,
        CAST(SUM(cents) OVER (ORDER BY day
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
          AS trail_cents
      FROM daily ORDER BY day"""))

  /** q200 — cohort LTV curves
    * ([[graft.operators.Funnel.cohortValue]], round 12): purchase
    * cents by (first-active-day cohort, days since) with running
    * cumulative — q159 retention's revenue sibling.
    */
  private val q200 = Q("q200_cohort_ltv",
    (s, dir) => {
      val e = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("t_us"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      graft.operators.Funnel.cohortValue(e, "user_id", "t_us",
          "cents", bucketMicros = 86400000000L)
        .orderBy(col("cohort"), col("k"))
    },
    Some("""WITH e AS (SELECT user_id,
          epoch_us(ts) // 86400000000 AS b,
          CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'),
      coh AS (SELECT user_id, MIN(b) AS coh FROM e GROUP BY user_id),
      cells AS (SELECT coh.coh AS cohort, e.b - coh.coh AS k,
          SUM(e.c) AS rev FROM e JOIN coh USING (user_id)
        GROUP BY 1, 2)
      SELECT CAST(cohort AS BIGINT) AS cohort, CAST(k AS BIGINT) AS k,
        CAST(rev AS BIGINT) AS rev_cents,
        CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY k
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
      FROM cells ORDER BY cohort, k"""))

  /** q201 — per-source exact-duplicate scorecard
    * ([[graft.operators.Profile.dupRateBy]], round 12): fingerprint
    * counts vs distincts per source — the copy-feed triage in front
    * of the dedup machinery (clean at sf0.01, real dups at sf0.1).
    */
  private val q201 = Q("q201_dup_scorecard",
    (s, dir) =>
      graft.operators.Profile.dupRateBy(t(s, dir, "documents"),
          "source", "text")
        .orderBy(col("source")),
    Some(s"""WITH f AS (SELECT source, md5(${TextQueries.normSql("text")}) AS fp
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
        CAST((1000000 * (COUNT(*) - COUNT(DISTINCT fp))) // COUNT(*)
          AS BIGINT) AS dup_ppm
      FROM f GROUP BY source ORDER BY source"""))

  /** q202 — hapax-legomenon lexical richness per language
    * ([[graft.operators.Profile.hapaxRatio]], round 12): the
    * once-only vocabulary fraction — template text runs hapax-poor.
    */
  private val q202 = Q("q202_hapax_ratio",
    (s, dir) =>
      graft.operators.Profile.hapaxRatio(t(s, dir, "documents"),
          "lang", "text")
        .orderBy(col("lang")),
    Some(s"""WITH toks AS (SELECT lang,
          UNNEST(STRING_SPLIT(${TextQueries.normSql("text")}, ' ')) AS w
        FROM documents),
      c AS (SELECT lang, w, COUNT(*) AS n FROM toks
        WHERE w <> '' GROUP BY 1, 2)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab,
        CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS hapax,
        CAST((1000000 * SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END))
          // COUNT(*) AS BIGINT) AS hapax_ppm
      FROM c GROUP BY lang ORDER BY lang"""))

  /** q203 — embedding-norm hygiene profile
    * ([[graft.operators.Similarity.normProfile]], round 12):
    * per-label ⌊10⁶·‖v‖²⌋ extremes and mean — the pre-index vector
    * sanity screen, q20-contract fold quantized per row.
    */
  private val q203 = Q("q203_embedding_norms",
    (s, dir) =>
      graft.operators.Similarity.normProfile(t(s, dir, "embeddings"),
          "embedding", "label")
        .orderBy(col("label")),
    Some("""WITH v AS (SELECT label,
          CAST(FLOOR(1000000 * list_dot_product(
            CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            AS BIGINT) AS n2
        FROM embeddings WHERE label IS NOT NULL)
      SELECT CAST(label AS BIGINT) AS label,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(MIN(n2) AS BIGINT) AS min_norm2_micro,
        CAST(MAX(n2) AS BIGINT) AS max_norm2_micro,
        CAST(SUM(n2) // COUNT(*) AS BIGINT) AS mean_norm2_micro
      FROM v GROUP BY label ORDER BY label"""))

  /** q204 — expectation-violation trend
    * ([[graft.operators.Expectations.accountingBy]], round 12):
    * per-day violation counts for two declared rules over events —
    * the data-quality monitor that catches a feed going bad, q177's
    * audit frame over time.
    */
  private val q204 = Q("q204_expectation_trend",
    (s, dir) => {
      import graft.operators.Expectations
      import graft.operators.Expectations.Rule
      val e = t(s, dir, "events").select(
        expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("day"),
        col("value"), col("event_type"))
      Expectations.accountingBy(e, "day", Seq(
          Rule("value_min", col("value") >= 1.0),
          Rule("type_allowed", col("event_type")
            .isin("click", "view", "purchase", "signup"))))
        .orderBy(col("day"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
          NOT COALESCE(value >= 1.0, FALSE) AS v1,
          NOT COALESCE(event_type IN
            ('click','view','purchase','signup'), FALSE) AS v2
        FROM events)
      SELECT CAST(day AS BIGINT) AS day,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN v1 THEN 1 ELSE 0 END) AS BIGINT)
          AS value_min,
        CAST(SUM(CASE WHEN v2 THEN 1 ELSE 0 END) AS BIGINT)
          AS type_allowed,
        CAST(SUM(CASE WHEN NOT v1 AND NOT v2 THEN 1 ELSE 0 END)
          AS BIGINT) AS admitted
      FROM e GROUP BY day ORDER BY day"""))

  /** q206 — funnel conversion rates with bootstrap CIs
    * ([[graft.operators.Funnel.conversionRateCi]], round 12): the
    * q158 funnel's step rates with 95% user-resampled Poisson
    * bootstrap intervals — funnel × q191 composition; the oracle
    * chains the funnel replay into the replicate/rank-cut chain.
    */
  private val q206 = Q("q206_funnel_rate_ci",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.conversionRateCi(e, "user_id", "t_us",
          "event_id", "event_type", Seq("view", "click", "purchase"),
          maxSpanMicros = Some(24L * 3600 * 1000000))
        .orderBy(col("step"))
    },
    Some {
      val span = 24L * 3600 * 1000000
      val h = SamplingQueries.hashSql("funl", "user_id")
      val u = graft.operators.Bootstrap.splitMixUniformSql(
        "CAST(seed AS HUGEINT)", "CAST(b AS HUGEINT)")
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
        s1 AS (SELECT user_id,
            MIN(struct_pack(t := t, id := event_id)) AS k1
          FROM e WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id,
            MIN(struct_pack(t := e.t, id := e.event_id)) AS k2,
            MIN((s1.k1).t) AS t0
          FROM e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click'
            AND struct_pack(t := e.t, id := e.event_id) > s1.k1
            AND e.t - (s1.k1).t <= $span
          GROUP BY e.user_id),
        s3 AS (SELECT e.user_id,
            MIN(struct_pack(t := e.t, id := e.event_id)) AS k3
          FROM e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase'
            AND struct_pack(t := e.t, id := e.event_id) > s2.k2
            AND e.t - s2.t0 <= $span
          GROUP BY e.user_id),
        ind AS (
          SELECT 2 AS stp, s1.user_id,
              CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END AS x
            FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
          UNION ALL
          SELECT 3, s1.user_id,
              CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
            FROM s1 LEFT JOIN s3 ON s1.user_id = s3.user_id),
        sd AS (SELECT stp, x,
            ${SamplingQueries.bucketSql15("h")} AS seed
          FROM (SELECT stp, x, $h AS h FROM ind)),
        rows_b AS (SELECT stp, x, seed, g.b FROM sd,
            (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS b) g),
        uu AS (SELECT stp, x, b, CAST($u AS BIGINT) AS u FROM rows_b),
        w AS (SELECT stp, x, b,
            ${graft.operators.Bootstrap.poissonOneWeightSql("u")} AS w
          FROM uu),
        m AS (SELECT stp, b,
            CAST((1000000 * SUM(w * x)) // SUM(w) AS BIGINT)
              AS mean_micro
          FROM w GROUP BY stp, b HAVING SUM(w) > 0),
        rk AS (SELECT stp, b, mean_micro,
            ROW_NUMBER() OVER (PARTITION BY stp
              ORDER BY mean_micro, b) AS rn,
            COUNT(*) OVER (PARTITION BY stp) AS n FROM m),
        ci AS (SELECT stp,
            MIN(CASE WHEN rn = GREATEST(1, CEIL(0.025 * n))
              THEN mean_micro END) AS lo,
            MAX(CASE WHEN rn = CEIL(0.975 * n) THEN mean_micro END)
              AS hi
          FROM rk GROUP BY stp),
        pt AS (SELECT stp, COUNT(*) AS n_entered, SUM(x) AS n_reached,
            (1000000 * SUM(x)) // COUNT(*) AS rate_ppm
          FROM ind GROUP BY stp)
      SELECT CAST(pt.stp AS BIGINT) AS step,
        CAST(n_entered AS BIGINT) AS n_entered,
        CAST(n_reached AS BIGINT) AS n_reached,
        CAST(rate_ppm AS BIGINT) AS rate_ppm,
        CAST(ci.lo AS BIGINT) AS lo_ppm,
        CAST(ci.hi AS BIGINT) AS hi_ppm
      FROM pt JOIN ci ON pt.stp = ci.stp ORDER BY step"""
    })

  /** q207 — k-core extraction by iterative peeling
    * ([[graft.operators.GraphRank.kcore]], round 12, Seidman 1983):
    * the 2-core of a kernel-ring-plus-tentacle fixture — 50 dense
    * kernel nodes (ring chords +10/+20 over multiples of 10, a +30
    * chord on multiples of 30) each anchoring a 9-node chain that
    * peels one node per round, a 9-round n-INDEPENDENT cascade (the
    * engine detects the fixpoint; the oracle unrolls 10 rounds —
    * peeling is monotone, so the spare round is a no-op).
    */
  private val q207 = {
    val k = 2
    val unroll = 10
    Q("q207_kcore",
      (s, dir) => {
        import graft.operators.GraphRank
        val docs = t(s, dir, "documents").select(col("doc_id"))
        val n = docs.count()
        val d = col("doc_id")
        val edges = docs.filter(pmod(d, lit(10)) === 0)
          .select(d.as("src"), pmod(d + 10, lit(n)).as("dst"))
          .unionByName(docs.filter(pmod(d, lit(10)) === 0)
            .select(d.as("src"), pmod(d + 20, lit(n)).as("dst")))
          .unionByName(docs.filter(pmod(d, lit(30)) === 0)
            .select(d.as("src"), pmod(d + 30, lit(n)).as("dst")))
          .unionByName(docs.filter(pmod(d, lit(10)) =!= 0)
            .select(d.as("src"), (d - 1).as("dst")))
        GraphRank.kcore(edges, "src", "dst", k).orderBy(col("id"))
      },
      Some {
        // every round CTE MATERIALIZED: e_i is referenced three times
        // (twice by k_{i+1}'s union, once by e_{i+1}) — inlined CTEs
        // re-evaluate per reference, a 3^rounds blowup
        def rnd(i: Int, prev: String): String =
          s"""k$i AS MATERIALIZED (SELECT id FROM
            (SELECT a AS id FROM $prev
            UNION ALL SELECT b FROM $prev) GROUP BY id
            HAVING COUNT(*) >= $k),
          e$i AS MATERIALIZED (SELECT a, b FROM $prev
            WHERE a IN (SELECT id FROM k$i)
              AND b IN (SELECT id FROM k$i))"""
        val rounds = (1 to unroll)
          .map(i => rnd(i, if (i == 1) "e0" else s"e${i - 1}"))
          .mkString(",\n        ")
        s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        raw AS (SELECT doc_id AS src,
            (doc_id + 10) % (SELECT n FROM nn) AS dst
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL SELECT doc_id, (doc_id + 20) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL SELECT doc_id, (doc_id + 30) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 30 = 0
          UNION ALL SELECT doc_id, doc_id - 1
          FROM documents WHERE doc_id % 10 <> 0),
        e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b FROM raw WHERE src <> dst),
        $rounds
        SELECT id, COUNT(*) AS core_deg
        FROM (SELECT a AS id FROM e$unroll
          UNION ALL SELECT b FROM e$unroll)
        GROUP BY id ORDER BY id"""
      })
  }

  /** q208 — daily-count autocorrelation at calendar lags 1..7
    * ([[graft.operators.Timeseries.acfDaily]], round 12): is order
    * volume self-similar at short lags — exact signed-r² ppm per lag
    * via the q196 divide chain; silent days pair with nobody
    * (calendar join, not a ROWS lag).
    */
  private val q208 = Q("q208_acf_daily",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.acfDaily(o, "t_us", maxLag = 7)
    },
    Some("""WITH cnt AS (SELECT epoch_us(o_orderdate) // 86400000000
          AS d, COUNT(*)::HUGEINT AS n FROM orders GROUP BY 1),
      lags(lag) AS (VALUES (1),(2),(3),(4),(5),(6),(7)),
      p AS (SELECT lags.lag AS lag, x.n AS xv, y.n AS yv
        FROM cnt x JOIN lags ON TRUE
        JOIN cnt y ON y.d = x.d + lags.lag),
      t AS (SELECT lag, COUNT(*)::HUGEINT AS n, SUM(xv) AS sx,
          SUM(yv) AS sy, SUM(xv*yv) AS sxy, SUM(xv*xv) AS sxx,
          SUM(yv*yv) AS syy
        FROM p GROUP BY lag),
      f AS (SELECT lag, n, (n*sxy - sx*sy) AS a,
          (n*sxx - sx*sx) AS vx, (n*syy - sy*sy) AS vy FROM t)
      SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
        CAST(CASE WHEN vx > 0 AND vy > 0
          THEN (CASE WHEN a >= 0 THEN 1 ELSE -1 END)
            * ((((a*a) // vx) * 1000000) // vy)
          ELSE 0 END AS BIGINT) AS r2_signed_ppm
      FROM f ORDER BY lag"""))

  /** q209 — Kendall τ-b rank concordance
    * ([[graft.operators.Profile.kendallTau2]], round 12): does a
    * nation's order count rank-agree with its revenue — exact
    * concordant/discordant/tie accounting over the 25-nation frame,
    * signed τ² ppm via the divide chain.
    */
  private val q209 = Q("q209_kendall_tau",
    (s, dir) => {
      val per = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("x"),
          sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("y"))
      graft.operators.Profile.kendallTau2(per, "c_nationkey", "x", "y")
    },
    Some("""WITH per AS (SELECT c.c_nationkey AS nk,
          COUNT(*)::HUGEINT AS x,
          SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))::HUGEINT
            AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
      pr AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        FROM per a JOIN per b ON a.nk < b.nk),
      cl AS (SELECT
          SUM(CASE WHEN (x1 < x2 AND y1 < y2)
            OR (x1 > x2 AND y1 > y2) THEN 1 ELSE 0 END)::HUGEINT
            AS conc,
          SUM(CASE WHEN (x1 < x2 AND y1 > y2)
            OR (x1 > x2 AND y1 < y2) THEN 1 ELSE 0 END)::HUGEINT
            AS disc,
          SUM(CASE WHEN x1 = x2 AND y1 <> y2 THEN 1 ELSE 0
            END)::HUGEINT AS tx,
          SUM(CASE WHEN y1 = y2 AND x1 <> x2 THEN 1 ELSE 0
            END)::HUGEINT AS ty,
          COUNT(*)::HUGEINT AS np
        FROM pr)
      SELECT CAST((SELECT COUNT(*) FROM per) AS BIGINT) AS n,
        CAST(np AS BIGINT) AS n_pairs, CAST(conc AS BIGINT)
          AS concordant,
        CAST(disc AS BIGINT) AS discordant,
        CAST(CASE WHEN (conc+disc+tx) > 0 AND (conc+disc+ty) > 0
          THEN (CASE WHEN conc >= disc THEN 1 ELSE -1 END)
            * ((((conc-disc)*(conc-disc)) // (conc+disc+tx))
              * 1000000) // (conc+disc+ty)
          ELSE 0 END AS BIGINT) AS tau2_signed_ppm
      FROM cl"""))

  /** q210 — Theil–Sen robust trend of daily order volume
    * ([[graft.operators.Timeseries.theilSen]], round 12): the median
    * (and p10/p90 band) of all pairwise day slopes in exact ppm —
    * sign extracted before the floor so DuckDB's floor-`//` and
    * Spark's truncating `div` agree on every pair.
    */
  private val q210 = Q("q210_theil_sen",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.theilSen(o, "t_us")
    },
    Some("""WITH cnt AS (SELECT epoch_us(o_orderdate) // 86400000000
          AS d, COUNT(*)::HUGEINT AS n FROM orders GROUP BY 1),
      pr AS (SELECT (CASE WHEN b.n >= a.n THEN 1 ELSE -1 END)
          * ((1000000 * (CASE WHEN b.n >= a.n THEN b.n - a.n
              ELSE a.n - b.n END)) // (b.d - a.d)) AS s
        FROM cnt a JOIN cnt b ON a.d < b.d),
      rk AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS r,
          COUNT(*) OVER () AS m FROM pr)
      SELECT CAST((SELECT COUNT(*) FROM cnt) AS BIGINT) AS n_days,
        CAST(MAX(m) AS BIGINT) AS n_pairs,
        CAST(MAX(CASE WHEN r = GREATEST(1, (m + 1) // 10) THEN s END)
          AS BIGINT) AS slope_p10_ppm,
        CAST(MAX(CASE WHEN r = (m + 1) // 2 THEN s END) AS BIGINT)
          AS slope_ppm,
        CAST(MAX(CASE WHEN r = (9 * (m + 1)) // 10 THEN s END)
          AS BIGINT) AS slope_p90_ppm
      FROM rk"""))

  /** q212 — weekday-adjusted anomaly days
    * ([[graft.operators.Timeseries.dowAdjustedOutliers]], round 12):
    * q198's seasonality removed, then the q157 MAD rule on the
    * residuals — "big for a Tuesday", not "big".
    */
  private val q212 = Q("q212_dow_outliers",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.dowAdjustedOutliers(o, "t_us")
        .orderBy(col("day"))
    },
    Some("""WITH daily AS (SELECT epoch_us(o_orderdate) // 86400000000
          AS d, COUNT(*)::HUGEINT AS n FROM orders GROUP BY 1),
      ds AS (SELECT (d + 3) % 7 AS dow, COUNT(*)::HUGEINT AS days_cnt,
          SUM(n) AS sum_n FROM daily GROUP BY 1),
      r AS (SELECT d, n,
          (1000000 * n * ds.days_cnt) // ds.sum_n AS r_ppm
        FROM daily JOIN ds ON (daily.d + 3) % 7 = ds.dow),
      rk AS (SELECT d, n, r_ppm,
          ROW_NUMBER() OVER (ORDER BY r_ppm, d) AS rn,
          COUNT(*) OVER () AS m FROM r),
      med AS (SELECT r_ppm AS med FROM rk WHERE rn = (m + 1) // 2),
      dev AS (SELECT d, n, r_ppm,
          ABS(r_ppm - (SELECT med FROM med)) AS dv FROM rk),
      rk2 AS (SELECT d, dv, ROW_NUMBER() OVER (ORDER BY dv, d) AS rn,
          COUNT(*) OVER () AS m FROM dev),
      mad AS (SELECT dv AS mad FROM rk2 WHERE rn = (m + 1) // 2)
      SELECT CAST(d AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        CAST(r_ppm AS BIGINT) AS resid_ppm,
        CAST(CASE WHEN dv > 3 * (SELECT mad FROM mad)
          THEN 1 ELSE 0 END AS BIGINT) AS flagged
      FROM dev ORDER BY day"""))

  /** q213 — multi-source BFS hop labels with a depth cap
    * ([[graft.operators.GraphRank.bfsLayers]], round 12): minimum hop
    * distance from the every-100th seed set on q113's ring+chord
    * graph, capped at 4 hops — the oracle unrolls the four
    * level-synchronous rounds as MATERIALIZED CTEs.
    */
  private val q213 = {
    val maxDepth = 4
    Q("q213_bfs_layers",
      (s, dir) => {
        import graft.operators.GraphRank
        val docs = t(s, dir, "documents").select(col("doc_id"))
        val n = docs.count()
        val d = col("doc_id")
        def ring(off: Int) =
          docs.select(d.as("src"), pmod(d + off, lit(n)).as("dst"))
        val edges = ring(1)
          .unionByName(ring(2))
          .unionByName(docs.filter(pmod(d, lit(3)) === 0)
            .select(d.as("src"), pmod(d + 4, lit(n)).as("dst")))
          .unionByName(docs.filter(pmod(d, lit(5)) === 0)
            .select(d.as("src"), pmod(d * 3, lit(n)).as("dst")))
        val seeds = docs.filter(pmod(d, lit(100)) === 0)
        GraphRank.bfsLayers(edges, "src", "dst", seeds, "doc_id",
            maxDepth)
          .orderBy(col("id"))
      },
      Some {
        val rounds = (1 to maxDepth).map { i =>
          s"""f$i AS MATERIALIZED (SELECT DISTINCT adj.dst AS id
            FROM adj JOIN v${i - 1} p ON adj.src = p.id
              AND p.depth = ${i - 1}
            WHERE adj.dst NOT IN (SELECT id FROM v${i - 1})),
          v$i AS MATERIALIZED (SELECT id, depth FROM v${i - 1}
            UNION ALL SELECT id, $i AS depth FROM f$i)"""
        }.mkString(",\n        ")
        s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        e0 AS (SELECT doc_id AS src,
            (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
          UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
            FROM documents
          UNION ALL SELECT doc_id, (doc_id + 4) % (SELECT n FROM nn)
            FROM documents WHERE doc_id % 3 = 0
          UNION ALL SELECT doc_id, (doc_id * 3) % (SELECT n FROM nn)
            FROM documents WHERE doc_id % 5 = 0),
        adj AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM e0 WHERE src <> dst
          UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
        v0 AS MATERIALIZED (SELECT doc_id AS id, 0 AS depth
          FROM documents WHERE doc_id % 100 = 0),
        $rounds
        SELECT CAST(id AS BIGINT) AS id, CAST(depth AS BIGINT) AS depth
        FROM v$maxDepth ORDER BY id"""
      })
  }

  /** q214 — Markov next-event predictability
    * ([[graft.operators.Funnel.markovAccuracy]], round 12): q164's
    * transition matrix reduced to its argmax predictor and the top-1
    * accuracy it achieves — the learned-model baseline.
    */
  private val q214 = Q("q214_markov_accuracy",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.markovAccuracy(e, "user_id", "t_us",
          "event_id", "event_type")
        .orderBy(col("prev_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      w AS (SELECT event_type AS nxt,
          LAG(event_type) OVER (PARTITION BY user_id
            ORDER BY t, event_id) AS prv FROM e),
      c AS (SELECT prv, nxt, COUNT(*)::HUGEINT AS n FROM w
        WHERE prv IS NOT NULL GROUP BY 1, 2),
      p AS (SELECT prv, nxt AS predicted_next, n AS n_correct,
          ROW_NUMBER() OVER (PARTITION BY prv
            ORDER BY n DESC, nxt) AS rk FROM c),
      tot AS (SELECT prv, SUM(n)::HUGEINT AS tn FROM c GROUP BY prv)
      SELECT p.prv AS prev_type, p.predicted_next,
        CAST(tot.tn AS BIGINT) AS n_transitions,
        CAST(p.n_correct AS BIGINT) AS n_correct,
        CAST((1000000 * p.n_correct) // tot.tn AS BIGINT) AS acc_ppm
      FROM p JOIN tot USING (prv) WHERE p.rk = 1
      ORDER BY prev_type"""))

  /** q215 — referential-integrity scorecard
    * ([[graft.operators.Expectations.riAudit]], round 12): orphan and
    * null-key rates for the three FK relations every TPC-H-shaped
    * join depends on. Exact zeros are the expected state — the gate
    * pins the accounting, the spec plants orphans.
    */
  private val q215 = Q("q215_ri_audit",
    (s, dir) => {
      import graft.operators.Expectations
      Expectations.riAudit(t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey", "lineitem->orders")
        .unionByName(Expectations.riAudit(t(s, dir, "lineitem"),
          "l_partkey", t(s, dir, "part"), "p_partkey",
          "lineitem->part"))
        .unionByName(Expectations.riAudit(t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey",
          "orders->customer"))
        .orderBy(col("relation"))
    },
    Some("""WITH r1 AS (SELECT 'lineitem->orders' AS relation,
          COUNT(*)::HUGEINT AS n_child,
          SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0
            END)::HUGEINT AS n_null,
          SUM(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey IS NULL
            THEN 1 ELSE 0 END)::HUGEINT AS n_orphans
        FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l_orderkey = o_orderkey),
      r2 AS (SELECT 'lineitem->part', COUNT(*)::HUGEINT,
          SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0
            END)::HUGEINT,
          SUM(CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NULL
            THEN 1 ELSE 0 END)::HUGEINT
        FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
          ON l_partkey = p_partkey),
      r3 AS (SELECT 'orders->customer', COUNT(*)::HUGEINT,
          SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0
            END)::HUGEINT,
          SUM(CASE WHEN o_custkey IS NOT NULL AND c_custkey IS NULL
            THEN 1 ELSE 0 END)::HUGEINT
        FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o_custkey = c_custkey),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        UNION ALL SELECT * FROM r3)
      SELECT relation, CAST(n_child AS BIGINT) AS n_child,
        CAST(n_null AS BIGINT) AS n_null_keys,
        CAST(n_orphans AS BIGINT) AS n_orphans,
        CAST((1000000 * n_orphans) // n_child AS BIGINT) AS orphan_ppm
      FROM u ORDER BY relation"""))

  /** q216 — degree assortativity
    * ([[graft.operators.GraphRank.assortativity]], round 12, Newman
    * 2002): do hubs attach to hubs on q113's ring+chord graph —
    * signed-square ppm over exact endpoint-degree integers.
    */
  private val q216 = Q("q216_assortativity",
    (s, dir) => {
      import graft.operators.GraphRank
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val d = col("doc_id")
      def ring(off: Int) =
        docs.select(d.as("src"), pmod(d + off, lit(n)).as("dst"))
      val edges = ring(1)
        .unionByName(ring(2))
        .unionByName(docs.filter(pmod(d, lit(3)) === 0)
          .select(d.as("src"), pmod(d + 4, lit(n)).as("dst")))
        .unionByName(docs.filter(pmod(d, lit(5)) === 0)
          .select(d.as("src"), pmod(d * 3, lit(n)).as("dst")))
      GraphRank.assortativity(edges, "src", "dst")
    },
    Some("""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      e0 AS (SELECT doc_id AS src,
          (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
        UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
          FROM documents
        UNION ALL SELECT doc_id, (doc_id + 4) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 3 = 0
        UNION ALL SELECT doc_id, (doc_id * 3) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 5 = 0),
      ce AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
          GREATEST(src, dst) AS b FROM e0 WHERE src <> dst),
      sym AS (SELECT a AS s, b AS d FROM ce
        UNION ALL SELECT b, a FROM ce),
      deg AS (SELECT s AS id, COUNT(*)::HUGEINT AS dg FROM sym
        GROUP BY 1),
      ed AS (SELECT dx.dg AS x, dy.dg AS y FROM sym
        JOIN deg dx ON sym.s = dx.id JOIN deg dy ON sym.d = dy.id),
      t AS (SELECT COUNT(*)::HUGEINT AS m, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy FROM ed),
      f AS (SELECT m, (m*sxy - sx*sy) AS a, (m*sxx - sx*sx) AS vx,
          (m*syy - sy*sy) AS vy FROM t)
      SELECT CAST(m AS BIGINT) AS m_directed,
        CAST(CASE WHEN vx > 0 AND vy > 0
          THEN (CASE WHEN a >= 0 THEN 1 ELSE -1 END)
            * ((((a*a) // vx) * 1000000) // vy)
          ELSE 0 END AS BIGINT) AS assort2_signed_ppm
      FROM f"""))

  /** q217 — order→shipment cross-correlation
    * ([[graft.operators.Timeseries.xcfDaily]], round 12): daily
    * orders-placed vs lineitems-shipped at calendar lags −3..3 —
    * the pipeline-lag view q208's autocorrelation can't see.
    */
  private val q217 = Q("q217_xcf_daily",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      val l = t(s, dir, "lineitem").select(
        expr("unix_micros(cast(l_shipdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.xcfDaily(o, "t_us", l, "t_us",
        maxLag = 3)
    },
    Some("""WITH cx AS (SELECT epoch_us(o_orderdate) // 86400000000
          AS d, COUNT(*)::HUGEINT AS n FROM orders GROUP BY 1),
      cy AS (SELECT epoch_us(l_shipdate) // 86400000000 AS d,
          COUNT(*)::HUGEINT AS n FROM lineitem GROUP BY 1),
      lags(lag) AS (VALUES (-3),(-2),(-1),(0),(1),(2),(3)),
      p AS (SELECT lags.lag AS lag, x.n AS xv, y.n AS yv
        FROM cx x JOIN lags ON TRUE
        JOIN cy y ON y.d = x.d + lags.lag),
      t AS (SELECT lag, COUNT(*)::HUGEINT AS n, SUM(xv) AS sx,
          SUM(yv) AS sy, SUM(xv*yv) AS sxy, SUM(xv*xv) AS sxx,
          SUM(yv*yv) AS syy FROM p GROUP BY lag),
      f AS (SELECT lag, n, (n*sxy - sx*sy) AS a,
          (n*sxx - sx*sx) AS vx, (n*syy - sy*sy) AS vy FROM t)
      SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
        CAST(CASE WHEN vx > 0 AND vy > 0
          THEN (CASE WHEN a >= 0 THEN 1 ELSE -1 END)
            * ((((a*a) // vx) * 1000000) // vy)
          ELSE 0 END AS BIGINT) AS r2_signed_ppm
      FROM f ORDER BY lag"""))

  /** q218 — rapid-repeat telemetry screen
    * ([[graft.operators.Funnel.rapidRepeats]], round 12): per event
    * type, same-user same-type events within one hour of the previous
    * — the behavioral-duplicate detector next to exact-id dedup.
    */
  private val q218 = Q("q218_rapid_repeats",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.rapidRepeats(e, "user_id", "t_us",
          "event_id", "event_type", withinMicros = 3600000000L)
        .orderBy(col("event_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      w AS (SELECT event_type, t - LAG(t) OVER (PARTITION BY user_id,
          event_type ORDER BY t, event_id) AS dt FROM e)
      SELECT event_type, COUNT(*) AS n_events,
        CAST(COALESCE(SUM(CASE WHEN dt IS NOT NULL
          AND dt <= 3600000000 THEN 1 END), 0) AS BIGINT) AS n_rapid,
        CAST((1000000 * COALESCE(SUM(CASE WHEN dt IS NOT NULL
          AND dt <= 3600000000 THEN 1 END), 0)) // COUNT(*)
          AS BIGINT) AS rapid_ppm
      FROM w GROUP BY event_type ORDER BY event_type"""))

  /** q221 — seasonal-naive forecast backtest
    * ([[graft.operators.Timeseries.seasonalNaiveBacktest]], round 12):
    * does y(d−7) predict order volume better than y(d−1) — the
    * MASE-style exact ratio; ~10⁶ on this Poisson-flat series.
    */
  private val q221 = Q("q221_seasonal_naive",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.seasonalNaiveBacktest(o, "t_us")
    },
    Some("""WITH cnt AS (SELECT epoch_us(o_orderdate) // 86400000000
          AS d, COUNT(*)::HUGEINT AS n FROM orders GROUP BY 1),
      e7 AS (SELECT (CASE WHEN a.n >= b.n THEN a.n - b.n
            ELSE b.n - a.n END) AS e
        FROM cnt a JOIN cnt b ON a.d = b.d + 7),
      e1 AS (SELECT (CASE WHEN a.n >= b.n THEN a.n - b.n
            ELSE b.n - a.n END) AS e
        FROM cnt a JOIN cnt b ON a.d = b.d + 1),
      t AS (SELECT (SELECT COUNT(*) FROM e7)::HUGEINT AS n7,
          (SELECT SUM(e) FROM e7)::HUGEINT AS s7,
          (SELECT COUNT(*) FROM e1)::HUGEINT AS n1,
          (SELECT SUM(e) FROM e1)::HUGEINT AS s1)
      SELECT CAST(n7 AS BIGINT) AS n_seasonal,
        CAST(s7 AS BIGINT) AS abs_err_seasonal,
        CAST(n1 AS BIGINT) AS n_naive,
        CAST(s1 AS BIGINT) AS abs_err_naive,
        CAST(CASE WHEN s1 > 0
          THEN (1000000 * s7 * n1) // (s1 * n7)
          ELSE 0 END AS BIGINT) AS mase_ppm
      FROM t"""))

  /** q222 — inter-arrival burstiness (Fano factor)
    * ([[graft.operators.Funnel.interarrivalVmr]], round 12): per
    * event type, the variance-to-mean ratio of same-user gaps in µs —
    * ≈ mean gap on this memoryless fixture.
    */
  private val q222 = Q("q222_interarrival_vmr",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.interarrivalVmr(e, "user_id", "t_us",
          "event_id", "event_type")
        .orderBy(col("event_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      g AS (SELECT event_type, (t - LAG(t) OVER (PARTITION BY
          user_id, event_type ORDER BY t, event_id))::HUGEINT AS dt
        FROM e),
      s AS (SELECT event_type, COUNT(*)::HUGEINT AS n, SUM(dt) AS s1,
          SUM(dt*dt) AS s2
        FROM g WHERE dt IS NOT NULL GROUP BY event_type)
      SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
        CAST(s1 // n AS BIGINT) AS mean_gap_us,
        CAST(CASE WHEN s1 > 0 THEN (n*s2 - s1*s1) // (n * s1)
          ELSE 0 END AS BIGINT) AS vmr_us
      FROM s ORDER BY event_type"""))

  /** q223 — local clustering coefficients
    * ([[graft.operators.GraphRank.clusteringCoeff]], round 12):
    * q113's triangle counts normalized per node by C(deg, 2) — clique
    * membership vs star centers on the ring+chord graph.
    */
  private val q223 = Q("q223_clustering_coeff",
    (s, dir) => {
      import graft.operators.GraphRank
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val d = col("doc_id")
      def ring(off: Int) =
        docs.select(d.as("src"), pmod(d + off, lit(n)).as("dst"))
      val edges = ring(1)
        .unionByName(ring(2))
        .unionByName(docs.filter(pmod(d, lit(3)) === 0)
          .select(d.as("src"), pmod(d + 4, lit(n)).as("dst")))
        .unionByName(docs.filter(pmod(d, lit(5)) === 0)
          .select(d.as("src"), pmod(d * 3, lit(n)).as("dst")))
      GraphRank.clusteringCoeff(edges, "src", "dst")
        .orderBy(col("id"))
    },
    Some("""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      e0 AS (SELECT doc_id AS src,
          (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
        UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
          FROM documents
        UNION ALL SELECT doc_id, (doc_id + 4) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 3 = 0
        UNION ALL SELECT doc_id, (doc_id * 3) % (SELECT n FROM nn)
          FROM documents WHERE doc_id % 5 = 0),
      ce AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
          GREATEST(src, dst) AS b FROM e0 WHERE src <> dst),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM ce e1 JOIN ce e2 ON e2.a = e1.b
        JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
      perv AS (SELECT UNNEST([x, y, z]) AS id FROM tri),
      tc AS (SELECT id, COUNT(*)::HUGEINT AS tri FROM perv
        GROUP BY id),
      deg AS (SELECT id, COUNT(*)::HUGEINT AS dg FROM
        (SELECT a AS id FROM ce UNION ALL SELECT b FROM ce)
        GROUP BY id)
      SELECT deg.id AS id, CAST(deg.dg AS BIGINT) AS deg,
        CAST(COALESCE(tc.tri, 0) AS BIGINT) AS triangles,
        CAST(CASE WHEN deg.dg >= 2
          THEN (2000000 * COALESCE(tc.tri, 0))
            // (deg.dg * (deg.dg - 1))
          ELSE 0 END AS BIGINT) AS cc_ppm
      FROM deg LEFT JOIN tc ON deg.id = tc.id ORDER BY id"""))

  /** q224 — exact skewness/kurtosis of daily volume
    * ([[graft.operators.Timeseries.momentsDaily]], round 12): tail
    * shape of the day frame via raw power sums — Poisson sanity:
    * skew² ≈ 1/λ, kurtosis ≈ 3 + 1/λ.
    */
  private val q224 = Q("q224_moments_daily",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.momentsDaily(o, "t_us")
    },
    Some("""WITH cnt AS (SELECT epoch_us(o_orderdate) // 86400000000
          AS d, COUNT(*)::HUGEINT AS n FROM orders GROUP BY 1),
      s AS (SELECT COUNT(*)::HUGEINT AS m, SUM(n) AS s1,
          SUM(n*n) AS s2, SUM(n*n*n) AS s3, SUM(n*n*n*n) AS s4
        FROM cnt),
      f AS (SELECT m, (m*s2 - s1*s1) AS m2,
          (m*m*s3 - 3*m*s1*s2 + 2*s1*s1*s1) AS a3,
          (m*m*m*s4 - 4*m*m*s1*s3 + 6*m*s1*s1*s2
            - 3*s1*s1*s1*s1) AS a4 FROM s)
      SELECT CAST(m AS BIGINT) AS n_days,
        CAST(CASE WHEN m2 > 0
          THEN (CASE WHEN a3 >= 0 THEN 1 ELSE -1 END)
            * ((((ABS(a3) // m2) * ABS(a3)) // m2) * 1000000) // m2
          ELSE 0 END AS BIGINT) AS skew2_signed_ppm,
        CAST(CASE WHEN m2 > 0 THEN ((a4 // m2) * 1000000) // m2
          ELSE 0 END AS BIGINT) AS kurt_ppm
      FROM f"""))

  /** q225 — Pareto concentration point
    * ([[graft.operators.Profile.paretoPoint]], round 12): the minimum
    * number of top customers holding 80% of revenue — q166 Gini's
    * "who you can't lose" companion, cross-multiplied exact test.
    */
  private val q225 = Q("q225_pareto_point",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Profile.paretoPoint(o, "o_custkey", "cents")
    },
    Some("""WITH per AS (SELECT o_custkey AS ck,
          SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))::HUGEINT
            AS cents
        FROM orders GROUP BY 1),
      rk AS (SELECT cents,
          ROW_NUMBER() OVER (ORDER BY cents DESC, ck) AS r,
          SUM(cents) OVER (ORDER BY cents DESC, ck
            ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(cents) OVER () AS tot, COUNT(*) OVER () AS n FROM per)
      SELECT CAST(MAX(n) AS BIGINT) AS n_keys,
        CAST(MIN(CASE WHEN 5 * cum >= 4 * tot THEN r END) AS BIGINT)
          AS k_top,
        CAST((1000000 * MIN(CASE WHEN 5 * cum >= 4 * tot THEN r END))
          // MAX(n) AS BIGINT) AS k_share_ppm,
        CAST(MAX(tot) AS BIGINT) AS total
      FROM rk"""))

  /** q226 — Kaplan–Meier time-to-first-purchase survival
    * ([[graft.operators.Funnel.survivalCurve]], round 12): per event
    * day, the at-risk set and the ppm survival product — censored
    * users stay in the denominator until the horizon; the quantized
    * ppm fold is replayed verbatim by `list_reduce`.
    */
  private val q226 = Q("q226_survival_km",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"))
      graft.operators.Funnel.survivalCurve(e, "user_id", "t_us",
          "event_type", "purchase")
        .orderBy(col("t_days"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
          epoch_us(ts) // 86400000000 AS d FROM events),
      bounds AS (SELECT MAX(d) AS d1 FROM e),
      firstp AS (SELECT user_id, MIN(d) AS pd FROM e
        WHERE event_type = 'purchase' GROUP BY 1),
      users AS (SELECT user_id, MIN(d) AS ud FROM e GROUP BY 1),
      obs AS (SELECT u.user_id, (f.pd - u.ud) AS t_event,
          ((SELECT d1 FROM bounds) - u.ud) AS t_cens
        FROM users u LEFT JOIN firstp f
          ON u.user_id = f.user_id AND f.pd >= u.ud),
      dur AS (SELECT CASE WHEN t_event IS NOT NULL THEN t_event
            ELSE t_cens END AS t,
          CASE WHEN t_event IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM obs),
      days AS (SELECT t, SUM(ev)::HUGEINT AS d_i,
          COUNT(*)::HUGEINT AS leave_i FROM dur GROUP BY t),
      risk AS (SELECT t, d_i,
          (SELECT COUNT(*) FROM dur)
            - COALESCE(SUM(leave_i) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS n_i
        FROM days),
      seq AS (SELECT t, d_i, n_i FROM risk WHERE d_i > 0),
      folded AS (SELECT t, d_i, n_i,
          list_reduce(list_prepend(1000000::HUGEINT,
              LIST((1000000 * (n_i - d_i)) // n_i)
                OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)),
            (s, x) -> (s * x) // 1000000) AS surv_ppm
        FROM seq)
      SELECT CAST(t AS BIGINT) AS t_days, CAST(d_i AS BIGINT)
          AS n_events,
        CAST(n_i AS BIGINT) AS n_at_risk,
        CAST(surv_ppm AS BIGINT) AS surv_ppm
      FROM folded ORDER BY t_days"""))

  /** q227 — order→ship lag quantiles per priority
    * ([[graft.operators.Profile.groupQuantiles]], round 12): discrete
    * rank quantiles of the DAY-minus-DAY lag (each day floored on a
    * POSITIVE epoch before subtracting — flooring the negative
    * difference directly would hit the `div`-vs-`//` negative-floor
    * divergence).
    */
  private val q227 = Q("q227_ship_lag_quantiles",
    (s, dir) => {
      val j = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          (expr("unix_micros(cast(l_shipdate as timestamp)) " +
            "div 86400000000") -
           expr("unix_micros(cast(o_orderdate as timestamp)) " +
             "div 86400000000")).as("lag_days"),
          col("l_orderkey"), col("l_linenumber"))
      graft.operators.Profile.groupQuantiles(j, "o_orderpriority",
          "lag_days", Seq("l_orderkey", "l_linenumber"))
        .withColumnRenamed("grp", "o_orderpriority")
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH j AS (SELECT o.o_orderpriority AS pri,
          (epoch_us(l.l_shipdate) // 86400000000)
            - (epoch_us(o.o_orderdate) // 86400000000) AS lag,
          l.l_orderkey AS ok, l.l_linenumber AS ln
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      r AS (SELECT pri, lag,
          CAST(ROW_NUMBER() OVER (PARTITION BY pri
            ORDER BY lag, ok, ln) AS BIGINT) AS rn,
          COUNT(*) OVER (PARTITION BY pri) AS n FROM j)
      SELECT pri AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
        CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN lag END)
          AS BIGINT) AS p25,
        CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN lag END)
          AS BIGINT) AS p50,
        CAST(MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN lag END)
          AS BIGINT) AS p75,
        CAST(MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN lag END)
          AS BIGINT) AS p95
      FROM r GROUP BY pri ORDER BY pri"""))

  /** q228 — log₂ inter-arrival histogram
    * ([[graft.operators.Funnel.gapHistogram]], round 12): the HDR
    * view of q222's Fano factor — bucket = binary digit count of the
    * µs gap (`length(bin(x))` ⇄ exact in both engines, no log2
    * transcendental).
    */
  private val q228 = Q("q228_gap_histogram",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.gapHistogram(e, "user_id", "t_us",
          "event_id", "event_type")
        .orderBy(col("event_type"), col("log2_bucket"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      g AS (SELECT event_type, t - LAG(t) OVER (PARTITION BY user_id,
          event_type ORDER BY t, event_id) AS dt FROM e),
      b AS (SELECT event_type, CASE WHEN dt >= 1
          THEN length(bin(dt)) ELSE 0 END AS bucket
        FROM g WHERE dt IS NOT NULL),
      c AS (SELECT event_type, bucket, COUNT(*) AS n
        FROM b GROUP BY 1, 2),
      tot AS (SELECT event_type, SUM(n) AS tn FROM c GROUP BY 1)
      SELECT c.event_type, CAST(bucket AS BIGINT) AS log2_bucket,
        CAST(n AS BIGINT) AS n,
        CAST((1000000 * n) // tn AS BIGINT) AS share_ppm
      FROM c JOIN tot USING (event_type)
      ORDER BY event_type, log2_bucket"""))

  /** q230 — daily session bounce rate
    * ([[graft.operators.Sessionize.bounceRate]], round 12): q44's
    * sessions rolled up to the single-event share per start day —
    * the engagement KPI over the audited sessionize shape.
    */
  private val q230 = Q("q230_bounce_rate",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      graft.operators.Sessionize.bounceRate(e, "user_id", "ts_us",
          maxGap = 1800000000L, tieCol = "event_id")
        .orderBy(col("day"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        FROM events),
      l AS (SELECT user_id, event_id, ts_us,
          CASE WHEN LAG(ts_us) OVER w IS NULL
            OR ts_us - LAG(ts_us) OVER w > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id
          ORDER BY ts_us, event_id)),
      s AS (SELECT user_id, ts_us,
          SUM(is_new) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        FROM l),
      sess AS (SELECT user_id, sid, MIN(ts_us) // 86400000000 AS day,
          COUNT(*) AS ne
        FROM s GROUP BY 1, 2),
      d AS (SELECT day, COUNT(*) AS n_sessions,
          SUM(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS n_bounces
        FROM sess GROUP BY day)
      SELECT CAST(day AS BIGINT) AS day,
        CAST(n_sessions AS BIGINT) AS n_sessions,
        CAST(n_bounces AS BIGINT) AS n_bounces,
        CAST((1000000 * n_bounces) // n_sessions AS BIGINT)
          AS bounce_ppm
      FROM d ORDER BY day"""))

  /** q231 — day-of-week × hour heatmap
    * ([[graft.operators.Timeseries.dowHourHeatmap]], round 12): the
    * 168-cell deploy-window grid with exact ppm shares.
    */
  private val q231 = Q("q231_dow_hour_heatmap",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        expr("unix_micros(cast(ts as timestamp))").as("t_us"))
      graft.operators.Timeseries.dowHourHeatmap(e, "t_us")
        .orderBy(col("dow"), col("hr"))
    },
    Some("""WITH c AS (SELECT (epoch_us(ts) // 86400000000 + 3) % 7
          AS dow, (epoch_us(ts) % 86400000000) // 3600000000 AS hr,
          COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      tot AS (SELECT SUM(n) AS t FROM c)
      SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
        CAST(n AS BIGINT) AS n,
        CAST((1000000 * n) // t AS BIGINT) AS share_ppm
      FROM c, tot ORDER BY dow, hr"""))

  /** q232 — weighted median document length
    * ([[graft.operators.Profile.weightedMedian]], round 12): the
    * length such that half the corpus's CHARACTERS live in shorter
    * documents — the packing-plan number the unweighted median isn't.
    */
  private val q232 = Q("q232_weighted_median",
    (s, dir) =>
      graft.operators.Profile.weightedMedian(
          t(s, dir, "documents"), "lang", "n_chars", "n_chars",
          "doc_id")
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang")),
    Some("""WITH w AS (SELECT lang, n_chars::HUGEINT AS v, doc_id
        FROM documents
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL
          AND n_chars > 0),
      r AS (SELECT lang, v, doc_id,
          SUM(v) OVER (PARTITION BY lang ORDER BY v, doc_id
            ROWS UNBOUNDED PRECEDING) AS cumw,
          SUM(v) OVER (PARTITION BY lang) AS totw,
          COUNT(*) OVER (PARTITION BY lang) AS n FROM w)
      SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
        CAST(MAX(totw) AS BIGINT) AS total_w,
        CAST(MIN(CASE WHEN 2 * cumw >= totw THEN v END) AS BIGINT)
          AS wmedian
      FROM r GROUP BY lang ORDER BY lang"""))

  /** q233 — daily user growth
    * ([[graft.operators.Funnel.userGrowth]], round 12): active / new
    * / cumulative users per day — the new-vs-returning split whose
    * cumulative ties out to q159's cohort sizes.
    */
  private val q233 = Q("q233_user_growth",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"))
      graft.operators.Funnel.userGrowth(e, "user_id", "t_us")
        .orderBy(col("day"))
    },
    Some("""WITH e AS (SELECT user_id,
          epoch_us(ts) // 86400000000 AS d FROM events),
      act AS (SELECT d, COUNT(DISTINCT user_id) AS n_active
        FROM e GROUP BY d),
      fst AS (SELECT user_id, MIN(d) AS fd FROM e GROUP BY user_id),
      nw AS (SELECT fd AS d, COUNT(*) AS n_new FROM fst GROUP BY fd)
      SELECT CAST(act.d AS BIGINT) AS day,
        CAST(n_active AS BIGINT) AS n_active,
        CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
        CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY act.d
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      FROM act LEFT JOIN nw ON act.d = nw.d ORDER BY day"""))

  /** q234 — numeric column profile of the orders feed
    * ([[graft.operators.Profile.describeNumeric]], round 12): the
    * DESCRIBE scorecard — counts, nulls, exact distincts, extremes,
    * sums — over integral projections (cents for the price).
    */
  private val q234 = Q("q234_column_profile",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Profile.describeNumeric(o,
          Seq("o_orderkey", "o_custkey", "cents"))
        .orderBy(col("column"))
    },
    Some("""WITH src AS (SELECT o_orderkey, o_custkey,
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      u AS (
        SELECT 'cents' AS col, COUNT(*) AS n,
          SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS n_null,
          COUNT(DISTINCT cents) AS nd, MIN(cents) AS mn,
          MAX(cents) AS mx, SUM(cents::HUGEINT) AS s FROM src
        UNION ALL
        SELECT 'o_custkey', COUNT(*),
          SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
          COUNT(DISTINCT o_custkey), MIN(o_custkey), MAX(o_custkey),
          SUM(o_custkey::HUGEINT) FROM src
        UNION ALL
        SELECT 'o_orderkey', COUNT(*),
          SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END),
          COUNT(DISTINCT o_orderkey), MIN(o_orderkey),
          MAX(o_orderkey), SUM(o_orderkey::HUGEINT) FROM src)
      SELECT col AS "column", CAST(n AS BIGINT) AS n,
        CAST(n_null AS BIGINT) AS n_null,
        CAST(nd AS BIGINT) AS n_distinct, CAST(mn AS BIGINT) AS min,
        CAST(mx AS BIGINT) AS max, CAST(s AS BIGINT) AS sum
      FROM u ORDER BY col"""))

  /** q235 — year-over-year revenue deltas
    * ([[graft.operators.Timeseries.periodDelta]], round 12): the
    * review-opening table — yearly cents with signed ppm change,
    * sign split before the floor.
    */
  private val q235 = Q("q235_yoy_revenue",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("year(cast(o_orderdate as timestamp))").as("yr"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Timeseries.periodDelta(o, "yr", "cents")
        .orderBy(col("period"))
    },
    Some("""WITH y AS (SELECT EXTRACT(year FROM o_orderdate)::BIGINT
          AS yr,
          SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))::HUGEINT
            AS cents,
          COUNT(*)::HUGEINT AS n
        FROM orders GROUP BY 1),
      l AS (SELECT yr, n, cents,
          LAG(cents) OVER (ORDER BY yr) AS prev FROM y)
      SELECT CAST(yr AS BIGINT) AS period, CAST(n AS BIGINT) AS n,
        CAST(cents AS BIGINT) AS value,
        CAST(CASE WHEN prev IS NOT NULL AND prev > 0
          THEN (CASE WHEN cents >= prev THEN 1 ELSE -1 END)
            * ((1000000 * (CASE WHEN cents >= prev THEN cents - prev
                ELSE prev - cents END)) // prev)
          END AS BIGINT) AS delta_ppm
      FROM l ORDER BY period"""))

  /** q236 — supplier revenue concentration per nation
    * ([[graft.operators.Profile.hhiConcentration]], round 12): HHI
    * over ppm-floored supplier shares — the "is this nation's supply
    * one vendor deep" screen.
    */
  private val q236 = Q("q236_supplier_hhi",
    (s, dir) => {
      val j = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").cast("long").as("s_nationkey"),
          col("l_suppkey"),
          round(col("l_extendedprice") * 100, 0).cast("long")
            .as("cents"))
      graft.operators.Profile.hhiConcentration(j, "s_nationkey",
          "l_suppkey", "cents")
        .withColumnRenamed("grp", "s_nationkey")
        .orderBy(col("s_nationkey"))
    },
    Some("""WITH rev AS (SELECT s.s_nationkey AS nk,
          l.l_suppkey AS sk,
          SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))::HUGEINT
            AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
      tot AS (SELECT nk, SUM(cents) AS t, COUNT(*) AS ns
        FROM rev GROUP BY nk),
      sh AS (SELECT rev.nk, (1000000 * rev.cents) // tot.t AS s_ppm
        FROM rev JOIN tot USING (nk))
      SELECT CAST(sh.nk AS BIGINT) AS s_nationkey,
        CAST(MAX(tot.ns) AS BIGINT) AS n_keys,
        CAST(SUM(s_ppm * s_ppm) // 1000000 AS BIGINT) AS hhi_ppm
      FROM sh JOIN tot ON sh.nk = tot.nk GROUP BY sh.nk
      ORDER BY s_nationkey"""))

  /** q237 — seasonal strength (one-way η²)
    * ([[graft.operators.Timeseries.seasonalStrength]], round 12):
    * what share of daily-volume variance the weekday explains —
    * near 0 on this Poisson-flat series, the claim q221's MASE ≈ 1
    * makes from the forecasting side.
    */
  private val q237 = Q("q237_seasonal_strength",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("unix_micros(cast(o_orderdate as timestamp))").as("t_us"))
      graft.operators.Timeseries.seasonalStrength(o, "t_us")
    },
    Some("""WITH cnt AS (SELECT epoch_us(o_orderdate) // 86400000000
          AS d, COUNT(*)::HUGEINT AS n FROM orders GROUP BY 1),
      t AS (SELECT COUNT(*)::HUGEINT AS m, SUM(n) AS s,
          SUM(n*n) AS s2 FROM cnt),
      g AS (SELECT (d + 3) % 7 AS w, COUNT(*)::HUGEINT AS nw,
          SUM(n) AS sw, SUM(n*n) AS sw2 FROM cnt GROUP BY 1),
      sse AS (SELECT SUM(((1000000 * (nw * sw2 - sw * sw)) // nw))
        AS e FROM g),
      sst AS (SELECT ((1000000 * (m * s2 - s * s)) // m) AS t FROM t)
      SELECT CAST((SELECT m FROM t) AS BIGINT) AS n_days,
        CAST((SELECT t FROM sst) AS BIGINT) AS sst_micro,
        CAST((SELECT e FROM sse) AS BIGINT) AS sse_micro,
        CAST(CASE WHEN (SELECT t FROM sst) > 0
          THEN 1000000 - ((1000000 * (SELECT e FROM sse))
            // (SELECT t FROM sst))
          ELSE 0 END AS BIGINT) AS eta2_ppm"""))

  /** q238 — items-per-order histogram
    * ([[graft.operators.Profile.groupSizeHistogram]], round 12): the
    * fan-out distribution every orders⋈lineitem plan bets on.
    */
  private val q238 = Q("q238_order_size_hist",
    (s, dir) =>
      graft.operators.Profile.groupSizeHistogram(
          t(s, dir, "lineitem"), "l_orderkey")
        .orderBy(col("size")),
    Some("""WITH per AS (SELECT l_orderkey, COUNT(*) AS sz
        FROM lineitem GROUP BY 1)
      SELECT CAST(sz AS BIGINT) AS size, COUNT(*) AS n_groups,
        CAST(sz * COUNT(*) AS BIGINT) AS n_rows
      FROM per GROUP BY sz ORDER BY sz"""))

  /** q239 — first-touch channel conversion
    * ([[graft.operators.Funnel.channelConversion]], round 12): which
    * entry event type converts to a purchase within 3 days — the
    * acquisition-quality split (unbounded windows saturate at 10⁶ on
    * long-lived users; the bound is the semantics).
    */
  private val q239 = Q("q239_channel_cvr",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"))
      graft.operators.Funnel.channelConversion(e, "user_id", "t_us",
          "event_id", "event_type", target = "purchase",
          windowMicros = 259200000000L)
        .orderBy(col("channel"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
          event_id FROM events),
      fst AS (SELECT user_id, event_type AS ch, t AS ft FROM (
        SELECT user_id, event_type, t,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY t, event_id) AS rn FROM e)
        WHERE rn = 1),
      conv AS (SELECT DISTINCT e.user_id FROM e JOIN fst
          USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t >= fst.ft
          AND e.t <= fst.ft + 259200000000)
      SELECT ch AS channel, COUNT(*) AS n_users,
        CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0
          END) AS BIGINT) AS n_converted,
        CAST((1000000 * SUM(CASE WHEN conv.user_id IS NOT NULL
          THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS cvr_ppm
      FROM fst LEFT JOIN conv USING (user_id)
      GROUP BY ch ORDER BY channel"""))

  /** q240 — peak concurrent sessions per day
    * ([[graft.operators.Sessionize.peakConcurrency]], round 12): the
    * capacity-planning sweep over q44's sessions — releases sort
    * before joins at the same instant.
    */
  private val q240 = Q("q240_peak_concurrency",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      graft.operators.Sessionize.peakConcurrency(e, "user_id",
          "ts_us", maxGap = 1800000000L, tieCol = "event_id")
        .orderBy(col("day"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts)
          AS ts_us FROM events),
      l AS (SELECT user_id, event_id, ts_us,
          CASE WHEN LAG(ts_us) OVER w IS NULL
            OR ts_us - LAG(ts_us) OVER w > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id
          ORDER BY ts_us, event_id)),
      s AS (SELECT user_id, ts_us,
          SUM(is_new) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        FROM l),
      sess AS (SELECT user_id, sid, MIN(ts_us) AS st, MAX(ts_us) AS en
        FROM s GROUP BY 1, 2),
      pts AS (SELECT st AS t, 1 AS dlt FROM sess
        UNION ALL SELECT en + 1, -1 FROM sess),
      run AS (SELECT t, SUM(dlt) OVER (ORDER BY t, dlt
          ROWS UNBOUNDED PRECEDING) AS cur FROM pts)
      SELECT CAST(t // 86400000000 AS BIGINT) AS day,
        CAST(MAX(cur) AS BIGINT) AS peak_concurrent
      FROM run GROUP BY 1 ORDER BY day"""))

  /** q241 — per-brand discount↔quantity rank correlation
    * ([[graft.operators.Profile.spearmanRho2By]], round 12): q196's
    * Spearman with the midrank windows partitioned by brand — the
    * by-segment correlation matrix that catches sign flips a global
    * ρ averages away.
    */
  private val q241 = Q("q241_spearman_by_brand",
    (s, dir) => {
      val j = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_discount") * 100, 0).cast("long").as("x"),
          col("l_quantity").cast("long").as("y"))
      graft.operators.Profile.spearmanRho2By(j, "p_brand", "x", "y")
        .withColumnRenamed("grp", "p_brand")
        .orderBy(col("p_brand"))
    },
    Some("""WITH j AS (SELECT p.p_brand AS g,
          CAST(ROUND(l.l_discount * 100) AS BIGINT) AS x,
          CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      rx AS (SELECT g, x, COUNT(*) AS c FROM j GROUP BY g, x),
      rxm AS (SELECT g, x, 2 * COALESCE(SUM(c) OVER (PARTITION BY g
          ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1
          PRECEDING), 0) + c + 1 AS r2 FROM rx),
      ry AS (SELECT g, y, COUNT(*) AS c FROM j GROUP BY g, y),
      rym AS (SELECT g, y, 2 * COALESCE(SUM(c) OVER (PARTITION BY g
          ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1
          PRECEDING), 0) + c + 1 AS r2 FROM ry),
      m AS (SELECT j.g, rxm.r2 AS rx2, rym.r2 AS ry2 FROM j
        JOIN rxm ON j.g = rxm.g AND j.x = rxm.x
        JOIN rym ON j.g = rym.g AND j.y = rym.y),
      t AS (SELECT g, COUNT(*)::HUGEINT AS n, SUM(rx2)::HUGEINT AS sx,
          SUM(ry2)::HUGEINT AS sy, SUM(rx2 * ry2)::HUGEINT AS sxy,
          SUM(rx2 * rx2)::HUGEINT AS sxx,
          SUM(ry2 * ry2)::HUGEINT AS syy FROM m GROUP BY g),
      f AS (SELECT g, n, (n * sxy - sx * sy) AS a,
          (n * sxx - sx * sx) AS vx, (n * syy - sy * sy) AS vy FROM t)
      SELECT g AS p_brand, CAST(n AS BIGINT) AS n,
        CAST(CASE WHEN vx > 0 AND vy > 0
          THEN (CASE WHEN a >= 0 THEN 1 ELSE -1 END)
            * ((((a * a) // vx) * 1000000) // vy)
          ELSE 0 END AS BIGINT) AS rho2_signed_ppm
      FROM f ORDER BY p_brand"""))

  /** q242 — month-of-year seasonality
    * ([[graft.operators.Profile.categoryShareChi2]], round 12): the
    * dowProfile arithmetic generalized to a declared k — order volume
    * by calendar month, exact shares and uniform-χ² terms (k=12).
    */
  private val q242 = Q("q242_month_seasonality",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("month(cast(o_orderdate as timestamp))").cast("long")
          .as("mo"))
      graft.operators.Profile.categoryShareChi2(o, "mo", k = 12)
        .withColumnRenamed("cat", "mo")
        .orderBy(col("mo"))
    },
    Some("""WITH c AS (SELECT EXTRACT(month FROM o_orderdate)::BIGINT
          AS mo, COUNT(*) AS n FROM orders GROUP BY 1),
      tot AS (SELECT SUM(n) AS t FROM c)
      SELECT mo, CAST(n AS BIGINT) AS n,
        CAST((1000000 * n) // t AS BIGINT) AS share_ppm,
        CAST((1000000::HUGEINT * (12 * n - t) * (12 * n - t))
          // (12 * t) AS BIGINT) AS chi2_term_micro
      FROM c, tot ORDER BY mo"""))

  /** q243 — local-supplier revenue by nation (the TPC-H Q5 shape):
    * a SIX-table join — lineitem⋈orders⋈customer with the
    * customer-nation = supplier-nation co-location condition, dims
    * (supplier⋈nation⋈region) pre-reduced and BROADCAST — the
    * deep-join coverage row: region/nation/supplier collapse to one
    * small broadcast side before the fact tables join on their keys,
    * so the only shuffles are the two fact-key exchanges Catalyst
    * needs anyway. Region pinned to MIN(r_name) (a 5-row metadata
    * collect) and a two-year date band.
    */
  private val q243 = Q("q243_local_supplier_revenue",
    (s, dir) => {
      val rname = t(s, dir, "region")
        .agg(min(col("r_name"))).head.getString(0)
      val nat = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === rname),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = t(s, dir, "supplier")
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >=
            lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100, 0).cast("long").as("cents"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(sum(col("cents").cast("decimal(38,0)")).cast("long")
          .as("revenue_cents"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue_cents").desc, col("nation"))
    },
    Some("""SELECT n.n_name AS nation,
        CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
          * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        COUNT(*) AS n_items
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
        AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = (SELECT MIN(r_name) FROM region)
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n.n_name
      ORDER BY revenue_cents DESC, nation"""))

  /** q244 — top unshipped orders by revenue (the TPC-H Q3 shape):
    * segment-filtered customers ⋈ pre-cutoff orders ⋈ post-cutoff
    * lineitems, rolled up per order and cut to the global top 10 —
    * the fact-fact join + TakeOrdered pattern (the per-order rollup
    * keeps only (orderkey, cents, day) moving into the final cut).
    * Segment pinned to MIN(c_mktsegment) (bounded metadata collect,
    * the q243 convention).
    */
  private val q244 = Q("q244_top_unshipped",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .agg(min(col("c_mktsegment"))).head.getString(0)
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === seg).select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") <
          lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) " +
            "div 86400000000").as("order_day"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >
          lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100, 0).cast("long").as("cents"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_orderkey"), col("order_day"))
        .agg(sum(col("cents").cast("decimal(38,0)")).cast("long")
          .as("revenue_cents"))
        .select(col("o_orderkey"), col("revenue_cents"),
          col("order_day"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o.o_orderkey,
        CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
          * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
          AS order_day
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment =
          (SELECT MIN(c_mktsegment) FROM customer)
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
        AND l.l_shipdate > TIMESTAMP '1997-01-01'
      GROUP BY o.o_orderkey, o.o_orderdate
      ORDER BY revenue_cents DESC, o_orderkey LIMIT 10"""))

  /** q248 — per-group EQUI-DEPTH histogram
    * ([[graft.operators.Profile.equiDepthBins]], r13): order totals in
    * exact cents cut into 8 equal-count rank bins per priority class —
    * the adaptive binning a skewed metric needs (equi-width would pile
    * everything into bucket 0). All-integer rank cuts
    * (⌊(rn−1)·B/n⌋ div-mirrored, non-negative so the div ⇄ //
    * divergence can't bite); lo/hi are actual data values.
    */
  private val q248 = Q("q248_equidepth_bins",
    (s, dir) => {
      import graft.operators.Profile
      Profile.equiDepthBins(
        t(s, dir, "orders").select(col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long")
            .as("cents"), col("o_orderkey")),
        "o_orderpriority", "cents", Seq("o_orderkey"), bins = 8)
        .select(col("grp").as("o_orderpriority"), col("bin"),
          col("n_rows"), col("lo"), col("hi"))
        .orderBy(col("o_orderpriority"), col("bin"))
    },
    Some("""WITH v AS (SELECT o_orderpriority,
          CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
          o_orderkey
        FROM orders WHERE o_orderpriority IS NOT NULL),
      r AS (SELECT o_orderpriority, cents,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY cents, o_orderkey) AS rn,
          COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM v)
      SELECT o_orderpriority,
        CAST(((rn - 1) * 8) // n AS BIGINT) AS bin,
        COUNT(*) AS n_rows,
        CAST(MIN(cents) AS BIGINT) AS lo,
        CAST(MAX(cents) AS BIGINT) AS hi
      FROM r GROUP BY o_orderpriority, bin
      ORDER BY o_orderpriority, bin"""))

  /** q251 — large-volume orders (the TPC-H Q18 shape): the third
    * classic deep-join pattern next to q243 (Q5) and q244 (Q3) —
    * aggregate the big fact, FILTER ON THE AGGREGATE (HAVING), then
    * join the survivors BACK to the dimension chain and cut the
    * global top 100. Physically distinct from both: the HAVING
    * pre-reduces lineitem to a small winner set before any join, so
    * the customer/orders joins see thousands of rows, not millions.
    * Quantities sum as exact longs.
    */
  private val q251 = Q("q251_big_orders",
    (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) " +
            "div 86400000000").as("order_day"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("order_day"), col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT c.c_name, c.c_custkey, o.o_orderkey,
        CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
          AS order_day,
        CAST(b.sum_qty AS BIGINT) AS sum_qty
      FROM (SELECT l_orderkey,
          SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 250) b
      JOIN orders o ON o.o_orderkey = b.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY sum_qty DESC, o_orderkey LIMIT 100"""))

  /** q253 — gap-filled bucket counts
    * ([[graft.operators.Timeseries.dailyCountsFilled]], r13): a
    * deliberately sparse event sample (every 499th id) counted into
    * HOURLY buckets over the [min, max] spine — silent hours appear
    * as explicit zeros, which no present-days frame can show (the
    * feed-went-quiet monitor the cusum/dow operators document as an
    * upstream fill). Zero rows exist at every SF by construction
    * (≤ ~200 sampled events across a 720-hour span).
    */
  private val q253 = Q("q253_gapfilled_counts",
    (s, dir) => {
      import graft.operators.Timeseries
      val ev = t(s, dir, "events")
        .filter(col("event_id") % 499 === 0)
        .select(expr("unix_micros(cast(ts as timestamp))").as("tm"))
      Timeseries.dailyCountsFilled(ev, "tm",
          bucketMicros = 3600000000L)
        .orderBy(col("day"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS day
          FROM events WHERE event_id % 499 = 0),
        c AS (SELECT day, COUNT(*) AS n FROM e GROUP BY day),
        b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM c),
        spine AS (SELECT UNNEST(generate_series(lo, hi)) AS day
          FROM b WHERE lo IS NOT NULL)
      SELECT CAST(s.day AS BIGINT) AS day,
        CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      FROM spine s LEFT JOIN c USING (day) ORDER BY day"""))

  /** q255 — the SQL ENTRY surface (r13): the TPC-H Q1 pricing
    * summary run as a `spark.sql` TEXT query over registered temp
    * views — every other gate drives the DataFrame API; this one pins
    * the parser/view path AND that the GraftExtensions-registered
    * `graft_*` functions resolve from SQL text (`graft_nfc` on the
    * ASCII flag is an identity, so the oracle is unchanged — but an
    * extensions-registration regression fails this gate with
    * UNRESOLVED_ROUTINE instead of surfacing in some ad-hoc shell).
    * Revenue in exact cents, quantities as exact longs.
    */
  private val q255 = Q("q255_sql_surface",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT graft_nfc(l_returnflag) AS rf, l_linestatus AS ls,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
            * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
          COUNT(*) AS n
        FROM lineitem_v
        WHERE l_shipdate < TIMESTAMP '1997-09-01'
        GROUP BY graft_nfc(l_returnflag), l_linestatus
        ORDER BY rf, ls""")
    },
    Some("""SELECT l_returnflag AS rf, l_linestatus AS ls,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
          * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1997-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY rf, ls"""))

  val all: Seq[Q] = Seq(q28, q29, q30, q32, q33, q34, q43, q44, q46,
    q48, q52, q67, q81, q82, q90, q113, q133, q147, q148, q155, q158,
    q159, q161, q162, q164, q167, q168, q169, q170, q174, q175, q180,
    q181, q182, q183, q184, q185, q188, q189, q190, q192, q194, q195,
    q196, q197, q198, q199, q200, q201, q202, q203, q204, q206, q207,
    q208, q209, q210, q212, q213, q214, q215, q216, q217, q218, q221,
    q222, q223, q224, q225, q226, q227, q228, q230, q231, q232, q233,
    q234, q235, q236, q237, q238, q239, q240, q241, q242, q243, q244,
    q248, q251, q253, q255)
}
