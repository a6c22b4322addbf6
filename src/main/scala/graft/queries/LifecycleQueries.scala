package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables.t

/** End-to-end pipeline-lifecycle capstones: each gate composes a FULL
  * reference DAG — normalize → union → enrich → upsert → archive —
  * over deterministic fixtures derived from the driver's parquet
  * tables, reads the final TableStore state back, and hash-compares
  * one scorecard against a DuckDB oracle that replays the whole
  * composition in SQL (the q149 release-pipeline pattern applied to
  * the reference's §3.1 property-listings DAG). The operators are all
  * individually gated elsewhere; what THIS gate catches is drift
  * across the composition — a normalize column rename, a changed
  * upsert key order, an archive that stops deleting — any of which
  * flips the single hash.
  */
object LifecycleQueries {

  /** Deterministic §3.1 broker-feed fixtures, generation-parameterized
    * (reference: get_AV_listings.py / get_omada_listings.py /
    * get_royal_park_listings.py field shapes; values derived from the
    * TPC-H tables so the DuckDB oracle can rebuild them exactly).
    * Generation 2 delists every ninth entity and — for the AV feed —
    * reopens the listings generation 1 marked closed, so one run pair
    * exercises insert, ON-CONFLICT-DO-NOTHING skip, and archive.
    */
  private def avFeed(customer: DataFrame, g: Int): DataFrame = {
    val base = customer.select(
      col("c_custkey").as("k"),
      col("c_name").as("slug"),
      col("c_name").as("name"),
      concat(lit("addr-"), col("c_custkey")).as("address"),
      when(col("c_custkey") % 3 === 0, "Edmonton").otherwise("Calgary")
        .as("city"),
      lit("AB").as("province"),
      when(col("c_custkey") % 5 === 0 && lit(g) === 1, "closed")
        .otherwise("active").as("status"),
      when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("price"),
      col("c_mktsegment").as("size"),
      when(col("c_custkey") % 11 === 0, lit(null).cast("string"))
        .when(col("c_custkey") % 4 === 0, "Retail for Sale")
        .when(col("c_custkey") % 4 === 1, "Office for Lease")
        .when(col("c_custkey") % 4 === 2, "Industrial for Sale or Lease")
        .otherwise("Bare Land").as("propertyType"),
      lit(s"gen$g").as("description"),
      struct((col("c_custkey") % 90).cast("string").as("lat"),
        (col("c_custkey") % 120).cast("string").as("lng"))
        .as("location"),
      array(concat(lit("b-"), col("c_name"))).as("brochures"))
    if (g == 2) base.filter(col("k") % 9 =!= 0) else base
  }

  private def omadaFeed(supplier: DataFrame, g: Int): DataFrame = {
    val base = supplier.select(
      col("s_suppkey").as("k"),
      col("s_name").as("link"),
      struct(concat(lit("<b>"), col("s_name"), lit("</b>"))
        .as("rendered")).as("title"),
      concat(lit("saddr-"), col("s_suppkey")).as("address"),
      lit("Edmonton").as("city"),
      when(col("s_suppkey") % 2 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("CAD "), col("s_suppkey"))).as("price"),
      when(col("s_suppkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("s_suppkey").cast("string")).as("size_min"),
      when(col("s_suppkey") % 3 === 2,
        (col("s_suppkey") * 2).cast("string"))
        .otherwise(lit(null).cast("string")).as("size_max"),
      when(col("s_suppkey") % 3 === 0, "office for lease")
        .when(col("s_suppkey") % 3 === 1, "retail for sale")
        .otherwise("warehouse for rent").as("listing_type"),
      struct(concat(lit(s"<p>gen$g</p>")).as("rendered")).as("content"),
      (col("s_suppkey") % 85).cast("string").as("lat"),
      (col("s_suppkey") % 115).cast("string").as("lng"))
    if (g == 2) base.filter(col("k") % 9 =!= 0) else base
  }

  private def royalParkFeed(part: DataFrame, g: Int): DataFrame = {
    val base = part.select(
      col("p_partkey").as("k"),
      concat(lit("rp-"), col("p_partkey")).as("permalink"),
      col("p_name").as("post_title"),
      concat(lit("paddr-"), col("p_partkey")).as("address"),
      lit("Edmonton").as("city"),
      when(col("p_partkey") % 6 === 0, lit(null).cast("string"))
        .otherwise(col("p_brand")).as("price"),
      col("p_size").cast("string").as("building_size"),
      when(col("p_partkey") % 4 === 1, concat(col("p_type"), lit(" sublease")))
        .when(col("p_partkey") % 4 === 3, concat(col("p_type"), lit(" lease")))
        .otherwise(col("p_type")).as("type"),
      lit(s"gen$g").as("post_content"),
      (col("p_partkey") % 95).cast("string").as("latitude"),
      (col("p_partkey") % 125).cast("string").as("longitude"))
    if (g == 2) base.filter(col("k") % 9 =!= 0) else base
  }

  /** q245 — the §3.1 PROPERTY-LISTINGS LIFECYCLE capstone: two full
    * [[graft.pipelines.PropertyListings.run]] passes (generation 1
    * then generation 2) against one TableStore — three broker
    * normalizers, union, sale-or-lease classifier, three broadcast
    * enrichment joins, lenient casts, ON-CONFLICT-DO-NOTHING upsert
    * on (latitude, longitude, address)
    * (combine_broker_listings.py:63-228), then the delisting archive
    * (archive_delisted_properties.py:93-147) — and one scorecard over
    * the final live + archived tables. The `tag` column IS the
    * DO-NOTHING proof: a key present in both generations must keep
    * its gen1 row (reference upsert semantics), so only
    * reopened-in-gen2 keys may carry gen2. The oracle replays the
    * whole composition from the same TPC-H-derived fixtures.
    */
  private val q245 = Q("q245_listings_lifecycle",
    (s, dir) => {
      val customer = t(s, dir, "customer")
      val supplier = t(s, dir, "supplier")
      val part = t(s, dir, "part")
      val brochure = customer.filter(col("c_custkey") % 2 === 0)
        .select(md5(concat(lit("av:"), col("c_name"))).as("uuid"),
          concat(lit("eb-"), col("c_custkey")).as("extra_brochure"))
      val osm = supplier.filter(col("s_suppkey") % 2 === 0)
        .select(md5(concat(lit("omada:"), col("s_name"))).as("uuid"),
          concat(lit("tag-"), col("s_suppkey")).as("osm_tag"))
      val zoning = part.filter(col("p_partkey") % 2 === 0)
        .select(md5(concat(lit("royal_park:rp-"), col("p_partkey")))
          .as("uuid"), col("p_brand").as("zone"))
      Scratch.withDir("graft_q245_life") { root =>
        val store = new graft.sources.TableStore(s, root)
        val pipe = new graft.pipelines.PropertyListings(s, store)
        for (g <- Seq(1, 2))
          pipe.run(avFeed(customer, g).drop("k"),
            omadaFeed(supplier, g).drop("k"),
            royalParkFeed(part, g).drop("k"),
            brochure, osm, zoning)
        val live = store.read("property_listings")
          .withColumn("tbl", lit("live"))
        val archived = store.read("archived_listings")
          .withColumn("tbl", lit("archived"))
        val labels = Seq("sale", "lease", "sale_or_lease", "sublease", "")
        val passthru = !col("sale_or_lease").isin(labels: _*)
        live.unionByName(archived)
          .groupBy(col("tbl"), col("brokerage"),
            col("description").as("tag"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("sale_or_lease") === "sale", 1L).otherwise(0L))
              .as("n_sale"),
            sum(when(col("sale_or_lease") === "lease", 1L).otherwise(0L))
              .as("n_lease"),
            sum(when(col("sale_or_lease") === "sale_or_lease", 1L)
              .otherwise(0L)).as("n_sol"),
            sum(when(col("sale_or_lease") === "sublease", 1L)
              .otherwise(0L)).as("n_sub"),
            sum(when(col("sale_or_lease") === "", 1L)
              .otherwise(0L)).as("n_empty"),
            sum(when(passthru, 1L).otherwise(0L)).as("n_passthru"),
            max(when(passthru, col("sale_or_lease"))).as("max_passthru"),
            sum(when(col("price") === "Unknown", 1L).otherwise(0L))
              .as("n_price_unknown"),
            sum(when(coalesce(col("extra_brochure"), col("osm_tag"),
              col("zone")).isNotNull, 1L).otherwise(0L))
              .as("n_enriched"),
            sum(col("latitude").cast("long")).as("sum_lat"),
            min(col("url")).as("min_url"),
            max(col("url")).as("max_url"))
          .orderBy(col("tbl"), col("brokerage"), col("tag"))
      }(s)
    },
    Some("""WITH
      av_raw AS (
        SELECT c_custkey AS k, c_name AS slug,
          'addr-' || c_custkey AS address,
          CASE WHEN c_custkey % 3 = 0 THEN 'Edmonton'
            ELSE 'Calgary' END AS city,
          CASE WHEN c_custkey % 7 = 0 THEN NULL
            ELSE c_mktsegment END AS price,
          CASE WHEN c_custkey % 11 = 0 THEN NULL
            WHEN c_custkey % 4 = 0 THEN 'Retail for Sale'
            WHEN c_custkey % 4 = 1 THEN 'Office for Lease'
            WHEN c_custkey % 4 = 2 THEN 'Industrial for Sale or Lease'
            ELSE 'Bare Land' END AS property_type,
          CAST(c_custkey % 90 AS DOUBLE) AS latitude,
          CAST(c_custkey % 120 AS DOUBLE) AS longitude
        FROM customer),
      av AS (
        SELECT g, md5('av:' || slug) AS uuid, address,
          price, property_type, 'gen' || g AS tag,
          latitude, longitude, 'av' AS brokerage,
          'https://avisonyoung.example/listing/' || slug AS url
        FROM av_raw, (SELECT UNNEST([1, 2]) AS g)
        WHERE city = 'Edmonton'
          AND NOT (k % 5 = 0 AND g = 1)
          AND NOT (k % 9 = 0 AND g = 2)),
      om_raw AS (
        SELECT s_suppkey AS k, s_name AS link,
          'saddr-' || s_suppkey AS address,
          CASE WHEN s_suppkey % 2 = 0 THEN NULL
            ELSE 'CAD ' || s_suppkey END AS price,
          CASE s_suppkey % 3 WHEN 0 THEN 'office for lease'
            WHEN 1 THEN 'retail for sale'
            ELSE 'warehouse for rent' END AS listing_type,
          CAST(s_suppkey % 85 AS DOUBLE) AS latitude,
          CAST(s_suppkey % 115 AS DOUBLE) AS longitude
        FROM supplier),
      om AS (
        SELECT g, md5('omada:' || link) AS uuid, address,
          price,
          ARRAY_TO_STRING(LIST_TRANSFORM(
            STRING_SPLIT(listing_type, ' '),
            x -> CONCAT(UPPER(x[1]), LOWER(SUBSTR(x, 2)))), ' ')
            AS property_type,
          'gen' || g AS tag, latitude, longitude,
          'omada' AS brokerage, link AS url
        FROM om_raw, (SELECT UNNEST([1, 2]) AS g)
        WHERE NOT (k % 9 = 0 AND g = 2)),
      rp_raw AS (
        SELECT p_partkey AS k, 'rp-' || p_partkey AS permalink,
          'paddr-' || p_partkey AS address,
          CASE WHEN p_partkey % 6 = 0 THEN NULL
            ELSE p_brand END AS price,
          CASE WHEN p_partkey % 4 = 1 THEN p_type || ' sublease'
            WHEN p_partkey % 4 = 3 THEN p_type || ' lease'
            ELSE p_type END AS property_type,
          CAST(p_partkey % 95 AS DOUBLE) AS latitude,
          CAST(p_partkey % 125 AS DOUBLE) AS longitude
        FROM part),
      rp AS (
        SELECT g, md5('royal_park:' || permalink) AS uuid, address,
          price, property_type, 'gen' || g AS tag,
          latitude, longitude, 'royal_park' AS brokerage,
          permalink AS url
        FROM rp_raw, (SELECT UNNEST([1, 2]) AS g)
        WHERE NOT (k % 9 = 0 AND g = 2)),
      unioned AS (
        SELECT * FROM av UNION ALL SELECT * FROM om
        UNION ALL SELECT * FROM rp),
      enr_b AS (SELECT md5('av:' || c_name) AS uuid,
          'eb-' || c_custkey AS extra_brochure
        FROM customer WHERE c_custkey % 2 = 0),
      enr_o AS (SELECT md5('omada:' || s_name) AS uuid,
          'tag-' || s_suppkey AS osm_tag
        FROM supplier WHERE s_suppkey % 2 = 0),
      enr_z AS (SELECT md5('royal_park:rp-' || p_partkey) AS uuid,
          p_brand AS zone
        FROM part WHERE p_partkey % 2 = 0),
      combined AS (
        SELECT u.g, u.brokerage, u.tag, u.address,
          u.latitude, u.longitude,
          CASE
            WHEN u.property_type IS NULL THEN ''
            WHEN LOWER(u.property_type) LIKE '%sale%'
              AND LOWER(u.property_type) LIKE '%lease%'
              THEN 'sale_or_lease'
            WHEN LOWER(u.property_type) LIKE '%sale%' THEN 'sale'
            WHEN LOWER(u.property_type) LIKE '%sublease%' THEN 'sublease'
            WHEN LOWER(u.property_type) LIKE '%lease%' THEN 'lease'
            ELSE u.property_type END AS sale_or_lease,
          COALESCE(u.price, 'Unknown') AS price,
          b.extra_brochure, o.osm_tag, z.zone, u.url
        FROM unioned u
        LEFT JOIN enr_b b ON u.uuid = b.uuid
        LEFT JOIN enr_o o ON u.uuid = o.uuid
        LEFT JOIN enr_z z ON u.uuid = z.uuid),
      c1 AS (SELECT * FROM combined WHERE g = 1),
      c2 AS (SELECT * FROM combined WHERE g = 2),
      live AS (
        SELECT c1.* FROM c1 JOIN (SELECT DISTINCT latitude,
            longitude, address FROM c2) k
          USING (latitude, longitude, address)
        UNION ALL
        SELECT c2.* FROM c2
          ANTI JOIN c1 USING (latitude, longitude, address)),
      archived AS (
        SELECT c1.* FROM c1
          ANTI JOIN c2 USING (latitude, longitude, address)),
      rep AS (
        SELECT 'live' AS tbl, * FROM live
        UNION ALL SELECT 'archived', * FROM archived)
      SELECT tbl, brokerage, tag, COUNT(*) AS n,
        CAST(SUM(CASE WHEN sale_or_lease = 'sale' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_sale,
        CAST(SUM(CASE WHEN sale_or_lease = 'lease' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_lease,
        CAST(SUM(CASE WHEN sale_or_lease = 'sale_or_lease' THEN 1
          ELSE 0 END) AS BIGINT) AS n_sol,
        CAST(SUM(CASE WHEN sale_or_lease = 'sublease' THEN 1 ELSE 0
          END) AS BIGINT) AS n_sub,
        CAST(SUM(CASE WHEN sale_or_lease = '' THEN 1 ELSE 0
          END) AS BIGINT) AS n_empty,
        CAST(SUM(CASE WHEN sale_or_lease NOT IN ('sale', 'lease',
          'sale_or_lease', 'sublease', '') THEN 1 ELSE 0
          END) AS BIGINT) AS n_passthru,
        MAX(CASE WHEN sale_or_lease NOT IN ('sale', 'lease',
          'sale_or_lease', 'sublease', '') THEN sale_or_lease
          END) AS max_passthru,
        CAST(SUM(CASE WHEN price = 'Unknown' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_price_unknown,
        CAST(SUM(CASE WHEN COALESCE(extra_brochure, osm_tag, zone)
          IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_enriched,
        CAST(SUM(CAST(latitude AS BIGINT)) AS BIGINT) AS sum_lat,
        MIN(url) AS min_url, MAX(url) AS max_url
      FROM rep GROUP BY tbl, brokerage, tag
      ORDER BY tbl, brokerage, tag"""))

  /** Deterministic §3.2 liv.rent-shaped buildings feed: one row per
    * customer with a 1–3 element `units` array<struct> (the U3
    * explode input), generation-parameterized — generation 2 drops
    * every ninth building and re-prices every fourth building's units
    * +$50 (a changed rate is a NEW 6-column listing key: the
    * reference's re-list-at-new-rate semantics). Coordinates are
    * q26's synthesized Edmonton points, so the oracle reuses the
    * proven Krüger-series SQL mirror.
    */
  private def livBuildings(customer: DataFrame, g: Int): DataFrame = {
    val k = col("c_custkey")
    def unit(j: Int) = struct(
      lit(s"u$j").as("unit_no"),
      concat(lit("$1,"), lpad(((k * 7 + j * 13) % 900 +
        (if (g == 2) when(k % 4 === 0, 50).otherwise(0)
         else lit(0))).cast("string"), 3, "0")).as("rate"),
      (lit(1) + (k + j) % 3).cast("string").as("beds"),
      (lit(1) + j % 2).cast("string").as("baths"),
      (lit(500) + (k % 10) * 25).cast("string").as("size"),
      lit("2026-01-01").as("date"))
    val base = customer.select(
      k.as("k"),
      col("c_name").as("name"),
      concat(lit("addr-"), k).as("address"),
      (lit(53.2) + ((k * 53) % 700).cast("double") / 1000.0)
        .cast("string").as("lat"),
      (lit(-114.2) + ((k * 37) % 1200).cast("double") / 1000.0)
        .cast("string").as("lng"),
      slice(array(unit(1), unit(2), unit(3)), lit(1),
        (k % 3 + 1).cast("int")).as("units"))
    if (g == 2) base.filter(col("k") % 9 =!= 0) else base
  }

  /** q246 — the §3.2 RENTAL-RATES LIFECYCLE capstone: two full
    * generations through [[graft.pipelines.RentalRates]] — GraphQL-
    * shaped buildings→units explode (U3), 6-column-key
    * ON-CONFLICT-DO-NOTHING dedupe-upsert
    * (combine_and_format.py:85-131), then the aggregation leg
    * (aggregate_rental_rates.py:93-170): $,-strip numeric coercion,
    * dropna, the REAL Krüger-series WGS84→UTM projection, closed-form
    * 64×64×500 m grid cells with PER-AXIS containment, and the
    * per-(cell, bedrooms) avg/count/stddev report in ExactAgg fixed
    * point. The oracle replays everything — including the UTM series
    * (q26's mirror, trig drift ~1e-6 m) — and the grid floor is safe
    * because the fixture's minimum distance to any 500 m cell
    * boundary is 4.7 mm (audited over custkeys 0–15000, i.e. through
    * sf0.1; the q72 margin rule).
    */
  private val q246 = Q("q246_rentals_lifecycle",
    (s, dir) => {
      val customer = t(s, dir, "customer")
      Scratch.withDir("graft_q246_rent") { root =>
        val store = new graft.sources.TableStore(s, root)
        val pipe = new graft.pipelines.RentalRates(s, store)
        for (g <- Seq(1, 2))
          pipe.combineAndFormat(
            pipe.explodeUnits(livBuildings(customer, g).drop("k")))
        pipe.aggregate(origin = (300000.0, 5900000.0))
          .select(col("grid_id"), col("bedrooms"), col("avg_rate"),
            col("listing_count"), col("std_dev"))
          .orderBy(col("grid_id"), col("bedrooms"))
      }(s)
    },
    Some {
      val lon = GeoQueriesSqlMirror.lonSql("k")
      val lat = GeoQueriesSqlMirror.latSql("k")
      val chain = GeoQueriesSqlMirror.utmChain(
        Seq("rate_num", "bedrooms"))
      s"""WITH gens AS (SELECT UNNEST([1, 2]) AS g),
        units AS (
          SELECT c_custkey AS k, g, j, c_name AS building,
            'addr-' || c_custkey AS address,
            '$$1,' || LPAD(CAST((c_custkey * 7 + j * 13) % 900
              + CASE WHEN g = 2 AND c_custkey % 4 = 0 THEN 50
                ELSE 0 END AS VARCHAR), 3, '0') AS rental_rate,
            CAST(1 + (c_custkey + j) % 3 AS INT) AS bedrooms,
            CAST(1 + j % 2 AS VARCHAR) AS bathrooms,
            CAST(500 + (c_custkey % 10) * 25 AS VARCHAR) AS size
          FROM customer, gens,
            UNNEST(generate_series(1, 1 + c_custkey % 3)) AS u(j)
          WHERE NOT (g = 2 AND c_custkey % 9 = 0)),
        g1 AS (SELECT * FROM units WHERE g = 1),
        g2 AS (SELECT * FROM units WHERE g = 2),
        final AS (
          SELECT * FROM g1
          UNION ALL
          SELECT g2.* FROM g2 ANTI JOIN g1
            USING (building, address, rental_rate, bedrooms,
              bathrooms, size)),
        pts AS (SELECT
            TRY_CAST(REGEXP_REPLACE(rental_rate, '[$$,]', '', 'g')
              AS DOUBLE) AS rate_num,
            bedrooms, $lon AS lon, $lat AS lat
          FROM final),
        $chain,
        cells AS (SELECT rate_num, bedrooms,
            CAST(FLOOR((easting - 300000.0) / 500.0) AS BIGINT) AS cx,
            CAST(FLOOR((northing - 5900000.0) / 500.0) AS BIGINT) AS cy
          FROM utm WHERE rate_num IS NOT NULL)
      SELECT (cy * 64 + cx) AS grid_id, bedrooms,
        ${graft.functions.Sql.avgFx("rate_num")} AS avg_rate,
        COUNT(*) AS listing_count,
        ${graft.functions.Sql.stddevFx("rate_num")} AS std_dev
      FROM cells
      WHERE cx >= 0 AND cx < 64 AND cy >= 0 AND cy < 64
      GROUP BY grid_id, bedrooms
      ORDER BY grid_id, bedrooms"""
    })

  /** Deterministic §3.3 scraped-transcript feed: each document becomes
    * a council meeting whose `transcript` map holds up to 12
    * eight-token snippets keyed by a seconds offset (the S9 scraper's
    * output contract). Pure projection — the oracle rebuilds the same
    * snippet grid from the raw space-split tokens.
    */
  private def councilFeed(docs: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    val m = least(ceil(size(tk).cast("double") / 8.0).cast("long"),
      lit(12L))
    docs.select(
      concat(lit("v-"), col("doc_id")).as("video_url"),
      array_join(slice(tk, 1, 5), " ").as("title"),
      lit("2026-01-05").as("date"),
      map_from_entries(transform(sequence(lit(0L), m - 1),
        j => struct((j * 10L).as("ts"),
          array_join(slice(tk, (j * lit(8) + 1).cast("int"), lit(8)),
            " ").as("text")))).as("transcript"),
      col("doc_id"))
  }

  /** q247 — the §3.3 COUNCIL-TRANSCRIPTS LIFECYCLE capstone: the full
    * ingest → chunk+embed+index → reconcile → retrieve+summarize DAG
    * against one TableStore, with the reference's failure modes
    * choreographed in-gate: (1) ingest half the meetings and vectorize
    * them; (2) ingest the full feed — the DO-NOTHING url upsert must
    * skip the half already present; (3) CORRUPT a subset of the new
    * meetings' `vectorized` flags without vectors (the DB-vs-store
    * disagreement of transcripts_to_vector_db.py:317-381); (4)
    * [[graft.pipelines.Transcripts.reconcile]] must re-queue exactly
    * those; (5) a second vectorize must chunk each remaining meeting
    * ONCE (incremental L6 — double-chunking doubles n_chunks and
    * fails the hash); (6) summarize with k ≥ every meeting's chunk
    * count, so the report is invariant to the cosine retrieval ORDER
    * (hash embeddings aren't SQL-mirrorable; the [NONE] sentinel
    * decision — any normalized token longer than 3 chars in the
    * meeting's covered text — is order-free and mirrored exactly).
    * Report: per meeting, chunk/snippet accounting, both flags, and
    * whether a summary row landed.
    */
  private val q247 = Q("q247_transcripts_lifecycle",
    (s, dir) => {
      val feed = councilFeed(t(s, dir, "documents"))
      Scratch.withDir("graft_q247_tx") { root =>
      val store = new graft.sources.TableStore(s, root)
      val pipe = new graft.pipelines.Transcripts(s, store)
      pipe.ingest(feed.filter(col("doc_id") % 2 === 0).drop("doc_id"))
      pipe.vectorize(n = 5, overlap = 2)
      pipe.ingest(feed.drop("doc_id"))
      // inject the reference's crash inconsistency: flagged vectorized
      // with no vectors in the store
      store.updateFlag("council_transcripts",
        feed.filter(col("doc_id") % 2 === 1 && col("doc_id") % 7 === 1)
          .select(col("video_url")),
        Seq("video_url"), "vectorized", 1)
      pipe.reconcile()
      pipe.vectorize(n = 5, overlap = 2)
      pipe.summarize(k = 1000)
      val flags = store.read("council_transcripts")
        .select(col("video_url"),
          col("vectorized").cast("long").as("vectorized"),
          col("summarized").cast("long").as("summarized"))
      val chunks = store.read("transcript_vectors")
        .groupBy(col("video_url"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_items")).cast("long").as("sum_items"))
      val summaries = store.read("transcript_summaries")
        .groupBy(col("video_url"))
        .agg(count(lit(1)).as("n_summary"))
      flags.join(chunks, Seq("video_url"), "left")
        .join(summaries, Seq("video_url"), "left")
        .na.fill(0L, Seq("n_chunks", "sum_items", "n_summary"))
        .select(col("video_url"), col("n_chunks"), col("sum_items"),
          col("vectorized"), col("summarized"), col("n_summary"))
        .orderBy(col("video_url"))
      }(s)
    },
    Some(s"""WITH toks AS (SELECT doc_id,
          STRING_SPLIT(text, ' ') AS tk FROM documents),
      mm AS (SELECT doc_id, tk,
          LEAST(CAST(CEIL(LEN(tk) / 8.0) AS BIGINT), 12) AS m
        FROM toks),
      sn AS (SELECT doc_id,
          UNNEST(generate_series(1, CAST(m AS INT))) AS rn
        FROM mm),
      ex AS (SELECT doc_id, rn,
          UNNEST(range(GREATEST(0, CAST(CEIL((rn - 5) / 3.0)
            AS BIGINT)), CAST(FLOOR((rn - 1) / 3.0) AS BIGINT) + 1))
            AS chunk_id
        FROM sn),
      ch AS (SELECT doc_id, chunk_id, COUNT(*) AS n_items
        FROM ex GROUP BY doc_id, chunk_id),
      agg AS (SELECT doc_id, COUNT(*) AS n_chunks,
          CAST(SUM(n_items) AS BIGINT) AS sum_items
        FROM ch GROUP BY doc_id),
      ctx AS (SELECT doc_id,
          ${TextQueries.normSql(
            "ARRAY_TO_STRING(tk[1 : CAST(m * 8 AS INT)], ' ')")}
            AS nrm
        FROM mm),
      kept AS (SELECT doc_id,
          CASE WHEN LENGTH(nrm) = 0 THEN 0
            WHEN LEN(LIST_FILTER(STRING_SPLIT(nrm, ' '),
              x -> LENGTH(x) > 3)) > 0 THEN 1 ELSE 0 END AS n_summary
        FROM ctx)
      SELECT 'v-' || a.doc_id AS video_url, a.n_chunks, a.sum_items,
        CAST(1 AS BIGINT) AS vectorized,
        CAST(1 AS BIGINT) AS summarized,
        CAST(k.n_summary AS BIGINT) AS n_summary
      FROM agg a JOIN kept k USING (doc_id)
      ORDER BY video_url"""))

  /** q249 — CSV source round-trip with dead-letter quarantine
    * ([[graft.sources.Sources.csvTableQuarantined]], r13): customer
    * rows serialize to headerless CSV text (exact cents — no double
    * formatting), two deliberately malformed lines (a type mismatch
    * and an unterminated quote) ride along, and the one-scan
    * quarantined read must route exactly those two to the dead-letter
    * frame while the good half aggregates bit-identically to the
    * source table. The oracle never sees the temp file — it predicts
    * the semantic result from `customer` plus the two constants,
    * which is the point: a reader that silently nulls or drops
    * malformed lines changes n_good/n_quarantine and fails the hash.
    */
  private val q249 = Q("q249_csv_quarantine",
    (s, dir) => {
      import org.apache.spark.sql.types.StructType
      val customer = t(s, dir, "customer")
      val malformed = {
        import s.implicits._
        Seq("notanumber,Broken Row,0,1,AUTO",
          "7,\"unterminated quote,3,2,RAIL").toDF("value")
      }
      val lines = customer.select(concat_ws(",",
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("c_acctbal") * 100, 0).cast("long"),
        col("c_mktsegment")).as("value"))
        .unionByName(malformed)
      Scratch.withDir("graft_q249_csv") { root =>
        lines.write.mode("overwrite").text(root)
        val schema = StructType.fromDDL("custkey long, name string, " +
          "nationkey long, cents long, seg string")
        val (good, quarantine) =
          graft.sources.Sources.csvTableQuarantined(s, schema,
            s"$root/*.txt")
        good.agg(count(lit(1)).as("n_good"),
            sum(col("cents")).cast("long").as("sum_cents"),
            countDistinct(col("seg")).as("n_seg"))
          .crossJoin(broadcast(
            quarantine.agg(count(lit(1)).as("n_quarantine"))))
          .select(col("n_good"), col("n_quarantine"), col("sum_cents"),
            col("n_seg"))
      }(s)
    },
    Some("""SELECT COUNT(*) AS n_good,
        CAST(2 AS BIGINT) AS n_quarantine,
        CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
          AS sum_cents,
        COUNT(DISTINCT c_mktsegment) AS n_seg
      FROM customer"""))

  /** q252 — ORC sink/source round-trip with partition pruning
    * ([[graft.sources.Sources.orcTable]], r13): customer lands as an
    * ORC table partitioned by market segment, is read back through
    * the schema-declared scan with a two-segment filter (the
    * partition-pruning path — only those directories are listed), and
    * aggregates per segment in exact cents. The oracle predicts the
    * result from `customer` directly, so a roundtrip that drops rows,
    * mangles a type, or prunes the wrong partitions fails the hash.
    * Format coverage: parquet (everywhere), JSONL (q-S10 family), CSV
    * (q249), text, binary — and now ORC.
    */
  private val q252 = Q("q252_orc_roundtrip",
    (s, dir) => {
      import org.apache.spark.sql.types.StructType
      val customer = t(s, dir, "customer")
      Scratch.withDir("graft_q252_orc") { root =>
        customer.select(col("c_custkey"), col("c_name"),
            col("c_nationkey"),
            round(col("c_acctbal") * 100, 0).cast("long").as("cents"),
            col("c_mktsegment").as("seg"))
          .write.mode("overwrite").partitionBy("seg")
          .orc(s"$root/cust_orc")
        val schema = StructType.fromDDL("c_custkey long, c_name string," +
          " c_nationkey long, cents long, seg string")
        graft.sources.Sources.orcTable(s, schema, s"$root/cust_orc")
          .filter(col("seg").isin("BUILDING", "MACHINERY"))
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).cast("long").as("sum_cents"),
            min(col("c_custkey")).cast("long").as("min_key"),
            max(col("c_custkey")).cast("long").as("max_key"))
          .orderBy(col("seg"))
      }(s)
    },
    Some("""SELECT c_mktsegment AS seg, COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
          AS sum_cents,
        MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c_mktsegment ORDER BY seg"""))

  val all: Seq[Q] = Seq(q245, q246, q247, q249, q252)
}
