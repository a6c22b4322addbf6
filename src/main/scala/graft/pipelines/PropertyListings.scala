package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.TableStore

/** The property-listings DAG (SURVEY.md §3.1,
  * dags/DAG_get_property_listings.py) as ONE Spark job: three broker
  * normalizers (narrow), union, enrichment joins (broadcast), lenient
  * sink casts, keyed upsert, delisting archive. The Airflow barrier
  * disappears — Spark's scheduler handles the fan-in; the only
  * exchanges are the upsert/archive anti-joins.
  *
  * uuid is a deterministic content hash (brokerage+url) rather than
  * uuid4 — the injectable-id-generator decision of SURVEY.md §7.4(6).
  */
final class PropertyListings(spark: SparkSession, store: TableStore) {

  private def uuidOf(brokerage: String, url: org.apache.spark.sql.Column) =
    md5(concat(lit(brokerage), lit(":"), coalesce(url, lit(""))))

  /** get_AV_listings.py:92-114: rename chain (P1), nested extract (F5),
    * round-10 cast (F1), URL prefix (F2), schema projection (P2).
    * The city/status filter (P3) runs BEFORE enrichment — the
    * reference's early-filter optimization, free under Catalyst.
    */
  def normalizeAv(raw: DataFrame, city: String): DataFrame =
    raw.filter(col("city") === city && col("status") =!= "closed")
      .select(
        uuidOf("av", col("slug")).as("uuid"),
        col("name").as("title"),
        col("address"), col("city"), col("province"),
        col("price").as("price"),
        col("size"),
        col("propertyType").as("property_type"),
        lit(null).cast("string").as("sale_or_lease"),
        col("description"),
        round(col("location.lat").cast("double"), 10).as("latitude"),
        round(col("location.lng").cast("double"), 10).as("longitude"),
        lit(null).cast("string").as("date_listed"),
        lit("av").as("brokerage"),
        concat(lit("https://avisonyoung.example/listing/"), col("slug"))
          .as("url"),
        lit(null).cast("string").as("brokers"),
        col("brochures").as("brochure_urls"))

  /** get_omada_listings.py:84-135: html strip (F9), size-range concat
    * (F7 extract_size), title-case (F8).
    */
  def normalizeOmada(raw: DataFrame): DataFrame =
    raw.select(
      uuidOf("omada", col("link")).as("uuid"),
      TextFunctions.stripHtml(col("title.rendered")).as("title"),
      col("address"), col("city"), lit("AB").as("province"),
      col("price"),
      when(col("size_min").isNotNull && col("size_max").isNotNull,
        concat(col("size_min"), lit(" - "), col("size_max"), lit(" SF")))
        .when(col("size_min").isNotNull, concat(col("size_min"), lit(" SF")))
        .otherwise(lit(null)).as("size"),
      initcap(col("listing_type")).as("property_type"),
      lit(null).cast("string").as("sale_or_lease"),
      TextFunctions.stripHtml(col("content.rendered")).as("description"),
      round(col("lat").cast("double"), 10).as("latitude"),
      round(col("lng").cast("double"), 10).as("longitude"),
      lit(null).cast("string").as("date_listed"),
      lit("omada").as("brokerage"),
      col("link").as("url"),
      lit(null).cast("string").as("brokers"),
      lit(null).cast("array<string>").as("brochure_urls"))

  /** get_royal_park_listings.py:78-110: status capitalize w/ publish ->
    * Active (F8).
    */
  def normalizeRoyalPark(raw: DataFrame): DataFrame =
    raw.select(
      uuidOf("royal_park", col("permalink")).as("uuid"),
      col("post_title").as("title"),
      col("address"), col("city"), lit("AB").as("province"),
      col("price"),
      col("building_size").as("size"),
      col("type").as("property_type"),
      lit(null).cast("string").as("sale_or_lease"),
      col("post_content").as("description"),
      round(col("latitude").cast("double"), 10).as("latitude"),
      round(col("longitude").cast("double"), 10).as("longitude"),
      lit(null).cast("string").as("date_listed"),
      lit("royal_park").as("brokerage"),
      col("permalink").as("url"),
      lit(null).cast("string").as("brokers"),
      lit(null).cast("array<string>").as("brochure_urls"))

  /** combine_broker_listings.py:78-94 (F7): contains-based classifier,
    * branch-for-branch: sale+lease → "sale_or_lease"; sale → "sale";
    * sublease → "sublease" (checked BEFORE plain lease — but note
    * "sublease" contains "lease", so sale+sublease still lands in the
    * first branch, exactly as the reference's `in` checks do); lease →
    * "lease"; an unmatched value passes through UNCHANGED; a null
    * (the reference's `.lower()` AttributeError → bare except) → "".
    */
  def saleOrLease(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val t = lower(c)
    when(c.isNull, "")
      .when(t.contains("sale") && t.contains("lease"), "sale_or_lease")
      .when(t.contains("sale"), "sale")
      .when(t.contains("sublease"), "sublease")
      .when(t.contains("lease"), "lease")
      .otherwise(c)
  }

  /** combine_broker_listings.py:63-228 (§3.1 step 4): union (O2), F7,
    * 3-way enrichment left join (J1, broadcast), lenient casts (F11),
    * upsert on (latitude, longitude, address) (K2/J6).
    */
  def combine(brokers: Seq[DataFrame], brochure: DataFrame,
              osm: DataFrame, zoning: DataFrame): DataFrame = {
    val unioned = brokers.reduce(_.unionByName(_))
      .withColumn("sale_or_lease", saleOrLease(col("property_type")))
    unioned
      .join(broadcast(brochure), Seq("uuid"), "left")
      .join(broadcast(osm), Seq("uuid"), "left")
      .join(broadcast(zoning), Seq("uuid"), "left")
      .withColumn("latitude",
        TextFunctions.safeCast(col("latitude"), "double", lit(0.0)))
      .withColumn("longitude",
        TextFunctions.safeCast(col("longitude"), "double", lit(0.0)))
      .withColumn("price", coalesce(col("price"), lit("Unknown")))
  }

  /** Full run: normalize + combine + upsert + archive delisted
    * (archive_delisted_properties.py:93-147, J5/K8).
    */
  def run(av: DataFrame, omada: DataFrame, royalPark: DataFrame,
          brochure: DataFrame, osm: DataFrame, zoning: DataFrame,
          city: String = "Edmonton"): Unit = {
    val current = combine(
      Seq(normalizeAv(av, city), normalizeOmada(omada),
        normalizeRoyalPark(royalPark)),
      brochure, osm, zoning)
    val keys = Seq("latitude", "longitude", "address")
    store.upsert("property_listings", current, keys, Seq("uuid"))
    // delisting: rows in the table whose key no longer appears in feed
    val existing = store.read("property_listings")
    // RDD snapshot ([[graft.sources.TableStore.snapshot]]): evaluated
    // 3× below and must survive the table rewrite in deleteByKeys. The
    // archive append runs first, filling the cache while the
    // pre-rewrite files are still live; nothing escapes this method, so
    // the persist is scoped — and recomputable on executor loss, unlike
    // the localCheckpoint it replaced.
    val delisted = TableStore.snapshot(
      graft.operators.Upsert.delisted(existing, current, keys))
    try {
      if (!delisted.isEmpty) {
        store.append("archived_listings", delisted)
        store.deleteByKeys("property_listings", delisted, keys)
      }
    } finally delisted.unpersist(blocking = false)
  }
}
