package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, ZoningFunctions}
import graft.sources.TableStore

/** The three thin civic-data DAGs (SURVEY.md §7.1.5) as single-stage
  * Spark pipelines over the pieces the engine already has: safe casts
  * (F11), date parts (F12), the geocode seam (U5), the bylaw parsers
  * (F13/F14), disjunctive predicates (P6) and keyed upsert (K2/K4).
  * Each is a narrow projection + one upsert anti-join — no other
  * exchange, so all three hold their shape at any input size.
  */

/** Building permits (get_edm_building_permits.py:123-228): Socrata feed
  * → safe-cast defaults → geocode fallback for (0,0) coordinates →
  * drop still-unlocatable rows → ON CONFLICT DO NOTHING upsert on
  * (latitude, longitude, issue_date). The reference's 500-row chunked
  * insert (K4) is a partition-sized write here by design.
  */
final class BuildingPermits(spark: SparkSession, store: TableStore) {

  import TextFunctions.safeCast

  /** Server-side date filter (S7 `$$where issue_date >= cutoff`) + the
    * reference's per-field safe_cast defaults + day extraction.
    */
  def normalize(raw: DataFrame, cutoffDate: String): DataFrame = {
    def s(c: String) = safeCast(col(c), "string", lit("Unknown"))
    def d(c: String) = safeCast(col(c), "double", lit(0.0))
    def i(c: String) = safeCast(col(c), "int", lit(0))
    raw.filter(col("issue_date") >= lit(cutoffDate))
      .select(
        s("uuid").as("uuid"),
        d("latitude").as("latitude"),
        d("longitude").as("longitude"),
        d("floor_area").as("floor_area"),
        s("address").as("address"),
        d("construction_value").as("construction_value"),
        i("units_added").as("num_units"),
        s("work_type").as("work_type"),
        s("building_type").as("building_type"),
        s("job_description").as("description"),
        s("job_category").as("permit_type"),
        i("month_number").as("permit_month"),
        i("year").as("permit_year"),
        // extract_day_from_issue_date: day-of-month or 0 on unparsable
        coalesce(dayofmonth(to_date(substring(col("issue_date"), 1, 10))),
          lit(0)).as("permit_day"),
        s("issue_date").as("issue_date"),
        s("neighbourhood").as("neighbourhood"),
        s("zoning").as("zoning"))
  }

  /** Geocode fallback (ref :160-183): rows with (0,0) coordinates and a
    * usable address get the geocoder seam's point; rows still at (0,0)
    * are skipped entirely, as in the reference.
    */
  def withCoordinates(permits: DataFrame): DataFrame = {
    val needsGeo = (col("latitude") === 0.0 || col("longitude") === 0.0) &&
      col("address") =!= "Unknown"
    val g = Enrichment.geocode(col("address"))
    permits
      .withColumn("latitude",
        when(needsGeo, g.getField("lat")).otherwise(col("latitude")))
      .withColumn("longitude",
        when(needsGeo, g.getField("lon")).otherwise(col("longitude")))
      .filter(col("latitude") =!= 0.0 && col("longitude") =!= 0.0)
  }

  def run(raw: DataFrame, cutoffDate: String): Unit =
    store.upsert("building_permits", withCoordinates(normalize(raw, cutoffDate)),
      keys = Seq("latitude", "longitude", "issue_date"),
      tieBreak = Seq("uuid"))

  /** The reference's rolling window: cutoff = clock minus 4 months
    * (ref :130-132), with the clock injected (F3) instead of read from
    * the wall.
    */
  def run(raw: DataFrame, clock: graft.functions.Clock): Unit =
    run(raw, clock.monthsAgo(4))
}

/** Rezoning applications (get_edm_rezoning_data.py:52-116): the SODA
  * disjunctive status/date predicate, the categorical application-type
  * filter, defaulted projection, ON CONFLICT DO NOTHING upsert on
  * (latitude, longitude, created_date).
  */
final class Rezoning(spark: SparkSession, store: TableStore) {

  /** P6: status IN ('In Review') OR (status IN ('Approved','Refused')
    * AND council_approval_date BETWEEN start AND end); P5: only
    * application_type = 'Rezoning' survives (ref :85-87).
    */
  def normalize(raw: DataFrame, startDate: String, endDate: String): DataFrame = {
    def s(c: String) = coalesce(col(c).cast("string"), lit(""))
    raw
      .filter(col("status") === "In Review" ||
        (col("status").isin("Approved", "Refused") &&
          col("council_approval_date").between(startDate, endDate)))
      .filter(col("application_type") === "Rezoning")
      .select(
        s("uuid").as("uuid"),
        s("file_number").as("file_number"),
        s("created_date").as("created_date"),
        s("application_type").as("application_type"),
        s("address").as("address"),
        s("city").as("city"),
        s("province").as("province"),
        TextFunctions.safeCast(col("latitude"), "double", lit(0.0))
          .as("latitude"),
        TextFunctions.safeCast(col("longitude"), "double", lit(0.0))
          .as("longitude"),
        s("zone_change").as("zone_change"),
        s("status").as("status"),
        s("council_public_hearing_date").as("council_public_hearing_date"),
        s("council_approval_date").as("council_approval_date"),
        s("planner_contact").as("planner_contact"))
  }

  def run(raw: DataFrame, startDate: String, endDate: String): Unit =
    store.upsert("rezoned_properties", normalize(raw, startDate, endDate),
      keys = Seq("latitude", "longitude", "created_date"),
      tieBreak = Seq("uuid"))

  /** end_date = "now" with the clock injected (F3, ref :52-66). */
  def run(raw: DataFrame, startDate: String,
          clock: graft.functions.Clock): Unit =
    run(raw, startDate, clock.todayStr)
}

/** Zoning bylaws (get_edm_zoning_bylaw_data.py): scraped zone pages →
  * F14 title split + F13 storeys cascade; map-modifier rows key the
  * zone as "CODE MODIFIER" like the reference's merged dict keys
  * (ref :240-250). The daily DAG fully refreshes → table rewrite (K6).
  */
final class ZoningBylaws(spark: SparkSession, store: TableStore) {

  def parse(pages: DataFrame): DataFrame = ZoningBylaws.parse(pages)

  def run(pages: DataFrame): Unit =
    store.rewrite("zoning_bylaws", parse(pages))
}

object ZoningBylaws {

  /** The site-and-building variables the reference tracks
    * (get_edm_zoning_bylaw_data.py:184): a regulation or modifier
    * column is kept iff its text CONTAINS one of these.
    */
  val RegulationVars: Seq[String] =
    Seq("Maximum Height", "Floor Area Ratio", "Density", "Site Coverage")

  /** One row per (zone page, map modifier). Expected input columns:
    * `zone_title`, `height_text`, `modifier`, and optionally
    *  - `permitted_uses: array<string>` — flattened use names (the
    *    category/limited-to nesting is scraper-side HTML shape,
    *    ref :119-172);
    *  - `regulation_rows: array<struct<name,value>>` — the
    *    Regulation/Value table rows (ref :227-236);
    *  - `modifier_vars: map<string,string>` — this modifier row's
    *    variable columns (ref :198-216).
    * Missing optional columns behave as absent data, so pre-existing
    * page feeds parse unchanged.
    *
    * `regulations` reproduces the reference's dict semantics exactly
    * (ref :226-250, :314-316): containment filter on [[RegulationVars]]
    * for BOTH sources; duplicate regulation names resolve last-wins
    * (dict assignment); `merged = {**mod_copy, **regulation_dict}` —
    * regulation values override modifier values; `Number of Storeys`
    * (the purpose-text cascade result) is injected last and overrides
    * everything.
    */
  def parse(pages: DataFrame): DataFrame = {
    val emptyRegRows = lit(null)
      .cast("array<struct<name:string,value:string>>")
    val withOptional = Seq(
      "permitted_uses" -> lit(null).cast("array<string>"),
      "regulation_rows" -> emptyRegRows,
      "modifier_vars" -> lit(null).cast("map<string,string>"))
      .foldLeft(pages) { case (df, (c, default)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, default)
      }

    val varsLit = array(RegulationVars.map(lit): _*)
    def tracked(k: Column): Column = exists(varsLit, v => k.contains(v))

    val parts = ZoningFunctions.zoneTitleParts(col("zone_title"))
    val storeys = ZoningFunctions.storeysSummary(col("height_text"))

    // One pass, every subtree referenced ONCE (interpreted HOF lambdas
    // re-evaluate any outer expression they capture per element, so
    // nested/duplicated trees are the cost driver here). Entries are
    // concatenated in precedence order — storeys injection, regulation
    // rows reversed (a repeated regulation name is a dict re-assignment,
    // ref :236 — last wins), then modifier vars (`merged = {**mod_copy,
    // **regulation_dict}` — regulations win, ref :245) — and a
    // first-occurrence-wins fold builds the dict.
    val emptyMap = map().cast("map<string,string>")
    val emptyEntries = array().cast("array<struct<name:string,value:string>>")
    val storeyEntry = when(storeys.isNotNull,
      array(struct(lit("Number of Storeys").as("name"),
        storeys.as("value")))).otherwise(emptyEntries)
    val regRev = coalesce(reverse(filter(col("regulation_rows"),
      r => r.getField("name").isNotNull && tracked(r.getField("name")))),
      emptyEntries)
    val modEntries = transform(
      map_entries(map_filter(coalesce(col("modifier_vars"), emptyMap),
        (k, _) => tracked(k))),
      e => struct(e.getField("key").as("name"),
        e.getField("value").as("value")))
    val regulations = aggregate(
      concat(storeyEntry, regRev, modEntries), emptyMap,
      (acc, e) => when(
        array_contains(map_keys(acc), e.getField("name")), acc)
        .otherwise(map_concat(acc,
          map(e.getField("name"), e.getField("value")))))

    withOptional
      .withColumn("section", parts.getField("section"))
      .withColumn("zone_code", parts.getField("zone_code"))
      .withColumn("zone_name", parts.getField("zone_name"))
      .withColumn("storeys", storeys)
      .withColumn("zone_key",
        when(col("modifier").isNotNull && col("modifier") =!= "",
          concat_ws(" ", col("zone_code"), col("modifier")))
          .otherwise(col("zone_code")))
      .withColumn("regulations", regulations)
      .drop("zone_title", "height_text", "regulation_rows", "modifier_vars")
  }
}
