package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** REPRODUCIBLE RELEASE MANIFESTS — the provenance capstone over the
  * store's generation pins: a training-data release is not a copy of
  * the corpus, it is the SET of (table → generation) pins that
  * produced it — corpus snapshot, dedup band index, LM counts,
  * tokenizer artifact, ANN/BM25 indexes — recorded as one row per pin
  * in ONE commit. Months later, `readPinned` re-serves the exact
  * bytes every pinned table held at release time (within the store's
  * generation retention), so "which tokenizer segmented release 14?"
  * is a table lookup, not archaeology. The reference pipeline
  * re-materializes tables per DAG run with no provenance at all
  * (SURVEY §3); this is the missing audit trail, built on
  * [[graft.sources.TableStore.readAt]] time travel.
  *
  * Consistency stance: [[record]] pins each table's CURRENT head at
  * its own read — under concurrent writers the pins are per-table
  * heads, not one cross-table transaction (the store has no
  * multi-table commit). Quiesce writers around a release cut, or
  * pass explicit pins captured by the pipeline that produced the
  * tables (every index build here RETURNS its committed generation
  * for exactly this reason).
  */
object Release {

  /** Record `name` pinning each table's current generation (or the
    * caller's explicit pins). One append commit; the release table is
    * append-only history. Fails loudly on a duplicate name — releases
    * are immutable.
    */
  def record(store: TableStore, releaseTable: String, name: String,
             tables: Seq[String],
             explicitPins: Map[String, Long] = Map.empty,
             meta: Map[String, String] = Map.empty): Unit = {
    require(name.nonEmpty && tables.nonEmpty,
      "record: release name and at least one table required")
    require(!store.exists(releaseTable) ||
      store.read(releaseTable).filter(col("release") === name)
        .isEmpty,
      s"release '$name' already recorded — releases are immutable")
    val pins = tables.map { t =>
      t -> explicitPins.getOrElse(t, store.generations(t).last)
    }
    val spark = store.read(tables.head).sparkSession
    import spark.implicits._
    val metaJson = CorpusIndex.jsonOf(meta)
    val rows = pins.toDF("table", "generation")
      .select(lit(name).as("release"), col("table"), col("generation"),
        lit(metaJson).as("meta"))
    store.append(releaseTable, rows)
  }

  /** The (table → generation) pins of a recorded release. Exactly ONE
    * generation per (release, table) is demanded: [[record]]'s
    * duplicate-name guard is check-then-act (the store has no
    * multi-table transaction to close that window), so two concurrent
    * records of the same name can both land — a silent
    * keep-one-arbitrary-pin here would reproduce a release that never
    * existed as a unit. Conflicting rows fail loudly instead.
    */
  def pins(store: TableStore, releaseTable: String, name: String)
      : Map[String, Long] = {
    val rows = store.read(releaseTable)
      .filter(col("release") === name)
      .select(col("table"), col("generation"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    require(rows.nonEmpty, s"release '$name' not found in $releaseTable")
    val conflicts = rows.groupBy(_._1)
      .filter(_._2.map(_._2).distinct.size > 1).keys.toSeq.sorted
    require(conflicts.isEmpty,
      s"release '$name' holds CONFLICTING pins for " +
        s"${conflicts.mkString(", ")} — concurrent record() calls " +
        "collided; re-record under a fresh name")
    rows.toMap
  }

  /** A pinned table exactly as the release saw it
    * ([[graft.sources.TableStore.readAt]] time travel; requires the
    * generation to still be within the store's retention).
    */
  def readPinned(store: TableStore, releaseTable: String, name: String,
                 table: String): DataFrame = {
    val p = pins(store, releaseTable, name)
    require(p.contains(table),
      s"release '$name' does not pin table '$table' " +
        s"(pinned: ${p.keys.toSeq.sorted.mkString(", ")})")
    store.readAt(table, p(table))
  }

  /** Every pinned generation still readable? Returns the tables whose
    * pins have aged out of retention (empty = fully reproducible).
    * Run before relying on an old release — a non-empty result means
    * the release's inputs were garbage-collected and only its OUTPUT
    * tables (if themselves pinned and retained) remain.
    */
  def unreproducible(store: TableStore, releaseTable: String,
                     name: String): Seq[String] =
    pins(store, releaseTable, name).toSeq.sortBy(_._1).collect {
      case (t, g) if !store.generations(t).contains(g) => t
    }
}
