package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.TableStore

/** The corpus-index protocol every persisted corpus index follows
  * ([[DedupIndex]], [[WinnowIndex]], [[LexIndex]], [[LmIndex]],
  * [[TokenizerIndex]], and [[AnnIndex.refreshCodes]]'s churn). An
  * index is ONE [[graft.sources.TableStore]] table of family rows plus
  * exactly one `component = 'stats'` row. The stats row pins the
  * family's parameters (`meta`, as `jsonOf`) and the corpus
  * generation the index reflects (`corpus_gen`, the anchor), so a serve
  * can never hash into a different parameter space and a refresh knows
  * where to resume. Each family supplies only how its rows and deltas
  * are computed, its meta keys, its `Layout` and its serve paths.
  *
  * Build: `build` reads the corpus at its head generation with
  * `readAt` (the data consumed is exactly the data the anchor names),
  * writes the family rows plus the stats row range-clustered, and
  * returns the generation of the closing `analyze` commit, so a pin
  * covers the file stats too.
  *
  * Refresh, two forms, both resuming from the anchor through
  * [[graft.sources.TableStore.changesBetween]] (`catchUp`); on a
  * current index both commit nothing, unless a crashed refresh left
  * index files without stats, which the re-run analyzes:
  *  - doc-keyed (`refreshDocs`): the churn step (`churn`) deletes
  *    every churned id and appends the rows of the inserted docs, so a
  *    replay removes the first attempt's rows before re-appending
  *    identical ones; the anchor advances in the LAST commit. A crash
  *    anywhere heals by calling refresh again.
  *  - count-delta (`refreshCounts`): signed count deltas re-total
  *    against the stored counts, and the rows, the stats row and the
  *    anchor land in ONE merge commit. Deltas are not idempotent, so
  *    they must ride the anchor's own commit: a crash leaves the old
  *    model, and a replay no-ops on the advanced anchor.
  */
object CorpusIndex {

  /** A family's table: its columns in table order (a DDL string), the
    * key its rows are deleted or merged by, the columns a build
    * range-clusters on (then sorts by, with the key), and the columns
    * it analyzes and blooms.
    */
  private[operators] final case class Layout(ddl: String, key: String,
      cluster: Seq[String], stats: Seq[String], bloom: Seq[String] = Nil) {
    val schema: StructType = StructType.fromDDL(ddl)
    def sort: Seq[String] = (cluster :+ key).distinct
  }

  /** `df` as rows of `layout`: its columns in table order and type, a
    * column `df` lacks NULL.
    */
  private[operators] def conform(df: DataFrame, layout: Layout): DataFrame =
    df.select(layout.schema.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)

  /** A one-row frame carrying `m` as the stats row's `meta`. */
  private[operators] def metaRow(df: DataFrame,
                                 m: Map[String, String]): DataFrame =
    df.sparkSession.range(1).select(lit(jsonOf(m)).as("meta"))

  /** The stats row: `stats` (one row of meta or family stats columns)
    * with `component` (and `mkey`, where the layout has one) = 'stats'
    * and the anchor; NULL anchor for an index built from a plain frame.
    */
  private def statsRow(stats: DataFrame, layout: Layout,
                       gen: Option[Long]): DataFrame =
    conform(stats.select(col("*"), lit("stats").as("component"),
      lit("stats").as("mkey"), gen.fold(lit(null))(lit(_)).as("corpus_gen")),
      layout)

  /** The one element of a stats-row read, or a loud failure. */
  private[operators] def theStatsRow[T](rows: Seq[T], where: String): T = {
    require(rows.length == 1,
      s"index $where must hold exactly ONE stats row, found ${rows.length}")
    rows.head
  }

  /** The pin: (meta, corpus_gen) of the index's stats row at the live
    * head, or at generation `at`. Fails loudly unless there is exactly
    * one stats row and it carries an anchor.
    */
  private[operators] def pin(store: TableStore, table: String,
                             at: Option[Long] = None)
      : (Map[String, String], Long) = {
    val stats = at.fold(store.readWhere(table, col("component") === "stats"))(
      g => store.readAt(table, g).filter(col("component") === "stats"))
    val where = at.fold(table)(g => s"$table@$g")
    val row = theStatsRow(stats.select(
      if (stats.columns.contains("meta")) col("meta") else lit("{}"),
      col("corpus_gen")).collect().toSeq, where)
    require(!row.isNullAt(1),
      s"index $where has no corpus generation anchor - it was built " +
        "from a plain DataFrame; build with buildFromCorpus to enable " +
        "refreshFromCorpus")
    (parseJson(row.getString(0)), row.getLong(1))
  }

  /** Build the index over the corpus table's head generation: `rowsOf`
    * maps the corpus (or its `shared` frame) to the family rows and a
    * one-row frame of stats columns (`metaRow` or family counts).
    */
  private[operators] def build(store: TableStore, corpusTable: String,
      table: String, layout: Layout, files: Option[Int] = None,
      shared: Option[DataFrame => DataFrame] = None)(
      rowsOf: DataFrame => (DataFrame, DataFrame)): Long = {
    val gen = store.generations(corpusTable).last
    buildFrom(store, store.readAt(corpusTable, gen), Some(gen), table,
      layout, files, shared)(rowsOf)
  }

  /** `build` over any frame, anchored at `gen` (None: a plain-frame
    * build, which cannot refresh from a corpus).
    */
  private[operators] def buildFrom(store: TableStore, corpus: DataFrame,
      gen: Option[Long], table: String, layout: Layout,
      files: Option[Int], shared: Option[DataFrame => DataFrame])(
      rowsOf: DataFrame => (DataFrame, DataFrame)): Long =
    withShared(corpus, shared) { in =>
      val (rows, stats) = rowsOf(in)
      write(store, table, layout, files,
        conform(rows, layout).unionByName(statsRow(stats, layout, gen)))
    }

  /** Range-cluster `rows` on the layout (`files` fixes the file count;
    * None lets AQE pick), sort within files, rewrite, analyze. Rewrite
    * even first-time: the index owns this layout, and a first-time
    * append would compact it. Returns the analyze commit's generation:
    * a post-commit `generations().last` could observe a concurrent
    * writer's later generation.
    */
  private[operators] def write(store: TableStore, table: String,
                               layout: Layout, files: Option[Int],
                               rows: DataFrame): Long = {
    val cluster = layout.cluster.map(col)
    val ranged = files.fold(rows.repartitionByRange(cluster: _*))(
      n => rows.repartitionByRange(n, cluster: _*))
    store.rewrite(table, ranged.sortWithinPartitions(layout.sort.map(col): _*))
    store.analyze(table, layout.stats, layout.bloom)
  }

  /** The change feed since the index's anchor: when the corpus head
    * moved past it, `apply` gets the changes, the pinned meta and the
    * new head. A current index only re-runs `analyzeIncremental`: a
    * crash in a refresh's closing analyze leaves the churned files
    * without stats after the anchor advanced, and that commit is a
    * no-op when every file has them. Returns the corpus generation the
    * index now reflects.
    */
  private[operators] def catchUp(store: TableStore, corpusTable: String,
      table: String, layout: Layout)(
      apply: (DataFrame, Map[String, String], Long) => Unit): Long = {
    val (meta, from) = pin(store, table)
    val to = store.generations(corpusTable).last
    if (to != from)
      apply(store.changesBetween(corpusTable, from, to), meta, to)
    else store.analyzeIncremental(table, layout.stats, layout.bloom)
    to
  }

  /** The churn step: delete BOTH churned id sets (deletes and inserts —
    * an update's pair shares one id, and deleting insert ids first
    * makes a replay after a crash remove the first attempt's rows),
    * then append the rows `rowsOf` builds from the inserted docs. The
    * stats row's key is NULL, so it survives every delete.
    */
  private[operators] def churn(store: TableStore, table: String,
      changes: DataFrame, id: Column, key: String,
      shared: Option[DataFrame => DataFrame] = None)(
      rowsOf: DataFrame => DataFrame): Unit = {
    store.deleteByKeys(table,
      changes.filter(col("__change_type").isin("delete", "insert"))
        .select(id.as(key)).distinct(), Seq(key))
    withShared(changes.filter(col("__change_type") === "insert"), shared)(
      in => store.append(table, rowsOf(in)))
  }

  /** The doc-keyed refresh: `churn` on the `doc_id` key, then ONE
    * stats-row `updateWhere` carrying `restats` (recomputed after the
    * churn) and the new `anchor` — never a delete+append pair, whose
    * crash window would leave no stats row — then `analyzeIncremental`
    * so serve-path pruning covers the churned files. With no anchor
    * (hand-fed changes) the existing one is kept: a lagging anchor only
    * replays an idempotent span, a destroyed one breaks refresh.
    */
  private[operators] def refreshDocs(store: TableStore, table: String,
      layout: Layout, changes: DataFrame, idCol: String,
      anchor: Option[Long], shared: Option[DataFrame => DataFrame] = None,
      restats: () => Seq[(String, Column)] = () => Nil)(
      rowsOf: DataFrame => DataFrame): Unit = {
    churn(store, table, changes, col(idCol).cast("long"), layout.key,
      shared)(in => conform(rowsOf(in), layout))
    store.updateWhere(table, col("component") === "stats",
      restats() ++ anchor.map(g => "corpus_gen" -> lit(g)))
    store.analyzeIncremental(table, layout.stats, layout.bloom)
  }

  /** The count-delta refresh: `deltaOf` maps the signed churn (`__s` =
    * +1 inserted, −1 deleted) and the pinned meta to
    * (component, `gram`, `__d`) deltas, which re-total against the
    * stored `count`s of the affected grams only. A negative total means
    * the feed and the index disagree: the merge fails loudly. `metaOf`
    * derives the new meta from (component, `gram`, `__old`, `__new`).
    * Rows, stats row and anchor land in ONE merge commit. Grams reaching
    * zero stay as count-0 rows (one merge cannot both update and
    * delete); serves filter them.
    */
  private[operators] def refreshCounts(store: TableStore,
      corpusTable: String, table: String, layout: Layout, gram: String,
      count: String)(
      deltaOf: (DataFrame, Map[String, String]) => DataFrame,
      metaOf: (Map[String, String], DataFrame) => Map[String, String])
      : Long =
    catchUp(store, corpusTable, table, layout) { (changes, meta, to) =>
      val signed = changes
        .filter(col("__change_type").isin("insert", "delete"))
        .withColumn("__s", when(col("__change_type") === "insert", lit(1L))
          .otherwise(lit(-1L)))
      val old = store.read(table).filter(col("component") =!= "stats")
        .select(col("component"), col(gram), col(count).as("__old"))
      // delta-LEFT-join: the model read prunes to the churn's key range
      val joined = deltaOf(signed, meta)
        .join(old, Seq("component", gram), "left")
        .select(col("component"), col(gram),
          coalesce(col("__old"), lit(0L)).as("__old"),
          (coalesce(col("__old"), lit(0L)) + col("__d")).as("__new"))
        .persist()
      try {
        val checked = joined
          .withColumn(count, when(col("__new") < 0L, raise_error(concat(
            lit(s"refreshFromCorpus($table): negative $count for '"),
            col(gram), lit("' - index/feed mismatch"))))
            .otherwise(col("__new")))
          .withColumn(layout.key,
            concat(col("component"), lit(":"), col(gram)))
        store.merge(table,
          conform(checked, layout).unionByName(
            statsRow(metaRow(changes, metaOf(meta, joined)), layout,
              Some(to))),
          layout.key, TableStore.MergeUpdate(
            layout.schema.names.toSeq.filterNot(_ == layout.key)))
        store.analyzeIncremental(table, layout.stats, layout.bloom)
      } finally { joined.unpersist(); () }
    }

  /** Run `f` on `shared(in)` persisted — a frame several components of
    * one build or churn read (LexIndex's token frame) — or on `in`.
    */
  private def withShared[T](in: DataFrame,
                            shared: Option[DataFrame => DataFrame])(
                            f: DataFrame => T): T =
    shared.fold(f(in)) { s =>
      val p = s(in).persist()
      try f(p) finally p.unpersist(blocking = false)
    }

  /** Minimal flat string-map JSON (sorted keys) — the stats and meta
    * rows' payload. Keys/values here are alphanumeric params; escaping
    * covers the JSON metachars for safety.
    */
  private[operators] def jsonOf(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${esc(k)}":"${esc(v)}""""
    }.mkString("{", ",", "}")

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private[operators] def parseJson(s: String): Map[String, String] = {
    // flat {"k":"v",...} reader for `jsonOf`'s own output
    val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    pair.findAllMatchIn(s).map { mm =>
      unesc(mm.group(1)) -> unesc(mm.group(2))
    }.toMap
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16)
              .toChar)
            i += 6
          case e => sb.append(e); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
