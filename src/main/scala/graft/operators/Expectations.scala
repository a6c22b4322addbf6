package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative write expectations — data-quality constraints enforced
  * at ingestion (the Delta-Live-Tables / Great-Expectations pattern):
  * [[annotate]] tags every batch row with the names of the rules it
  * violates, so a row is admissible exactly when it satisfies ALL
  * declared rules; the accounting frames are the audit record.
  *
  * Null semantics are pinned: a rule whose predicate evaluates to
  * NULL is VIOLATED (`coalesce(cond, false)`) — expectations assert
  * positive knowledge, and SQL's three-valued logic would otherwise
  * wave nulls through every `<`/`IN` check.
  */
object Expectations {

  /** One named constraint; `cond` must hold for a row to be admitted. */
  final case class Rule(name: String, cond: Column)

  private def validated(rules: Seq[Rule]): Seq[Rule] = {
    require(rules.nonEmpty, "at least one expectation rule")
    require(rules.map(_.name).distinct.size == rules.size,
      s"rule names must be distinct, got ${rules.map(_.name)}")
    rules
  }

  /** Adds `__violations`: the array of violated rule names in
    * declaration order (empty array = admissible). A narrow
    * projection — no shuffle, rides the scan.
    */
  def annotate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val rs = validated(rules)
    df.withColumn("__violations",
      filter(array(rs.map(r =>
        when(!coalesce(r.cond, lit(false)), lit(r.name))): _*),
        x => x.isNotNull))
  }

  /** The audit frame: one row per rule (rule, n_rows = its violation
    * count — rows violating several rules count under each), plus
    * `__admitted` and `__total` summary rows. ONE map-side-combined
    * aggregate over the scan; output is |rules|+2 rows.
    */
  def accounting(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val rs = validated(rules)
    val base = df.select(rs.map(r =>
      (!coalesce(r.cond, lit(false))).cast("long")
        .as(s"__v_${r.name}")): _*)
    val aggs =
      rs.map(r => sum(col(s"__v_${r.name}")).as(s"__n_${r.name}")) ++
        Seq(sum(when(rs.map(r => col(s"__v_${r.name}"))
          .reduce(_ + _) === 0L, 1L).otherwise(0L)).as("__adm"),
          count(lit(1)).as("__tot"))
    val one = base.agg(aggs.head, aggs.tail: _*)
    // reshape the one-row wide frame into (rule, n_rows) report rows
    one.select(explode(array(
      rs.map(r => struct(lit(r.name).as("rule"),
        coalesce(col(s"__n_${r.name}"), lit(0L)).cast("long")
          .as("n_rows"))) ++ Seq(
        struct(lit("__admitted").as("rule"),
          coalesce(col("__adm"), lit(0L)).cast("long").as("n_rows")),
        struct(lit("__total").as("rule"),
          col("__tot").cast("long").as("n_rows"))): _*)).as("__e"))
      .select(col("__e.rule").as("rule"),
        col("__e.n_rows").as("n_rows"))
  }

  /** [[accounting]] per group — the data-quality TREND view (violation
    * counts per day/source/shard, the monitor that catches an
    * upstream feed going bad at 3am): one row per group with
    * (group, n_rows, one violation-count column PER RULE in
    * declaration order, admitted). ONE group-keyed map-side
    * aggregate.
    */
  def accountingBy(df: DataFrame, groupCol: String,
                   rules: Seq[Rule]): DataFrame = {
    val rs = validated(rules)
    val viol = rs.map(r =>
      (!coalesce(r.cond, lit(false))).cast("long"))
    val aggs =
      Seq(count(lit(1)).cast("long").as("n_rows")) ++
        rs.zip(viol).map { case (r, v) =>
          sum(v).cast("long").as(r.name) } ++
        Seq(sum(when(viol.reduce(_ + _) === 0L, 1L).otherwise(0L))
          .cast("long").as("admitted"))
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Referential-integrity audit of one foreign-key relation: how
    * many child rows carry a NULL key, and how many carry a non-NULL
    * key that matches NO parent — the orphan rate every join in a
    * pipeline silently depends on (an inner join downstream of a 1%
    * orphan rate is a 1% data loss nobody declared). Returns one row
    * (relation, n_child, n_null_keys, n_orphans, orphan_ppm) with
    * orphan_ppm over ALL child rows.
    *
    * Scale: parent keys reduce to a distinct key set (map-side
    * combined) before ONE left join keyed on the FK — the child is
    * scanned once, and the aggregate is map-side; no row ever
    * widens beyond (key, matched).
    */
  def riAudit(child: DataFrame, childKeyCol: String,
              parent: DataFrame, parentKeyCol: String,
              relation: String): DataFrame = {
    val D = "decimal(38,0)"
    val pk = parent.select(col(parentKeyCol).as("__pk"))
      .filter(col("__pk").isNotNull).distinct()
      .withColumn("__hit", lit(1L))
    child.select(col(childKeyCol).as("__ck"))
      .join(pk, col("__ck") === col("__pk"), "left")
      .agg(count(lit(1)).cast(D).as("__n"),
        sum(when(col("__ck").isNull, 1L).otherwise(0L)).cast(D)
          .as("__nulls"),
        sum(when(col("__ck").isNotNull && col("__hit").isNull, 1L)
          .otherwise(0L)).cast(D).as("__orphans"))
      .select(lit(relation).as("relation"),
        col("__n").cast("long").as("n_child"),
        col("__nulls").cast("long").as("n_null_keys"),
        col("__orphans").cast("long").as("n_orphans"),
        expr(s"(CAST(1000000 AS $D) * __orphans) div __n")
          .cast("long").as("orphan_ppm"))
  }
}
