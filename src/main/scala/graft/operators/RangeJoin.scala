package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range) join — points matched to the intervals containing
  * them. Spark has no native range join; a naive `a.join(b, lo <= p &&
  * p <= hi)` plans as BroadcastNestedLoop/cartesian + filter, which is
  * O(|points|·|intervals|) — unusable at scale.
  *
  * Scale path (1-D analog of `SpatialJoin`'s grid): quantize time into
  * fixed-width cells; each interval replicates to the cells it covers,
  * each point lands in exactly one cell; equi-join on (keys…, cell) and
  * keep the exact containment as a join residual. Replication factor is
  * ⌈interval width / cellWidth⌉ + 1, so pick cellWidth ≈ the typical
  * interval width (amplification ≤ 2×). ONE shuffle of each side on the
  * cell key; a point matching an interval shares exactly one cell with
  * it (the point's own), so no post-join dedup is needed.
  */
object RangeJoin {

  /** @param keyCols   extra equality keys (both sides must carry them)
    * @param cellWidth bucket width in `pointCol`'s units
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointCol: String, loCol: String, hiCol: String,
                      cellWidth: Long, keyCols: Seq[String] = Seq.empty)
      : DataFrame = {
    require(cellWidth > 0)
    val p = points.withColumn("__cell",
      floor(col(pointCol) / cellWidth).cast("long"))
    val i = intervals.withColumn("__cell",
      explode(sequence(floor(col(loCol) / cellWidth).cast("long"),
        floor(col(hiCol) / cellWidth).cast("long"))))
    val cond = (keyCols :+ "__cell").map(c => p(c) === i(c))
      .reduce(_ && _) &&
      col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol)
    val joined = p.join(i, cond).drop(i("__cell")).drop(p("__cell"))
    keyCols.foldLeft(joined)((d, k) => d.drop(i(k)))
  }
}
