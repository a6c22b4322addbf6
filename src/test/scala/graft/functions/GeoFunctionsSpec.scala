package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class GeoFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("toUtm: central meridian maps to easting 500000, northing = k0 * meridian arc") {
    // Zone 12 central meridian = -111°. M(45°) on WGS84 = 4984944.378 m
    // (Snyder, Map Projections §8, test values); northing = 0.9996 * M.
    val df = Seq((-111.0, 45.0)).toDF("lon", "lat")
      .select(GeoFunctions.toUtm($"lon", $"lat", 12).as("u"))
      .select($"u.easting", $"u.northing")
    val Row(e: Double, n: Double) = df.head()
    assert(math.abs(e - 500000.0) < 1e-6, s"easting $e")
    assert(math.abs(n - 0.9996 * 4984944.378) < 0.5, s"northing $n")
  }

  test("toUtm: equator northing is 0") {
    val df = Seq((-111.0, 0.0)).toDF("lon", "lat")
      .select(GeoFunctions.toUtm($"lon", $"lat", 12).as("u"))
    val Row(Row(e: Double, n: Double)) = df.head()
    assert(math.abs(n) < 1e-6)
    assert(math.abs(e - 500000.0) < 1e-6)
  }

  test("toUtm: Edmonton-ish point is monotone east and plausible") {
    // lon -113.5 is west of the central meridian => easting < 500000
    val Row(Row(e: Double, n: Double)) =
      Seq((-113.4938, 53.5461)).toDF("lon", "lat")
        .select(GeoFunctions.toUtm($"lon", $"lat", 12).as("u")).head()
    assert(e > 300000 && e < 500000, s"easting $e")
    assert(n > 5900000 && n < 6000000, s"northing $n")
  }

  test("gridCellId: packs row-major and respects cell bounds") {
    val df = Seq((0.5, 0.5), (1.5, 0.5), (0.5, 1.5), (3.99, 3.99))
      .toDF("x", "y")
      .select(GeoFunctions.gridCellId($"x", $"y", 0.0, 0.0, 1.0, 4L)
        .as("cell"))
    assert(df.as[Long].collect().toSeq == Seq(0L, 1L, 4L, 15L))
  }

  test("pointInPolygon: unit square ray casting") {
    val square = Seq(Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)))
    val df = Seq((0.5, 0.5, square.head), (1.5, 0.5, square.head),
      (-0.1, 0.2, square.head))
      .toDF("px", "py", "ringRaw")
      .withColumn("ring", expr(
        "transform(ringRaw, p -> struct(p._1 as x, p._2 as y))"))
      .select(GeoFunctions.pointInPolygon($"px", $"py", $"ring").as("in"))
    assert(df.as[Boolean].collect().toSeq == Seq(true, false, false))
  }
}
