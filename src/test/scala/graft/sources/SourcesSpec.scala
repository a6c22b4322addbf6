package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("jsonTable: schema'd JSONL multi-file scan (the S10 inter-task table)") {
    val dir = Files.createTempDirectory("graft_src").toString
    Files.write(Paths.get(dir, "a.json"),
      "{\"k\":1,\"v\":\"x\"}\n{\"k\":2,\"v\":\"y\"}".getBytes)
    Files.write(Paths.get(dir, "b.json"), "{\"k\":3,\"v\":\"z\"}".getBytes)
    val df = Sources.jsonTable(spark,
      StructType.fromDDL("k long, v string"), s"$dir/*.json")
    assert(df.count() == 3)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("jsonTableQuarantined: malformed rows split out with raw evidence") {
    val dir = Files.createTempDirectory("graft_quar").toString
    Files.write(Paths.get(dir, "feed.json"), Seq(
      """{"k":1,"v":"ok"}""",
      """{"k":2 "v":"missing-comma"}""", // malformed
      """{"k":"not-a-long","v":"type-clash"}""", // schema violation
      """{"k":3,"v":"ok2"}""").mkString("\n").getBytes)
    val (good, quarantine) = Sources.jsonTableQuarantined(spark,
      StructType.fromDDL("k long, v string"), s"$dir/*.json")
    assert(good.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(good.select($"k").as[Long].collect().toSet == Set(1L, 3L))
    val bad = quarantine.select($"raw").as[String].collect()
    assert(bad.length == 2)
    assert(bad.exists(_.contains("missing-comma")))
    assert(bad.exists(_.contains("not-a-long")))
  }

  test("csvTableQuarantined: every width/type/quote mismatch quarantines with raw evidence") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_csvq").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.txt"),
      Seq(
        "1,alpha,10",          // clean
        "2,beta",              // short row: width mismatch quarantines
        "notanumber,gamma,30", // type mismatch: quarantined
        "4,\"unterminated,40", // quote error: quarantined
        "5,delta,50,extra"     // extra column: quarantined
      ).mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id long, name string, cents long")
    val (good, quarantine) = graft.sources.Sources
      .csvTableQuarantined(spark, schema, s"$dir/*.txt")
    val g = good.as[(Option[Long], Option[String], Option[Long])]
      .collect().toSet
    assert(g == Set((Some(1L), Some("alpha"), Some(10L))), g.toString)
    val q = quarantine.as[String].collect().toSet
    assert(q == Set("2,beta", "notanumber,gamma,30",
      "4,\"unterminated,40", "5,delta,50,extra"), q.toString)
  }

  test("geoJsonFeatures: FeatureCollection explodes to one row per feature") {
    val dir = Files.createTempDirectory("graft_geo").toString
    val geojson = """{"type":"FeatureCollection","features":[
      {"type":"Feature","geometry":{"type":"Point","coordinates":[-113.5,53.5]},
       "properties":{"name":"cafe","kind":"amenity"}},
      {"type":"Feature","geometry":{"type":"Point","coordinates":[-113.6,53.6]},
       "properties":{"name":"shop","kind":"business"}}]}"""
    Files.write(Paths.get(dir, "pois.json"), geojson.getBytes)
    val df = Sources.geoJsonFeatures(spark, s"$dir/pois.json")
    val rows = df.select($"geom_type", $"name", $"kind")
      .as[(String, String, String)].collect().toSet
    assert(rows == Set(("Point", "cafe", "amenity"),
      ("Point", "shop", "business")))
  }

  test("orcTable: schema'd scan; partition filter prunes directories") {
    val dir = Files.createTempDirectory("graft_orc").toString
    spark.range(100)
      .withColumn("day", concat(lit("d"), $"id" % 5))
      .withColumn("v", $"id" * 2)
      .write.partitionBy("day").orc(s"$dir/t")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id long, v long, day string")
    val pruned = Sources.orcTable(spark, schema, s"$dir/t")
      .filter($"day" === "d3")
    assert(pruned.count() == 20)
    assert(pruned.agg(sum($"v")).head().getLong(0) ==
      (0L until 100L).filter(_ % 5 == 3).map(_ * 2).sum)
    val scanExec = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val pf = scanExec.partitionFilters.mkString(";")
    assert(pf.contains("day") && pf.contains("d3"), s"PartitionFilters: $pf")
  }

  test("jsonArrayTable: a file holding ONE JSON array reads one row per record (S10)") {
    val dir = Files.createTempDirectory("graft_jarr").toString
    Files.write(Paths.get(dir, "blob.json"),
      """[{"k":1,"v":"x"},
        | {"k":2,"v":"y"},
        | {"k":3,"v":null}]""".stripMargin.getBytes)
    val df = Sources.jsonArrayTable(spark,
      StructType.fromDDL("k long, v string"), s"$dir/*.json")
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(df.orderBy($"k").as[(Long, Option[String])].collect().toSeq ==
      Seq((1L, Some("x")), (2L, Some("y")), (3L, None)))
  }

  test("binaryTable: binaryFile blobs with path/length/content, suffix-filtered (S12)") {
    val dir = Files.createTempDirectory("graft_bin").toString
    val pdf = Array[Byte](37, 80, 68, 70, 0, -1, 10)
    Files.write(Paths.get(dir, "a.pdf"), pdf)
    Files.write(Paths.get(dir, "b.png"), Array[Byte](1, 2, 3))
    val all = Sources.binaryTable(spark, s"$dir/*")
    assert(all.count() == 2)
    val only = Sources.binaryTable(spark, s"$dir/*", suffix = Some(".pdf"))
    val rows = only.select($"path", $"length", $"content")
      .as[(String, Long, Array[Byte])].collect()
    assert(rows.length == 1)
    assert(rows.head._1.endsWith("/a.pdf") && rows.head._2 == pdf.length)
    assert(rows.head._3.toSeq == pdf.toSeq)
  }

  test("partitioned TableStore writes prune partitions at scan") {
    val dir = Files.createTempDirectory("graft_part").toString
    val ts = new TableStore(spark, dir)
    val df = spark.range(100)
      .withColumn("day", concat(lit("d"), $"id" % 5))
      .withColumn("v", $"id" * 2)
    ts.append("events_p", df, partitionBy = Seq("day"))
    val pruned = ts.read("events_p").filter($"day" === "d3")
    assert(pruned.count() == 20)
    // the filter must land in the scan's PartitionFilters (directory
    // pruning), and the executed scan must touch only day=d3 files
    val scanExec = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val pf = scanExec.partitionFilters.mkString(";")
    assert(pf.contains("day") && pf.contains("d3"), s"PartitionFilters: $pf")
    val listing = scanExec.selectedPartitions
    assert(listing.totalNumberOfFiles > 0 &&
      listing.totalNumberOfFiles < 20, // 5 days x 4 tasks unpruned
      s"files=${listing.totalNumberOfFiles}")
  }
}

/** K1 JSON sink + K4 chunked insert — the write-side dusty corners. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("K1: JSON-lines sink round-trips schema and values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_k1").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25)).toDF("id", "name", "score")
    df.write.mode("overwrite").json(dir)
    val back = spark.read.schema(df.schema).json(dir)
    assert(back.orderBy($"id").collect().toSeq ==
      df.orderBy($"id").collect().toSeq)
  }

  test("K4: chunked insert = partition-sized appends (one file per chunk)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_k4").toString
    val store = new TableStore(spark, dir)
    // the reference inserts in 500-row chunks; the engine's chunk is the
    // write partition — repartition(3) must yield 3 part files, all rows
    store.append("permits", (1 to 90).toDF("n").repartition(3))
    assert(store.read("permits").inputFiles.length == 3)
    assert(store.read("permits").count() == 90)
    store.append("permits", (91 to 100).toDF("n").repartition(1))
    assert(store.read("permits").count() == 100)
  }
}
