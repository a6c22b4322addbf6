package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** The crash contract of a manifest-only commit, shared by the store
  * specs: a mutation that dies between writing its data files and its
  * manifest CAS leaves the table wholly at the previous generation with
  * only unlisted files behind; its retry lands exactly once; the
  * previous generation still reads back; and `vacuum` leaves no orphan.
  */
trait StoreCrashChecks { self: SparkSpec =>

  /** Files under `root/table` that no retained manifest lists (local
    * checksum sidecars aside) — the orphan inventory.
    */
  protected def unlisted(ts: TableStore, root: String,
                         table: String): Set[String] = {
    val base = new java.io.File(root, table).getCanonicalFile.toPath
    val listed = ts.generations(table).flatMap(g =>
      ts.readAt(table, g).inputFiles.map(f =>
        base.relativize(java.nio.file.Paths.get(new java.net.URI(f))).toString))
      .toSet
    val all = if (!base.toFile.exists()) Set.empty[String]
      else Files.walk(base).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && !p.toString.endsWith(".crc"))
        .map(p => base.relativize(p).toString).toSet
    all -- listed
  }

  /** Every row of `df`, rendered and sorted: an order-free content
    * fingerprint for any schema.
    */
  protected def content(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Seeds `table` with `seed` on a store retaining one past generation,
    * crashes `op` just before its manifest CAS, runs `whileCrashed` on
    * the crashed store, then checks the contract above against the same
    * mutation on an uncrashed twin. Returns the crashed store after its
    * retry and vacuum.
    */
  protected def crashBeforeCas(table: String, seed: TableStore => Any)(
      op: TableStore => Any,
      whileCrashed: TableStore => Unit = _ => ()): TableStore = {
    val root = Files.createTempDirectory("graft_crash").toString
    val ts = new TableStore(spark, root, retainGenerations = 1)
    seed(ts)
    val before = content(ts.read(table))
    val gen = ts.generations(table).last
    ts.beforeBeginCommit =
      () => throw new IllegalStateException("injected crash before commit")
    val boom = intercept[IllegalStateException](op(ts))
    assert(boom.getMessage.contains("injected"))
    ts.beforeBeginCommit = () => ()
    // the table still IS the previous generation; the crash left only
    // data files no manifest lists
    assert(ts.generations(table).last == gen)
    assert(content(ts.read(table)) == before)
    assert(unlisted(ts, root, table).nonEmpty, "no data files were written")
    whileCrashed(ts)
    // the retry lands exactly once: it equals the same mutation on an
    // uncrashed twin, one generation later, with the old one intact
    op(ts)
    val twin = new TableStore(spark,
      Files.createTempDirectory("graft_twin").toString, retainGenerations = 1)
    seed(twin)
    op(twin)
    val after = content(twin.read(table))
    assert(ts.generations(table).last == gen + 1)
    assert(content(ts.read(table)) == after)
    assert(content(ts.readAt(table, gen)) == before)
    // vacuum removes the orphans and nothing the retained manifests list
    ts.vacuum(table, keepLast = 1)
    assert(unlisted(ts, root, table).isEmpty)
    assert(content(ts.read(table)) == after)
    assert(content(ts.readAt(table, gen)) == before)
    ts
  }
}
