package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{PartitionPath,
  PartitionSpec}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.operators.Upsert
import scala.jdk.CollectionConverters._

/** Another writer committed a manifest between this mutation's read of
  * the table state and its commit CAS (the Delta/Iceberg
  * optimistic-concurrency shape): the mutation's inputs are stale.
  * The public mutation methods catch this internally and retry the
  * WHOLE operation against the new generation up to
  * `maxCommitRetries` times; it escapes only when retries are
  * exhausted (sustained write contention — back off at the caller).
  */
final class ConcurrentCommitException(val table: String,
                                      val expectedSeq: Long,
                                      val foundSeq: Long,
                                      what: String = "manifest seq")
  extends RuntimeException(
    s"table $table: concurrent writer advanced $what to $foundSeq " +
      s"(this mutation read $what $expectedSeq) — inputs are " +
      "stale; retry the operation against the new generation")

/** Parquet-backed table store: the engine-native replacement for the
  * reference's Postgres/Supabase serving sink (SURVEY.md §2.1 S13,
  * K2/K3/K7/K8). A table = immutable parquet files under `root/<table>`
  * plus a sequence of commit manifests beside that directory.
  *
  * Semantics re-expressed as DataFrame algebra:
  *  - append            = K3 plain insert
  *  - upsert(keys)      = K2 INSERT ... ON CONFLICT DO NOTHING
  *  - deleteByKeys      = K8 conditional delete
  *  - updateFlag        = K7 row update (flag flip) as a rewrite
  *
  * COMMIT PROTOCOL (the Delta/Iceberg shape, manifest-only): every
  * mutation writes its data files ONCE, into a fresh commit directory
  * `<table>/<commit-id>/[k=v/]part-….parquet`, then commits by creating
  * the manifest `<table>._graft_commit.<seq+1>` with CREATE-EXCLUSIVE.
  * That one manifest lists the whole live file set (relative path and
  * length), the partition columns, the read schema, the stream fences
  * and the per-file stats of [[analyze]] — it is the only truth
  * (named [[tag]]s aside). A replaced or deleted file is simply left
  * out of the next list: nothing is ever renamed, moved or rewritten
  * in place. A crash before the CAS leaves only files no manifest
  * lists (orphans, removed by [[vacuum]]); a crash after it leaves a
  * committed generation.
  * Reads resolve through the head manifest alone: one file index over
  * the listed files with the recorded schema and partition values — no
  * directory listing, no footer inference. Partition- and
  * stats-targeted mutations list only the files they replace, so
  * untouched partitions and files keep their identity.
  *
  * Storage goes through the Hadoop FileSystem API resolved from the
  * root path — the same store code runs on local fs, HDFS, or an
  * object store (s3a/gs/abfs). The protocol needs one atomic primitive:
  * the exclusive create of a small file.
  *
  * MULTI-WRITER commits are optimistic: a mutation reads the head
  * manifest, derives its output from that generation and commits at
  * exactly `seq + 1`. Exactly one writer per sequence number wins; the
  * loser gets [[ConcurrentCommitException]], deletes its own commit
  * directory, and the public mutation methods re-derive the whole
  * operation (re-read, recompute, re-write) against the new generation
  * up to `maxCommitRetries` times.
  *
  * RETENTION: manifests are the snapshots. With `retainGenerations = k`
  * the last k superseded manifests — and every file they list — stay
  * readable through [[readAt]] and [[changesBetween]]; each commit
  * retires older manifests and deletes the files only they listed. An
  * [[analyze]] is a commit too (same files, stats attached), so it
  * uses one retention slot.
  */
final class TableStore(spark: SparkSession, root: String,
                       retainGenerations: Int = 0,
                       maxCommitRetries: Int = 5) {

  private def path(table: String) = s"$root/$table"
  private def hpath(table: String) = new Path(path(table))
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  // ------------------------------------------------------ commit manifest

  /** One committed generation (the generation number IS the manifest
    * sequence): the complete live data-file set as (path relative to
    * the table dir, byte length), the partition columns, the read
    * schema (data columns, then partition columns), the exactly-once
    * stream fences, the [[analyze]]d stats of listed files (the raw
    * `r=`/`s=` lines of [[FileStats.serialize]]) and, for a rollup
    * table, the source files each `__rollup:<src>` fence has folded.
    */
  private[sources] case class Manifest(seq: Long, schema: StructType,
                                       partitionCols: Seq[String],
                                       files: Seq[(String, Long)],
                                       txns: Map[String, Long],
                                       statLines: Seq[String],
                                       folds: Map[String, Set[String]]) {
    def paths: Seq[String] = files.map(_._1)
    /** Decoded on first use: a plain read never decodes a bloom. */
    lazy val stats: Map[String, FileStats.PerFile] =
      FileStats.deserialize(statLines.mkString("\n"))
    def dataSchema: StructType =
      StructType(schema.filterNot(f => partitionCols.contains(f.name)))
    def partitionSchema: StructType =
      StructType(schema.filter(f => partitionCols.contains(f.name)))
  }

  private def manifestName(table: String) = s"$table._graft_commit."

  /** Targeted glob, not a listing of the whole store root: the
    * manifest check runs on EVERY [[read]], and a root listStatus
    * would scale with the number of tables in the store.
    */
  private def listManifests(table: String): Seq[(Long, Path)] = {
    val rootP = new Path(root)
    val fs = fsOf(rootP)
    val matched = fs.globStatus(new Path(rootP, manifestName(table) + "*"))
    if (matched == null) Nil
    else {
      val pre = manifestName(table)
      matched.toSeq.map(_.getPath)
        .flatMap(p => p.getName.stripPrefix(pre).toLongOption.map(_ -> p))
    }
  }

  /** One mutation-body attempt (installed by [[retryCommit]],
    * thread-local). `heads` memoizes each table's head manifest: a
    * mutation reads the head several times (exists, fence, schema, file
    * list, the frame it derives), and within one attempt those reads
    * are BY DESIGN anchored at one head — the commit CAS
    * (writeManifest, which always lists FRESH) is what detects a
    * concurrent commit. Every writeManifest invalidates the entry.
    * `committed` marks an attempt whose CAS won: it is never retried.
    */
  private final class Attempt {
    val heads = new java.util.HashMap[String, Option[Manifest]]()
    var committed = false
  }
  private val attempt = new ThreadLocal[Attempt]()
  private def invalidateHead(table: String): Unit = {
    val a = attempt.get
    if (a != null) a.heads.remove(table)
  }

  private[sources] def readManifest(table: String): Option[Manifest] = {
    val a = attempt.get
    if (a != null && a.heads.containsKey(table)) return a.heads.get(table)
    val r = readManifestFresh(table)
    if (a != null) a.heads.put(table, r)
    r
  }

  private def readManifestFresh(table: String): Option[Manifest] = {
    // a committing writer retires superseded manifests AFTER creating
    // its successor: the head we globbed can vanish before our open.
    // Re-list on a miss — by then the successor exists, so the loop
    // terminates
    var attempts = 0
    while (true) {
      val ms = listManifests(table)
      if (ms.isEmpty) return None
      val found = manifestAt(table, ms.map(_._1).max)
      if (found.nonEmpty) return found
      attempts += 1
      if (attempts > 50) throw new IllegalStateException(
        s"table $table: head manifest kept vanishing after $attempts reads")
    }
    None
  }

  /** The manifest at `seq`, or None once it has been retired. */
  private def manifestAt(table: String, seq: Long): Option[Manifest] =
    try Some(parseManifest(seq,
      readText(new Path(root, manifestName(table) + seq))))
    catch { case _: java.io.FileNotFoundException => None }

  /** The head manifest of an existing table; loud otherwise. */
  private def head(table: String): Manifest =
    readManifest(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))

  private def readText(p: Path): String = {
    val in = fsOf(p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parseManifest(seq: Long, txt: String): Manifest = {
    val lines = txt.split("\n").toSeq.filter(_.nonEmpty)
    def vs(k: String) =
      lines.filter(_.startsWith(k + "=")).map(_.stripPrefix(k + "="))
    // `f=<length> <relative path>`: the length never holds a space
    val files = vs("f").map { l =>
      val cut = l.indexOf(' ')
      l.drop(cut + 1) -> l.take(cut).toLong
    }
    val txns = vs("txn").flatMap { t =>
      val cut = t.lastIndexOf(':')
      if (cut <= 0) None
      else t.drop(cut + 1).toLongOption.map(t.take(cut) -> _)
    }.toMap
    // `fold=<src>\t<relative path>`: Spark escapes tabs in partition
    // directory names, and commit ids and part names hold none
    val folds = vs("fold").map { l =>
      val cut = l.indexOf('\t')
      l.take(cut) -> l.drop(cut + 1)
    }.groupMap(_._1)(_._2).map { case (s, fs) => s -> fs.toSet }
    Manifest(seq, DataType.fromJson(vs("schema").head).asInstanceOf[StructType],
      vs("part"), files, txns,
      lines.filter(l => l.startsWith("r=") || l.startsWith("s=")), folds)
  }

  /** The COMMIT CAS: `m` is created with CREATE-EXCLUSIVE at exactly
    * `m.seq`, and a head other than `m.seq - 1` (or losing the
    * exclusive create) throws [[ConcurrentCommitException]] — exactly
    * one writer per sequence number ever succeeds. Superseded
    * manifests are retired afterwards by [[expire]], never before, so
    * readers taking the max always find a complete head.
    */
  private def writeManifest(table: String, m: Manifest): Unit =
    try {
      val fs = fsOf(new Path(root))
      val body =
        (Seq(s"schema=${m.schema.json}") ++
          m.partitionCols.map("part=" + _) ++
          m.files.map { case (rel, len) => s"f=$len $rel" } ++
          m.txns.toSeq.sortBy(_._1).map { case (s, b) => s"txn=$s:$b" } ++
          m.folds.toSeq.sortBy(_._1).flatMap { case (s, fs) =>
            fs.toSeq.sorted.map(f => s"fold=$s\t$f")
          } ++ m.statLines)
          .mkString("", "\n", "\n")
      val found = listManifests(table).map(_._1).maxOption.getOrElse(0L)
      if (found != m.seq - 1)
        throw new ConcurrentCommitException(table, m.seq - 1, found)
      val p = new Path(root, manifestName(table) + m.seq)
      val won =
        try {
          val out = fs.create(p, false)
          // from here the path is OURS (create was exclusive): a
          // write/close failure must DELETE the partial file before
          // escalating — a truncated head would hide the committed
          // file list and fences from every reader
          try {
            try out.write(body.getBytes("UTF-8")) finally out.close()
          } catch {
            case e: Throwable =>
              try fs.delete(p, false) catch { case _: Throwable => () }
              throw e
          }
          true
        } catch {
          case e: java.io.IOException => if (fs.exists(p)) false else throw e
        }
      if (!won) throw new ConcurrentCommitException(table, m.seq - 1, m.seq)
    } finally invalidateHead(table) // ours or a competitor's: memo stale

  /** Retry a whole mutation on optimistic-commit collision: the body
    * must RE-DERIVE everything (re-read table state, recompute frames,
    * re-write) each attempt — it runs against a newer generation. An
    * attempt collided when it lost the CAS, or when it failed while a
    * table it anchored on moved on: the concurrent commit may have
    * retired the very files the attempt was reading. Nested calls run
    * inside the outer attempt.
    */
  private def retryCommit[T](body: => T): T = {
    if (attempt.get != null) return body
    var retries = 0
    while (true) {
      val a = new Attempt
      attempt.set(a)
      try return body
      catch {
        case e: Exception if !a.committed && (
            e.isInstanceOf[ConcurrentCommitException] ||
              a.heads.asScala.exists { case (t, m) =>
                readManifestFresh(t).map(_.seq) != m.map(_.seq)
              }) =>
          retries += 1
          if (retries > maxCommitRetries) throw e
      } finally attempt.remove()
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seam: invoked immediately before a mutation's commit CAS
    * (after its data files are written) — a spec interleaves a
    * competing writer's full mutation here to force a deterministic
    * commit collision, or throws to crash between the data-file write
    * and the CAS. Never set outside tests.
    */
  private[sources] var beforeBeginCommit: () => Unit = () => ()

  /** Seam: invoked immediately AFTER a fenced mutation
    * ([[appendExactlyOnce]], [[merge]] with `txn`, [[refreshRollup]])
    * reads its txn fence and decides to proceed — a spec interleaves a
    * competing fenced commit here to prove the fence is re-validated
    * under the commit-CAS anchor (the zombie-writer TOCTOU window).
    * Never set outside tests.
    */
  private[sources] var afterFenceRead: () => Unit = () => ()

  /** Fence re-validation under the CAS anchor: a fenced mutation reads
    * `lastTxn` BEFORE writing, but only the head manifest captured as
    * the commit-CAS anchor is race-free — a zombie writer committing
    * the same fence between the two reads would otherwise be invisible
    * (the anchor sees the newer seq, the CAS succeeds, the batch lands
    * twice). Bodies call this on their anchored head; a mismatch
    * throws [[ConcurrentCommitException]] so `retryCommit` re-reads
    * the fence and skips the replay.
    */
  private def checkFence(table: String, head: Option[Manifest],
                         expected: Option[(String, Long)]): Unit =
    expected.foreach { case (k, v) =>
      val cur = head.flatMap(_.txns.get(k)).getOrElse(-1L)
      if (cur != v)
        throw new ConcurrentCommitException(table, v, cur,
          what = s"txn fence $k")
    }

  // ------------------------------------------------ data files and reads

  /** Target size for data files this store writes (bytes). Read from
    * `spark.graft.targetFileBytes` with the parquet-standard 128 MiB
    * default — scale-adaptive via conf, never a constant tuned to one
    * box.
    */
  private lazy val targetFileBytes: Long =
    spark.conf.getOption("spark.graft.targetFileBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)

  /** Write `frame` ONCE into a fresh commit directory
    * `<table>/<commit-id>/` and return its data files (paths relative
    * to the table dir, with lengths). Until a manifest lists them the
    * files are invisible orphans — all a crash here can leave.
    *
    * `compact`: a FLAT output that came out badly fragmented — many
    * files far below [[targetFileBytes]] (a frame whose last stage was
    * a 32-partition scan writes one near-empty file per task) — is
    * rewritten once into a second commit directory and the first is
    * deleted. Small files hurt twice (planning per commit, a footer
    * per file on every later read), and at lifecycle-query scale the
    * read-back cost dominates the one extra tiny job this pays. At
    * production scale files approach the target and this never
    * triggers; partitioned layouts pass through untouched (per-dir
    * sizing is the compact()/z-order path's business).
    */
  private def stage(table: String, frame: DataFrame,
                    partitionBy: Seq[String],
                    compact: Boolean): Seq[(String, Long)] = {
    val fs = fsOf(hpath(table))
    def write(df: DataFrame): Path = {
      val dir = new Path(hpath(table),
        java.util.UUID.randomUUID().toString.replace("-", "").take(16))
      // no `_SUCCESS` marker: the manifest is the commit record
      val w = df.write
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(dir.toString)
      dir
    }
    var dir = write(frame)
    var files = dataFiles(fs, dir)
    if (compact && partitionBy.isEmpty && files.size > 1) {
      val bytes = files.map(_._2).sum
      val ideal = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      if (files.size > 4 * ideal) {
        // the caller just WROTE these files and knows their schema —
        // pin it so the read-back skips a footer inference
        val packed = write(spark.read.schema(frame.schema)
          .parquet(dir.toString).coalesce(ideal.toInt))
        fs.delete(dir, true)
        dir = packed
        files = dataFiles(fs, dir)
      }
    }
    if (files.isEmpty) fs.delete(dir, true) // nothing to list, nothing kept
    files.map { case (rel, len) => s"${dir.getName}/$rel" -> len }
  }

  /** Data files under `dir` (recursive) with their lengths; metadata
    * files (`_`/`.`-prefixed) are skipped.
    */
  private def dataFiles(fs: FileSystem, dir: Path,
                        rel: String = ""): Seq[(String, Long)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      val r = if (rel.isEmpty) name else s"$rel/$name"
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath, r)
      else Seq(r -> st.getLen)
    }

  /** The commit directory a listed file belongs to. */
  private def commitDir(rel: String): String = rel.takeWhile(_ != '/')

  private def qualified(table: String): Path =
    fsOf(hpath(table)).makeQualified(hpath(table))

  /** `files` (path, length) as the statuses a [[FileScan]] index serves. */
  private def statuses(files: Seq[(Path, Long)]): Seq[(Path, Seq[FileStatus])] =
    files.map { case (p, len) =>
      p -> Seq(new FileStatus(len, false, 1, 0L, 0L, p))
    }

  /** The partition sub-path (`k=v/...`) of a listed file. */
  private def partitionDir(rel: String): String =
    rel.split('/').drop(1).dropRight(1).mkString("/")

  /** Typed values of the partition sub-paths `dirs`, parsed by Spark's
    * own partition-path rules: a probe index rooted at the table dir
    * over one in-memory placeholder file per sub-path. `types = None`
    * infers the column types from the names — exactly what a directory
    * read of the table infers; `Some` casts to the recorded types.
    */
  private def partitionValues(table: String, dirs: Seq[String],
                              types: Option[StructType])
      : (StructType, Map[String, InternalRow]) = {
    val base = qualified(table)
    val byDir = dirs.distinct.map(d => new Path(base, d) -> d).toMap
    val spec = FileScan.index(spark,
      statuses(byDir.keys.toSeq.map(d => new Path(d, "f") -> 1L)),
      Map("basePath" -> base.toString), types).partitionSpec()
    (spec.partitionColumns,
      spec.partitions.map(p => byDir(p.path) -> p.values).toMap)
  }

  /** The scan over `rels` ⊆ `m`'s files, resolved through the manifest
    * alone: one file index over the listed files, with an explicit
    * partition spec (every commit directory's `k=v` dirs map to their
    * typed values, so files of many commits read as ONE partitioned
    * scan) and the recorded schema (no footer inference), wrapped as a
    * plain parquet relation — partition pruning, `_metadata` and
    * `input_file_name` behave as on any parquet read.
    */
  private def scan(table: String, m: Manifest,
                   rels: Seq[String]): DataFrame = {
    val base = qualified(table)
    val lens = m.files.toMap
    val partitions =
      if (m.partitionCols.isEmpty || rels.isEmpty) Nil
      else {
        val leaves =
          rels.map(r => r.take(r.lastIndexOf('/')) -> partitionDir(r)).distinct
        val values = partitionValues(table, leaves.map(_._2),
          Some(m.partitionSchema))._2
        leaves.map { case (leaf, dir) =>
          PartitionPath(values(dir), new Path(base, leaf))
        }
      }
    val index = FileScan.index(spark,
      statuses(rels.map(r => new Path(base, r) -> lens(r))),
      spec = Some(PartitionSpec(m.partitionSchema, partitions)))
    FileScan.parquet(spark, index, m.dataSchema, m.partitionSchema)
  }

  /** Commit the live file set `files` as generation `head0.seq + 1`.
    * `schema` is the read schema; when files are listed, partition
    * column types are (re)inferred from their directory names, the
    * rule a directory read applies. The head's stats of every file
    * still listed carry forward (a file is immutable, so its stats
    * never go stale), overridden per file by `stats`; fences and fold
    * lists carry forward, updated by `txnUpdate` and `fold`. Losing
    * the CAS deletes this attempt's own commit directories (`staged` —
    * no manifest ever listed them) and rethrows for [[retryCommit]];
    * winning retires manifests past the retention window ([[expire]]).
    */
  private def commit(table: String, head0: Option[Manifest],
                     files: Seq[(String, Long)], partitionCols: Seq[String],
                     schema: StructType, staged: Seq[(String, Long)],
                     txnUpdate: Option[(String, Long)] = None,
                     stats: Map[String, FileStats.PerFile] = Map.empty,
                     fold: Option[(String, Set[String])] = None): Long = {
    val parts =
      if (partitionCols.isEmpty || files.isEmpty)
        schema.filter(f => partitionCols.contains(f.name))
      else partitionValues(table, files.map(f => partitionDir(f._1)), None)
        ._1.toSeq
    val keepStats = files.map(_._1).toSet -- stats.keys
    val m = Manifest(head0.map(_.seq).getOrElse(0L) + 1,
      StructType(schema.filterNot(f => partitionCols.contains(f.name)) ++ parts),
      partitionCols, files,
      head0.map(_.txns).getOrElse(Map.empty[String, Long]) ++ txnUpdate,
      head0.toSeq.flatMap(_.statLines)
        .filter(l => keepStats(FileStats.fileOf(l))) ++
        FileStats.serialize(stats).split("\n").filter(_.nonEmpty),
      head0.map(_.folds).getOrElse(Map.empty[String, Set[String]]) ++ fold)
    beforeBeginCommit()
    try {
      writeManifest(table, m)
      Option(attempt.get).foreach(_.committed = true)
    } catch {
      case e: ConcurrentCommitException =>
        val fs = fsOf(hpath(table))
        staged.map(f => commitDir(f._1)).distinct
          .foreach(d => fs.delete(new Path(hpath(table), d), true))
        throw e
    }
    expire(table, m, retainGenerations)
    m.seq
  }

  /** Retire manifests older than `head.seq - keepLast`, then delete the
    * files only they listed. Manifests go first, so a crash in between
    * leaves only orphans. A file, once left out of a list, never
    * returns to one, so "listed by a retired manifest but not by the
    * oldest retained one" is exactly "listed by no retained manifest";
    * and since a commit directory's files all arrive in one commit, a
    * directory the oldest retained manifest lists nothing from is
    * deleted whole. Files of writers still in flight are never listed
    * anywhere, so this never touches them.
    */
  private def expire(table: String, head: Manifest, keepLast: Int): Unit = {
    val fs = fsOf(new Path(root))
    val (gone, kept) = listManifests(table).partition(_._1 < head.seq - keepLast)
    if (gone.isEmpty) return
    val oldest = kept.map(_._1).minOption.getOrElse(head.seq)
    val live = (if (oldest == head.seq) Some(head) else manifestAt(table, oldest))
      .map(_.paths.toSet)
      .getOrElse(return) // a concurrent writer is already retiring it
    val doomed = gone.flatMap(g => manifestAt(table, g._1)).flatMap(_.paths)
      .toSet -- live
    gone.foreach { case (_, p) => fs.delete(p, false) }
    val liveDirs = live.map(commitDir)
    val (wholeDirs, single) = doomed.partition(f => !liveDirs(commitDir(f)))
    wholeDirs.map(commitDir).foreach(d =>
      fs.delete(new Path(hpath(table), d), true))
    single.foreach(f => fs.delete(new Path(hpath(table), f), false))
  }

  def exists(table: String): Boolean = readManifest(table).nonEmpty

  /** Table scan of the head generation, resolved through its manifest.
    * The frame is a reader SNAPSHOT against concurrent writers: its
    * file list is the head manifest's, fixed when the frame is
    * created, so a concurrent append's files never leak into it.
    * Appends never delete files, so the frame stays valid under any
    * number of concurrent appends/upserts. A concurrent REWRITE
    * deletes the files it replaced once it commits unless retention
    * keeps them (`retainGenerations > 0`) — a reader that must survive
    * rewrites should pin `generations().last` and use [[readAt]].
    */
  def read(table: String): DataFrame = {
    val m = head(table)
    scan(table, m, m.paths)
  }

  /** Manifest-fenced append (K3): the batch's files are written into
    * their own commit directory and the commit lists them next to the
    * table's existing files. A crash at ANY point before the CAS
    * leaves the table without the batch (the written files are
    * orphans). A first-time append routes through [[rewrite]].
    *
    * Returns the COMMITTED generation, taken from this append's own
    * commit CAS — under a concurrent writer on the same table,
    * re-reading `generations().last` after the call could observe a
    * LATER writer's generation and pin the wrong reproducibility
    * anchor; the returned value cannot. An empty batch commits
    * nothing and returns the current generation (whose content the
    * no-op batch trivially reflects).
    */
  def append(table: String, df: DataFrame,
             partitionBy: Seq[String] = Nil): Long =
    retryCommit(appendBody(table, df, partitionBy))

  /** `df` is BY-NAME on purpose: table-derived frames (an upsert's
    * anti-join, a dedup screen) pin the head manifest's file list when
    * the frame is created, so the frame must be constructed AFTER the
    * CAS anchor below — a frame built on an older head would slide
    * under the CAS with stale inputs (the lost-update anomaly OCC
    * exists to prevent). Callers pass the frame-building EXPRESSION,
    * not a pre-built val. `widened` = appendEvolve's widened read
    * schema.
    */
  private def appendBody(table: String, df: => DataFrame,
                         partitionBy: Seq[String],
                         txnUpdate: Option[(String, Long)] = None,
                         expectedFence: Option[(String, Long)] = None,
                         widened: Option[StructType] = None)
      : Long = {
    // the state this mutation is based on; the commit CAS validates
    // nobody committed past it while we wrote
    val head0 = readManifest(table) match {
      case Some(m) => m
      case None =>
        return rewriteBody(table, df, partitionBy, txnUpdate,
          expectedFence = expectedFence)
    }
    checkFence(table, Some(head0), expectedFence)
    // layout guard: appending flat files into a partitioned table (or
    // with a DIFFERENT partitionBy — INCLUDING partitioned files into a
    // flat non-empty table) would commit files that no single
    // partition spec describes — reject BEFORE writing. Only a table
    // with NO committed files waives the check: a flat table's layout
    // is Nil, which must still match the batch's.
    require(head0.files.isEmpty || head0.partitionCols == partitionBy,
      s"append: table $table is partitioned by " +
        s"[${head0.partitionCols.mkString("/")}] but the batch uses " +
        s"partitionBy=[${partitionBy.mkString("/")}] — layouts must " +
        "match (empty = flat)")
    val frame0 = df // derived frames pin the head HERE, after the anchor
    // COLUMN-ORDER normalization: a batch carrying exactly the
    // committed columns in a different order is reordered, so every
    // file of the table stores one column order (positional consumers
    // of a single file see the table's order); a different column SET
    // is appendEvolve's business and passes through untouched. An
    // emptied table takes the batch's schema, like a first commit.
    val committedCols = head0.schema.map(_.name)
    val frame =
      if (head0.files.nonEmpty && committedCols.toSet == frame0.columns.toSet &&
          committedCols != frame0.columns.toSeq)
        frame0.select(committedCols.map(col): _*)
      else frame0
    val incoming = stage(table, frame, partitionBy, compact = true)
    if (incoming.isEmpty) return head0.seq
    val schema = widened.getOrElse(
      if (head0.files.isEmpty) FileScan.nullable(frame.schema)
      else head0.schema)
    commit(table, Some(head0), head0.files ++ incoming, partitionBy, schema,
      incoming, txnUpdate)
  }

  /** Append with SCHEMA EVOLUTION: batch columns the table lacks are
    * ADDED to the recorded schema (earlier files read them back as
    * NULL); table columns the batch lacks are filled with typed NULLs;
    * shared columns must match types EXACTLY — a silent cast is how a
    * corpus-wide column turns to garbage, so mismatches throw.
    */
  def appendEvolve(table: String, df: DataFrame,
                   partitionBy: Seq[String] = Nil): Unit = retryCommit {
    readManifest(table) match {
      case None => rewriteBody(table, df, partitionBy); ()
      case Some(m) =>
        val tableSchema = m.schema
        val batchSchema = df.schema
        val conflicts = tableSchema.flatMap { tf =>
          batchSchema.find(_.name == tf.name)
            .filter(_.dataType != tf.dataType)
            .map(bf => s"${tf.name}: table ${tf.dataType.simpleString} " +
              s"vs batch ${bf.dataType.simpleString}")
        }
        require(conflicts.isEmpty,
          "appendEvolve: column type conflict(s) — a silent cast would " +
            s"corrupt the corpus: ${conflicts.mkString("; ")}")
        val added = batchSchema.filterNot(bf =>
          tableSchema.exists(_.name == bf.name))
        // table columns first (their canonical order), new columns after
        val aligned = df.select(
          tableSchema.map { tf =>
            if (batchSchema.exists(_.name == tf.name)) col(tf.name)
            else org.apache.spark.sql.functions.lit(null)
              .cast(tf.dataType).as(tf.name)
          } ++ added.map(bf => col(bf.name)): _*)
        val widened =
          if (added.isEmpty) None
          else Some(StructType(m.dataSchema ++
            FileScan.nullable(StructType(added)) ++
            m.partitionSchema))
        appendBody(table, aligned, partitionBy, widened = widened)
        ()
    }
  }

  /** Last batch id committed for `streamId`, −1 when none. */
  def lastTxn(table: String, streamId: String): Long =
    readManifest(table).flatMap(_.txns.get(streamId)).getOrElse(-1L)

  /** EXACTLY-ONCE idempotent append — the Delta txn-version pattern
    * for replayable writers (a retried batch job, a `foreachBatch`
    * sink): the (streamId, batchId) fence rides the SAME commit
    * manifest as the append (one atomic CAS commits data + fence
    * together), and a replayed batch whose id is ≤ the recorded fence
    * is SKIPPED. A crash between the commit and the writer's own
    * progress record therefore cannot duplicate the batch: the
    * restarted writer re-delivers it, the fence rejects it. Fences are
    * carried forward across every other writer's commits (every
    * manifest copies the head's `txn=` records), so interleaved
    * unfenced mutations never re-open the replay window. Batch ids
    * must be monotonically increasing per stream id. Returns true when
    * the batch appended, false when the fence skipped a replay.
    */
  def appendExactlyOnce(table: String, df: DataFrame, streamId: String,
                        batchId: Long,
                        partitionBy: Seq[String] = Nil): Boolean = {
    require(streamId.nonEmpty && !streamId.contains('\n'),
      "streamId must be a non-empty single-line token")
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    retryCommit {
      val fence = lastTxn(table, streamId)
      if (fence >= batchId) false
      else {
        afterFenceRead() // test seam: zombie-writer TOCTOU window
        // the fence observed above is re-validated under appendBody's
        // CAS anchor: a zombie committing this (streamId, batchId)
        // between the two reads advances the fence, fails the check,
        // and the retry's fence read skips the replay — without it
        // the anchor would see the newer head, the CAS would succeed,
        // and the batch would land twice
        appendBody(table, df, partitionBy,
          txnUpdate = Some(streamId -> batchId),
          expectedFence = Some(streamId -> fence))
        true
      }
    }
  }

  /** INSERT ... ON CONFLICT DO NOTHING: append only new-keyed rows.
    * `tieBreak` makes intra-batch dedup deterministic.
    */
  def upsert(table: String, incoming: DataFrame, keys: Seq[String],
             tieBreak: Seq[String], partitionBy: Seq[String] = Nil): Unit =
    retryCommit {
      // the anti-join's table read happens INSIDE the retry: a retry
      // after a commit collision re-reads the winner's generation, so
      // already-inserted keys are seen and skipped
      if (!exists(table)) {
        appendBody(table, Upsert.dedupByKey(incoming, keys, tieBreak),
          partitionBy)
      } else {
        // frame built INSIDE the by-name argument: it pins the head
        // under appendBody's CAS anchor
        appendBody(table, {
          val existing = read(table)
          Upsert.newRows(existing, incoming, keys, tieBreak)
            .select(existing.columns.map(col).toIndexedSeq: _*)
        }, partitionBy)
      }
    }

  /** Exact-dedup append: insert only batch rows whose normalized-text
    * fingerprint has never been stored — cross-batch dedup backed by
    * the store, for corpora that grow by bulk drops. The survivor
    * table carries the batch
    * columns plus `fp`. The anti-join needs only the store's fp column
    * (column pruning reaches the parquet scan), so a daily drop against
    * a 100 TB corpus store shuffles one fingerprint column, not the
    * corpus. Returns the rows appended (intra-batch dups removed with a
    * min-`idCol` tie-break, cross-batch dups removed via the store).
    */
  def dedupAppend(table: String, batch: DataFrame, idCol: String,
                  textCol: String,
                  partitionBy: Seq[String] = Nil): DataFrame = {
    // fp is this sink's column: silently overwriting caller data that
    // already carries one would corrupt it AND poison the cross-batch
    // anti-join — reject loudly instead
    require(!batch.columns.contains("fp"),
      "dedupAppend reserves the column name 'fp' for the stored " +
        "fingerprint; rename the batch's existing 'fp' column first")
    retryCommit {
      // whole derivation inside the retry AND inside the by-name
      // argument: a collision means another writer's batch just
      // landed — its fingerprints must join the anti-join's store
      // side, or this batch re-inserts its dups; building the frame
      // under appendBody's CAS anchor closes the same window against
      // commits that land while THIS attempt derives
      var out: DataFrame = null
      try {
        appendBody(table, {
          val fped = batch.withColumn("fp",
            graft.functions.TextFunctions.fingerprint(col(textCol)))
          val novel =
            if (!exists(table))
              Upsert.dedupByKey(fped, Seq("fp"), Seq(idCol))
            else Upsert.newRows(read(table), fped, Seq("fp"), Seq(idCol))
              .select(fped.columns.map(col).toIndexedSeq: _*)
          // Snapshot BEFORE the append mutates this plan's own input
          // ([[TableStore.snapshot]] rationale): the returned frame
          // must never re-run the anti-join against the table it was
          // just appended to. Scoped persist: appends delete no files,
          // so recompute from the pinned splits after release still
          // yields the pre-append snapshot.
          out = TableStore.snapshot(novel)
          out
        }, partitionBy)
        out
      } finally if (out != null) out.unpersist(blocking = false)
    }
  }

  /** Rewrite `table` without rows whose key-tuple appears in `toDelete`.
    * With `partitionCols`, only partitions holding a matching key are
    * rewritten; partitions left empty by the delete drop out.
    */
  def deleteByKeys(table: String, toDelete: DataFrame, keys: Seq[String],
                   partitionCols: Seq[String] = Nil): Unit = retryCommit {
    if (partitionCols.isEmpty)
      rewriteBody(table, Upsert.antiDelete(read(table), toDelete, keys), Nil)
    else
      rewriteAffectedBody(table, partitionCols,
        hitParts = read(table)
          .join(toDelete.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(partitionCols.map(col): _*).distinct(),
        transform = Upsert.antiDelete(_, toDelete, keys))
  }

  /** PREDICATE DELETE with FILE-LEVEL targeting — `DELETE FROM table
    * WHERE pred` that moves only the bytes that might match: files
    * whose [[analyze]]d [min,max] window provably excludes the
    * predicate are NEVER read or rewritten (the GDPR-delete shape at
    * 100 TB: a keyed compliance delete on a clustered+analyzed table
    * touches the handful of files holding the key range, where
    * [[deleteByKeys]]'s unpartitioned path rewrites the table).
    * Rows where `pred` is NULL are KEPT — SQL DELETE semantics.
    *
    * The survivors of the affected files are written as new files and
    * ONE commit lists them in place of the affected ones; untouched
    * files keep their identity. Returns the number of affected
    * (rewritten) files; 0 = the stats proved nothing matched and
    * nothing was committed.
    *
    * With `partitionCols` the delete is partition-targeted instead
    * (the [[deleteByKeys]] machinery); returns affected partitions.
    */
  def deleteWhere(table: String, pred: org.apache.spark.sql.Column,
                  partitionCols: Seq[String] = Nil): Long = retryCommit {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val keep = not(coalesce(pred, lit(false)))
    predicateMutation(table, pred, partitionCols, "deleteWhere",
      _.filter(keep))
  }

  /** PREDICATE UPDATE with FILE-LEVEL targeting — `UPDATE table SET
    * c = v WHERE pred` through the same stats-pruned file replacement
    * as [[deleteWhere]]: files the predicate provably cannot touch
    * are never read. `assignments` values are cast to each column's
    * EXISTING type (a predicate update must never drift the table
    * schema); rows where `pred` is NULL are unchanged — SQL UPDATE
    * semantics. Returns affected files (or partitions with
    * `partitionCols`).
    */
  def updateWhere(table: String, pred: org.apache.spark.sql.Column,
                  assignments: Seq[(String, org.apache.spark.sql.Column)],
                  partitionCols: Seq[String] = Nil): Long = retryCommit {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    require(assignments.nonEmpty, "updateWhere: name at least one assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      "updateWhere: duplicate assignment targets")
    val schema = head(table).schema
    assignments.foreach { case (c, _) =>
      require(schema.exists(_.name == c),
        s"updateWhere: column $c not in ${schema.map(_.name).mkString(",")}")
    }
    val byName = assignments.toMap
    // ONE simultaneous projection, never a withColumn chain: every
    // assignment (and the predicate itself) must read the PRE-update
    // row — a sequential fold would evaluate later assignments against
    // partially-updated values (swap a↔b breaks, and an assignment
    // that falsifies the predicate hides it from later assignments)
    def apply(df: DataFrame): DataFrame = df.select(
      schema.map { f =>
        byName.get(f.name) match {
          case Some(v) =>
            when(coalesce(pred, lit(false)), v.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    predicateMutation(table, pred, partitionCols, "updateWhere", apply)
  }

  import TableStore.{MergeAction, MergeUpdate, MergeDelete}

  /** MERGE INTO — the canonical lakehouse upsert
    * (`WHEN MATCHED THEN UPDATE/DELETE, WHEN NOT MATCHED THEN
    * INSERT`), with FILE-LEVEL key-range targeting: only table files
    * whose analyzed `keyCol` window intersects the source's key range
    * are read and rewritten — files the stats prove key-disjoint
    * cannot contain a match, so a small keyed batch merged into a
    * clustered 100 TB table moves the files holding its key range,
    * not the table. Unmatched source rows are inserted (they ride the
    * same new files as the rewritten survivors — one commit CAS covers
    * updates, deletes, and inserts atomically). Source keys must be
    * unique and non-null (checked loudly: a duplicate source key makes
    * "the matched row's new value" ambiguous). Returns the number of
    * table files rewritten (0 = pure insert).
    *
    * `source` must carry `keyCol` plus every column a `MergeUpdate`
    * names; inserted rows take the table's schema with NULLs for
    * table columns the source lacks, and source-only columns are
    * rejected (schema drift — use [[appendEvolve]] deliberately).
    *
    * `txn = Some(streamId -> batchId)` makes the merge EXACTLY-ONCE
    * for replayed upserts (the [[appendExactlyOnce]] fence riding
    * this merge's own commit CAS): a replayed batch id at-or-below the
    * fence returns −1 and changes nothing.
    */
  def merge(table: String, source: DataFrame, keyCol: String,
            whenMatched: MergeAction,
            insertNotMatched: Boolean = true,
            txn: Option[(String, Long)] = None): Long = retryCommit {
    import org.apache.spark.sql.functions._
    // exactly-once fence (the appendExactlyOnce pattern): a replayed
    // batch id at-or-below the recorded fence is SKIPPED — the fence
    // advances atomically with the merge's own commit below, and the
    // value observed HERE is re-validated under the commit-CAS anchor
    // (expectedFence): a zombie writer committing the same batch
    // between this read and the anchor fails the check and the retry
    // skips the replay instead of landing it twice
    val expectedFence: Option[(String, Long)] =
      txn.map { case (streamId, batchId) =>
        require(streamId.nonEmpty && !streamId.contains('\n'),
          "merge: streamId must be a non-empty single-line token")
        val fence = lastTxn(table, streamId)
        if (fence >= batchId) return -1L
        streamId -> fence
      }
    if (txn.nonEmpty) afterFenceRead() // test seam: TOCTOU window
    if (!this.exists(table)) {
      // first batch of a CDC stream: nothing to match — the inserts
      // CREATE the table (source schema), fence riding the commit
      require(insertNotMatched,
        s"merge: table $table does not exist and insertNotMatched=false")
      // pin the RAW source once: the null-key audit and the write both
      // read the snapshot — the un-pinned plan never re-executes (a
      // non-deterministic source would otherwise fail the audit
      // spuriously, and a big one would compute twice)
      val srcAll = TableStore.eagerSnapshot(source)
      try {
        val src0 = srcAll.filter(col(keyCol).isNotNull)
        val n = src0.count()
        require(n == srcAll.count(),
          "merge: source has NULL keys — a NULL can never match and " +
            "its insert would be unkeyable; filter or fix upstream")
        require(src0.select(keyCol).distinct().count() == n,
          "merge: duplicate source keys — matched-row result is ambiguous")
        rewriteBody(table, src0, Nil, txnUpdate = txn,
          expectedFence = expectedFence)
      } finally srcAll.unpersist(blocking = false)
      return 0L
    }
    val tableSchema = head(table).schema
    require(tableSchema.exists(_.name == keyCol),
      s"merge: key $keyCol not in table")
    require(source.columns.contains(keyCol),
      s"merge: key $keyCol not in source")
    val extras = source.columns.filterNot(c =>
      tableSchema.exists(_.name == c))
    require(extras.isEmpty,
      s"merge: source columns ${extras.mkString(",")} not in table — " +
        "widen with appendEvolve first if intended")
    // shared columns must match types EXACTLY (the appendEvolve
    // stance): a silent cast turns un-castable source values into
    // NULLs OVER matched rows — corpus corruption, not coercion
    val typeConflicts = source.schema.flatMap { sf =>
      tableSchema.find(_.name == sf.name)
        .filter(_.dataType != sf.dataType)
        .map(tf => s"${sf.name}: table ${tf.dataType.simpleString} " +
          s"vs source ${sf.dataType.simpleString}")
    }
    require(typeConflicts.isEmpty,
      "merge: column type conflict(s) — cast in the source explicitly: " +
        typeConflicts.mkString("; "))
    // the key itself never needs updating (matched ⇒ equal), and after
    // the __mk rename the source no longer HAS keyCol — drop it here
    val updateCols = whenMatched match {
      case MergeUpdate(cols) =>
        cols.foreach(c => require(
          source.columns.contains(c) && tableSchema.exists(_.name == c),
          s"merge: update column $c must exist in source and table"))
        cols.filterNot(_ == keyCol)
      case MergeDelete => Nil
    }
    // pin the RAW source once: audits, key-range probe,
    // matched-transform, and insert all read the snapshot — the
    // un-pinned plan never re-executes (non-deterministic sources stay
    // consistent; big ones compute once per attempt)
    val srcAll = TableStore.eagerSnapshot(source)
    try {
      val src = srcAll.filter(col(keyCol).isNotNull)
      val nSrc = src.count()
      require(nSrc == srcAll.count(),
        "merge: source has NULL keys — a NULL can never match and its " +
          "insert would be unkeyable; filter or fix upstream")
      require(src.select(keyCol).distinct().count() == nSrc,
        "merge: duplicate source keys — matched-row result is ambiguous")
      if (nSrc == 0) return 0L
      val mm = src.agg(min(col(keyCol)), max(col(keyCol))).head()
      val rangePred = col(keyCol).between(lit(mm.get(0)), lit(mm.get(1)))
      // inserted rows take the table's column set, NULL-filling gaps
      def asTableRows(df: DataFrame): DataFrame = df.select(
        tableSchema.map { f =>
          if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
      def transform(affected: DataFrame): DataFrame = {
        // no forced broadcast: AQE picks the strategy from the actual
        // source size (a large CDC batch must be allowed to shuffle)
        val srcK = src.withColumnRenamed(keyCol, "__mk")
        val hit = srcK
        val joined = affected.join(hit,
          affected(keyCol) === hit("__mk"), "left")
        val survivors = whenMatched match {
          case MergeDelete =>
            // dataframe-qualified projection: joined carries BOTH
            // sides' same-named columns
            joined.filter(col("__mk").isNull)
              .select(tableSchema.map(f => affected(f.name)): _*)
          case MergeUpdate(_) =>
            val updated = tableSchema.map { f =>
              if (updateCols.contains(f.name))
                when(col("__mk").isNotNull,
                  hit(f.name).cast(f.dataType))
                  .otherwise(affected(f.name)).as(f.name)
              else affected(f.name)
            }
            joined.select(updated: _*)
        }
        if (!insertNotMatched) survivors
        else {
          // unmatched = source keys absent from the AFFECTED rows;
          // complete because pruned files are stats-proven key-disjoint
          val matchedKeys = affected.select(col(keyCol).as("__mk"))
          val inserts = srcK.join(matchedKeys, Seq("__mk"), "left_anti")
            .withColumnRenamed("__mk", keyCol)
          survivors.unionByName(asTableRows(inserts))
        }
      }
      predicateMutation(table, rangePred, Nil, "merge",
        transform, txnUpdate = txn, commitOnEmpty = insertNotMatched,
        expectedFence = expectedFence)
    } finally srcAll.unpersist(blocking = false)
  }

  /** The shared stats-targeted mutation engine behind [[deleteWhere]] /
    * [[updateWhere]] / [[merge]]: select affected files by the
    * predicate's stats window, write `transform`(affected rows) as new
    * files, and commit the file list with the new files in place of
    * the affected ones. On an analyzed table the same commit carries
    * stats for every listed file that has none (the new files, and
    * any appended since the last analyze), on the columns the table's
    * stats already cover — the NEXT targeted mutation would otherwise
    * conservatively rewrite every statless file.
    */
  private def predicateMutation(table: String,
                                pred: org.apache.spark.sql.Column,
                                partitionCols: Seq[String], op: String,
                                transform: DataFrame => DataFrame,
                                txnUpdate: Option[(String, Long)] = None,
                                commitOnEmpty: Boolean = false,
                                expectedFence: Option[(String, Long)] = None)
      : Long = {
    require(this.exists(table), s"$op: table $table does not exist")
    require(txnUpdate.isEmpty || partitionCols.isEmpty,
      s"$op: txn fences ride the file-level commit path only")
    if (partitionCols.nonEmpty) {
      // hit-partition frame passed BY-NAME: it pins the head under
      // rewriteAffectedBody's CAS anchor, never before it
      rewriteAffectedBody(table, partitionCols,
        readWhere(table, pred)
          .select(partitionCols.map(col): _*).distinct(),
        transform)
    } else {
      // the CAS anchor: every state read below derives from this head,
      // and a commit landing after it fails the CAS and re-derives the
      // whole mutation (no silently skipped rows, no duplicate merge
      // inserts)
      val head0 = head(table)
      checkFence(table, Some(head0), expectedFence)
      val all = head0.paths
      if (all.isEmpty && !commitOnEmpty) return 0L
      val affected =
        if (head0.stats.isEmpty) all
        else all.filter(mayMatch(head0.stats,
          conditions(scan(table, head0, all).filter(pred))))
      if (affected.isEmpty && !commitOnEmpty) return 0L
      // `commitOnEmpty` with no affected files still runs transform
      // (over zero rows) — merge's insert-only case commits its
      // inserts under THIS anchor, so a key committed concurrently can
      // never be insert-duplicated by a stale no-match decision. A
      // partitioned layout is preserved: the new files are written
      // with the table's partition columns.
      val affectedFrame =
        if (affected.isEmpty) read(table).limit(0)
        else scan(table, head0, affected)
      val incoming = stage(table, transform(affectedFrame),
        head0.partitionCols, compact = false)
      val gone = affected.toSet
      val next = head0.copy(
        files = head0.files.filterNot(f => gone(f._1)) ++ incoming)
      val statsCols = head0.stats.values.flatMap(_.cols.keys).toSeq.distinct
      val statless = next.paths.filterNot(head0.stats.contains)
      val fresh =
        if (statsCols.isEmpty || statless.isEmpty)
          Map.empty[String, FileStats.PerFile]
        else statsOf(scan(table, next, statless), table, statsCols)
      commit(table, Some(head0), next.files, head0.partitionCols,
        head0.schema, incoming, txnUpdate, stats = fresh)
      affected.size.toLong
    }
  }

  /** Flag flip: set `flagCol = value` on rows whose key is in `keysDf`
    * (reference: summarized=1 / vectorized=1 rewrites). With
    * `partitionCols`, only the partitions containing a keyed row are
    * rewritten.
    */
  def updateFlag(table: String, keysDf: DataFrame, keys: Seq[String],
                 flagCol: String, value: Int,
                 partitionCols: Seq[String] = Nil): Unit = retryCommit {
    import org.apache.spark.sql.functions._
    def flip(df: DataFrame): DataFrame =
      df.join(keysDf.select(keys.map(col): _*).distinct()
        .withColumn("__hit", lit(1)), keys, "left")
        .withColumn(flagCol,
          when(col("__hit").isNotNull, lit(value)).otherwise(col(flagCol)))
        .drop("__hit")
    if (partitionCols.isEmpty) rewriteBody(table, flip(read(table)), Nil)
    else rewriteAffectedBody(table, partitionCols,
      hitParts = read(table)
        .join(keysDf.select(keys.map(col): _*).distinct(), keys, "left_semi")
        .select(partitionCols.map(col): _*).distinct(),
      transform = flip)
  }

  /** Small-file compaction — the operational companion to the mutation
    * paths: every append/upsert batch writes its own part-files, so a
    * frequently-updated table degrades into thousands of tiny files
    * whose listing and task-per-file overhead dominate scans at 100 TB.
    * Partitioned tables rewrite ONLY the partitions holding more than
    * `maxFiles` part-files (found with one metadata-cheap
    * `input_file_name` aggregation), one output file per partition
    * value, through [[rewriteAffected]] — contents unchanged,
    * untouched partitions keep their files. Unpartitioned tables
    * rewrite into `targetFiles` files via [[rewrite]].
    *
    * `sortBy` additionally CLUSTERS each written file on the given
    * columns (`sortWithinPartitions` — no extra exchange beyond the
    * compaction's own repartition): parquet writes per-row-group
    * min/max statistics, so a point or range predicate on a sorted
    * column skips whole row groups at scan time instead of decoding
    * them — at 100 TB, sort-on-compact is the difference between a
    * key lookup reading one row group and reading the table. Contents
    * are unchanged (a sort is a permutation; spec-verified).
    */
  def compact(table: String, partitionCols: Seq[String] = Nil,
              maxFiles: Int = 1, targetFiles: Int = 8,
              sortBy: Seq[String] = Nil): Unit = retryCommit {
    import org.apache.spark.sql.functions._
    // the dynamic-partition writer inserts its own task-local sort on
    // the partition columns; prefixing them keeps that sort satisfied
    // so the sortBy clustering SURVIVES the write (without the prefix
    // the writer's re-sort scrambles it)
    def clustered(df: DataFrame): DataFrame =
      if (sortBy.isEmpty) df
      else df.sortWithinPartitions(
        (partitionCols ++ sortBy).map(col): _*)
    if (partitionCols.isEmpty) {
      rewriteBody(table, clustered(read(table).repartition(targetFiles)),
        Nil, preSized = true)
    } else {
      // input_file_name() is nondeterministic, so it must be projected
      // before the aggregate; the scan reads no data columns (footer
      // metadata + partition values only)
      // repartition BY the partition columns: each partition value
      // lands wholly in one task, so each rewritten partition gets one
      // file; the hit frame is by-name — it pins the body's CAS anchor
      rewriteAffectedBody(table, partitionCols,
        read(table)
          .select(partitionCols.map(col) :+ input_file_name().as("__f"): _*)
          .groupBy(partitionCols.map(col): _*)
          .agg(countDistinct(col("__f")).as("__nf"))
          .filter(col("__nf") > maxFiles)
          .select(partitionCols.map(col): _*),
        transform =
          df => clustered(df.repartition(partitionCols.map(col): _*)))
      ()
    }
  }

  /** Z-ORDER clustering compaction (Delta's OPTIMIZE ZORDER BY shape,
    * [[ZOrder]]): rewrite the table into `targetFiles` files
    * range-partitioned and sorted on the Morton interleave of
    * `zCols`, so EVERY interleaved dimension gets bounded per-file
    * [min,max] windows — run [[analyze]] on the same columns after and
    * [[readWhere]] predicates on any one of them prune files, where a
    * plain `compact(sortBy)` clusters only its leading column. One
    * extra exchange vs `compact`: the range partition on the z-value
    * (which IS the clustering). The z-value is a transient sort key —
    * projected away before the write, so the stored schema is
    * unchanged; contents are a permutation (spec-verified). For
    * PARTITIONED tables pass `partitionCols`: clustering applies
    * within each partition and untouched partition semantics follow
    * [[compact]]'s partition-targeted rewrite.
    */
  def compactZOrder(table: String, zCols: Seq[String],
                    targetFiles: Int = 8,
                    partitionCols: Seq[String] = Nil): Unit = retryCommit {
    import org.apache.spark.sql.functions._
    def clustered(df: DataFrame): DataFrame = {
      val z = ZOrder.zColumn(df, zCols)
      val zdf = df.withColumn("__graft_z", z)
      val parted =
        if (partitionCols.isEmpty)
          zdf.repartitionByRange(targetFiles, col("__graft_z"))
        else zdf.repartition(partitionCols.map(col): _*)
      // the dynamic-partition writer re-sorts on partition columns;
      // prefixing them keeps the z clustering intact (same lesson as
      // compact(sortBy))
      parted.sortWithinPartitions(
        (partitionCols :+ "__graft_z").map(col): _*)
        .drop("__graft_z")
    }
    if (partitionCols.isEmpty)
      rewriteBody(table, clustered(read(table)), Nil, preSized = true)
    else {
      rewriteAffectedBody(table, partitionCols,
        read(table).select(partitionCols.map(col): _*).distinct(),
        transform = clustered)
      ()
    }
  }

  /** Full-table rewrite: the frame's files are written into a fresh
    * commit directory and the commit lists ONLY them, so the table is
    * wholly the old generation until the CAS and wholly the new one
    * after it — never missing, never mixed.
    *
    * Returns the COMMITTED generation from this rewrite's own commit
    * CAS (see [[append]] — a post-call `generations().last` can race
    * a concurrent writer; the returned value cannot).
    */
  def rewrite(table: String, df: DataFrame,
              partitionBy: Seq[String] = Nil): Long =
    // preSized: a public rewrite loads EXACTLY the caller's frame —
    // its partitioning (a repartitionByRange clustering, a bucketing
    // precursor) is deliberate layout, not accidental fragmentation,
    // so write-time compaction keeps out; append/upsert/merge layouts
    // are store-owned and do compact
    retryCommit(rewriteBody(table, df, partitionBy, preSized = true))

  /** `df` BY-NAME for the same reason as [[appendBody]]: a rewrite
    * derived from the table's own state (deleteByKeys, updateFlag,
    * compact) must pin the head AFTER the CAS anchor.
    */
  private def rewriteBody(table: String, df: => DataFrame,
                          partitionBy: Seq[String],
                          txnUpdate: Option[(String, Long)] = None,
                          expectedFence: Option[(String, Long)] = None,
                          preSized: Boolean = false,
                          fold: Option[(String, Set[String])] = None): Long = {
    // CAS anchor BEFORE the write: the write EXECUTES the caller's
    // frame — state reads after this line are covered by the CAS,
    // reads before it are not
    val head0 = readManifest(table)
    checkFence(table, head0, expectedFence)
    val frame = df // by-name: construct ONCE (pins the head here)
    // callers that SIZE their output deliberately (compact/z-order's
    // targetFiles) opt out of write-time compaction
    val files = stage(table, frame, partitionBy, compact = !preSized)
    commit(table, head0, files, partitionBy,
      FileScan.nullable(frame.schema), files, txnUpdate, fold = fold)
  }

  /** Rewrite ONLY the partitions in `hitParts`: the transformed rows
    * of those partitions are written as new files and the commit lists
    * them in place of every file of the hit partitions. The live table
    * is never an input AND an output of the same job (the new files go
    * to their own commit directory), so no lineage break is needed.
    * Hit partitions the transform emptied drop out; untouched
    * partitions keep their files; rows the transform moves into other
    * partition values (a flag flip ON a partition column) land next to
    * those partitions' existing files.
    */
  private[sources] def rewriteAffected(table: String,
                                       partitionCols: Seq[String],
                                       hitParts: => DataFrame,
                                       transform: DataFrame => DataFrame): Unit =
    retryCommit {
      rewriteAffectedBody(table, partitionCols, hitParts, transform); ()
    }

  /** `hitParts` BY-NAME ([[appendBody]]'s anchor rule). Returns the
    * number of affected partitions (0 = no-op).
    */
  private def rewriteAffectedBody(table: String,
                                  partitionCols: Seq[String],
                                  hitParts: => DataFrame,
                                  transform: DataFrame => DataFrame): Long = {
    // CAS anchor BEFORE the hit-partition collect and the write: both
    // read table state, and a commit landing after either must fail
    // the CAS, not slide under it
    val head0 = head(table)
    require(head0.partitionCols == partitionCols,
      s"table $table is partitioned by [${head0.partitionCols.mkString("/")}]," +
        s" not [${partitionCols.mkString("/")}]")
    val affected = hitParts.collect()
    if (affected.isEmpty) return 0L
    val affectedDf = broadcast(
      spark.createDataFrame(java.util.Arrays.asList(affected: _*),
        hitParts.schema))
    val updated = transform(
      read(table).join(affectedDf, partitionCols, "left_semi"))
    val incoming = stage(table, updated, partitionCols, compact = false)
    // every file of a hit partition leaves the list: compare the typed
    // partition values the read itself resolves, not path strings
    val toRow =
      CatalystTypeConverters.createToScalaConverter(head0.partitionSchema)
    val values = partitionValues(table, head0.paths.map(partitionDir),
      Some(head0.partitionSchema))._2
    val hit = affected.toSet[Row]
    val kept = head0.files.filterNot { case (rel, _) =>
      hit(toRow(values(partitionDir(rel))).asInstanceOf[Row])
    }
    commit(table, Some(head0), kept ++ incoming, partitionCols, head0.schema,
      incoming)
    affected.length.toLong
  }

  // ------------------------------------------------- file statistics

  /** Compute per-FILE min/max/null-count statistics for `statsCols`
    * and commit them — the store-level data-skipping index
    * ([[FileStats]]; Delta/Iceberg's file-stats shape: a file's stats
    * ride the manifest that lists it). One metadata-bounded aggregate
    * job: the scan groups by `_metadata.file_path`, so the collected
    * result is one row per data file regardless of table size. The
    * commit lists the unchanged file set with the stats attached, so
    * an analyze uses one retention slot; a concurrent commit makes it
    * re-derive against the new head like any mutation. Later commits
    * carry each kept file's stats forward and drop a replaced file's
    * with it; files appended after the analyze carry none and are
    * scanned unconditionally — staleness degrades SKIPPING, never
    * correctness. Timestamp columns are projected to epoch micros
    * before aggregation (monotonic; assumes the engine's UTC-pinned
    * session for NTZ). Supported column types: integral, float/double
    * (non-finite boundaries drop that file's entry — conservative),
    * decimal, string, boolean, date, timestamp. Returns the committed
    * generation.
    */
  def analyze(table: String, statsCols: Seq[String]): Long =
    analyze(table, statsCols, Nil)

  /** [[analyze]] with per-file BLOOM filters on `bloomCols` (⊆
    * `statsCols`): the equality/IN skipping complement to [min,max]
    * ranges. Interleaved or high-entropy keys give every file the same
    * wide range — no range ever prunes a point lookup — while a bloom
    * proves "this exact value is not in this file" with NO false
    * negatives, so `readWhere(key === x)` launches tasks only for the
    * handful of files that might hold x (the 100 TB point-read shape).
    * `bloomBits` sizes each filter (k = 4 double-hashed probes;
    * ~1% false-positive rate at bits/12 distinct values per file —
    * false positives cost I/O, never rows). Cost: `bloomBits/4` hex
    * characters per (file, col) in the manifest and k bounded
    * collect_sets riding the same one stats job.
    */
  def analyze(table: String, statsCols: Seq[String],
              bloomCols: Seq[String], bloomBits: Int = 8192): Long = {
    require(statsCols.nonEmpty, "analyze: name at least one column")
    retryCommit {
      val m = head(table)
      commitStats(table, m, m.paths, statsCols, bloomCols, bloomBits)
    }
  }

  /** Commit `m`'s unchanged file list with fresh stats for `rels`. */
  private def commitStats(table: String, m: Manifest, rels: Seq[String],
                          statsCols: Seq[String], bloomCols: Seq[String],
                          bloomBits: Int): Long =
    commit(table, Some(m), m.files, m.partitionCols, m.schema, Nil,
      stats = statsOf(scan(table, m, rels), table, statsCols, bloomCols,
        bloomBits))

  /** The stats aggregation behind [[analyze]]/[[analyzeIncremental]]:
    * one job over `df` grouped by `_metadata.file_path`, collected as
    * one row per data file.
    */
  private def statsOf(df: DataFrame, table: String,
                      statsCols: Seq[String],
                      bloomCols: Seq[String] = Nil,
                      bloomBits: Int = 8192)
      : Map[String, FileStats.PerFile] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = df.schema
    statsCols.foreach(c => require(schema.exists(_.name == c),
      s"analyze: column $c not in ${schema.map(_.name).mkString(",")}"))
    require(bloomCols.forall(statsCols.contains),
      s"analyze: bloomCols must be a subset of statsCols — extra: " +
        bloomCols.filterNot(statsCols.contains).mkString(","))
    require(bloomBits >= 64 && bloomBits % 64 == 0,
      s"analyze: bloomBits must be a positive multiple of 64, got $bloomBits")
    val bloomK = 4
    def normCol(c: String) = schema(schema.fieldIndex(c)).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(c).cast(LongType)
      case FloatType  => col(c).cast(DoubleType)
      case DoubleType => col(c)
      case _: DecimalType | StringType | BooleanType => col(c)
      case DateType => datediff(col(c), to_date(lit("1970-01-01")))
      case TimestampType | TimestampNTZType =>
        unix_micros(col(c).cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"analyze: unsupported stats type ${other.simpleString} for $c")
    }
    // exact per-file column totals for SUM-SAFE types only: integral
    // sums in decimal(38,0), decimals widened to precision 38 at
    // their own scale. Float/double sums are order-dependent (a
    // metadata sum would not equal a re-scan), strings/bools/
    // dates/timestamps have no meaningful total — no sum recorded,
    // and aggWhere degrades those columns to scanning.
    def sumCol(c: String): Option[org.apache.spark.sql.Column] =
      schema(schema.fieldIndex(c)).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(sum(col(c).cast(DecimalType(38, 0))))
        case d: DecimalType =>
          Some(sum(col(c).cast(DecimalType(38, d.scale))))
        case _ => None
      }
    val aggs = statsCols.flatMap { c =>
      Seq(min(normCol(c)).as(s"__min_$c"), max(normCol(c)).as(s"__max_$c"),
        sum(col(c).isNull.cast(LongType)).as(s"__null_$c")) ++
        sumCol(c).map(_.as(s"__sum_$c"))
    }
    // bloom bit positions as k bounded collect_sets per column, riding
    // the SAME stats job: pos_i = (h1 + i·h2) mod m over the two
    // xxhash64 streams FileStats.bloomHashes replays driver-side.
    // Null rows hash to a constant position — one spurious bit, which
    // only widens false positives (never a false negative). Each
    // inner pmod is < m, so the sum stays far from Long overflow
    // (ANSI-safe).
    val bloomAggs = bloomCols.flatMap { c =>
      val h1 = pmod(xxhash64(normCol(c)), lit(bloomBits.toLong))
      val h2 = pmod(xxhash64(lit(FileStats.BloomSalt), normCol(c)),
        lit(bloomBits.toLong))
      (0 until bloomK).map(i => collect_set(
        pmod(h1 + lit(i.toLong) * h2, lit(bloomBits.toLong)).cast(IntegerType))
        .as(s"__bloom_${i}_$c"))
    }
    val perFile = df.withColumn("__path", col("_metadata.file_path"))
      .groupBy("__path")
      .agg(count(lit(1)).as("__rows"), (aggs ++ bloomAggs): _*)
      .collect() // one row per data file: metadata-scale by construction
    // URI-path compare: `_metadata.file_path` renders `file:///x` where
    // makeQualified renders `file:/x` — same location, different
    // authority spelling; the path component is the stable key
    val base = fsOf(hpath(table)).makeQualified(hpath(table)).toUri.getPath
    def comparable(v: Any): Option[Any] = v match {
      case null                 => None
      case l: java.lang.Long    => Some(new java.math.BigDecimal(l))
      case i: java.lang.Integer => Some(new java.math.BigDecimal(
        i.longValue()))
      case d: java.lang.Double =>
        if (d.isNaN || d.isInfinite) None
        else Some(new java.math.BigDecimal(d.doubleValue()))
      case b: java.math.BigDecimal => Some(b)
      case s: String               => Some(s)
      case b: java.lang.Boolean    => Some(b)
      case other => throw new IllegalStateException(
        s"analyze: unexpected aggregate value ${other.getClass}")
    }
    val stats = perFile.flatMap { r =>
      val full = new Path(r.getAs[String]("__path")).toUri.getPath
      if (!full.startsWith(base + "/")) None // foreign base: never prune
      else {
        val rel = full.stripPrefix(base + "/")
        val rows = r.getAs[Long]("__rows")
        def bloomOf(c: String): Option[FileStats.Bloom] =
          if (!bloomCols.contains(c)) None
          else {
            val words = new Array[Long](bloomBits / 64)
            (0 until bloomK).foreach { i =>
              r.getAs[scala.collection.Seq[Int]](s"__bloom_${i}_$c")
                .foreach(p => words(p >> 6) |= 1L << (p & 63))
            }
            Some(FileStats.Bloom(bloomBits, bloomK, words))
          }
        def sumOf(c: String): Option[java.math.BigDecimal] =
          if (!r.schema.exists(_.name == s"__sum_$c")) None
          else Option(r.getAs[java.math.BigDecimal](s"__sum_$c"))
            .orElse {
              // SUM is NULL for an all-null file (exact total 0) but
              // ALSO on decimal-38 overflow under non-ANSI Sum —
              // recording 0 there would silently corrupt aggWhere
              // totals, so only the provable all-null case maps to 0
              // and an overflowed file carries NO sum (demotes to
              // scanning, the degrade-I/O-never-totals contract)
              if (r.getAs[Long](s"__null_$c") == rows)
                Some(java.math.BigDecimal.ZERO)
              else None
            }
        val cols = statsCols.flatMap { c =>
          val nulls = r.getAs[Long](s"__null_$c")
          (comparable(r.getAs[Any](s"__min_$c")),
            comparable(r.getAs[Any](s"__max_$c"))) match {
            case (Some(mn), Some(mx)) =>
              Some(c -> FileStats.ColStats(rows, nulls, Some(mn), Some(mx),
                bloomOf(c), sumOf(c)))
            case (None, None) if nulls == rows => // all-null: prunable
              Some(c -> FileStats.ColStats(rows, nulls, None, None,
                None, sumOf(c)))
            case _ => None // non-finite boundary: no stats for this col
          }
        }.toMap
        Some(rel -> FileStats.PerFile(rows, cols))
      }
    }.toMap
    stats
  }

  /** INCREMENTAL [[analyze]]: compute stats ONLY for listed files
    * that have none yet (appended since the last analyze) and commit
    * them — the steady-state maintenance call for an append-heavy
    * corpus: cost scales with the NEW bytes, not the table. With no
    * stats at all it is a full [[analyze]]. `statsCols` must match the
    * previous analyze's columns for uniform skipping (not enforced —
    * files analyzed with fewer columns simply prune on fewer;
    * correctness is unaffected either way). No-op when nothing is new:
    * nothing is committed. Returns the head generation afterwards.
    */
  def analyzeIncremental(table: String, statsCols: Seq[String]): Long =
    analyzeIncremental(table, statsCols, Nil)

  /** [[analyzeIncremental]] with BLOOM filters on `bloomCols` for the
    * new files (see the bloom [[analyze]] overload); previously
    * analyzed files keep whatever stats (with or without blooms) they
    * already have — skipping uniformity is per-file, correctness is
    * unaffected either way.
    */
  def analyzeIncremental(table: String, statsCols: Seq[String],
                         bloomCols: Seq[String],
                         bloomBits: Int = 8192): Long = {
    require(statsCols.nonEmpty, "analyzeIncremental: name at least one column")
    retryCommit {
      val m = head(table)
      val missing = m.paths.filterNot(m.stats.contains)
      if (missing.isEmpty && m.stats.nonEmpty) m.seq
      else commitStats(table, m, missing, statsCols, bloomCols, bloomBits)
    }
  }

  /** Whether a file may hold rows matching every one of `conds`: only
    * a file whose stats prove a condition empty is ruled out.
    */
  private def mayMatch(stats: Map[String, FileStats.PerFile],
                       conds: Seq[Expression])(rel: String): Boolean =
    stats.get(rel).forall(pf => conds.forall(c => FileStats.mayMatch(c, pf)))

  /** The predicate's RESOLVED, constant-folded form: analyze+optimize
    * the filtered frame (driver-side, no job) and collect every Filter
    * condition — typed literals, no unresolved nodes, the optimizer's
    * implied-IsNotNull conjuncts included. A predicate the optimizer
    * folds away entirely leaves no Filter: no pruning.
    */
  private def conditions(filtered: DataFrame) =
    filtered.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }

  /** Predicate read with FILE-LEVEL skipping: files whose analyzed
    * [min,max]/null stats prove the predicate empty are excluded from
    * the scan — no task, no footer read — and the full predicate is
    * re-applied to the survivors, so pruning is invisible to results.
    * Files without stats (appended since the last [[analyze]], or a
    * column the analyze didn't cover) are always scanned. With no
    * stats this is exactly `read(table).filter(pred)`.
    */
  def readWhere(table: String, pred: org.apache.spark.sql.Column): DataFrame = {
    val m = head(table)
    val plain = scan(table, m, m.paths).filter(pred)
    if (m.stats.isEmpty) return plain
    val kept = m.paths.filter(mayMatch(m.stats, conditions(plain)))
    if (kept.size == m.files.size) plain
    else if (kept.isEmpty) plain.limit(0) // no file can match
    else scan(table, m, kept).filter(pred)
  }

  /** METADATA-ONLY predicate AGGREGATES — (count, sum, min, max) of
    * an integral/decimal `valueCol` under `pred`: files the file
    * stats PROVE all-matching contribute their recorded
    * row count, exact column total, and [min,max] with ZERO I/O;
    * provably-empty files are skipped; only BOUNDARY files (range
    * edges) are read, filtered, and aggregated — so a time-window
    * revenue total over a clustered 100 TB table touches the two edge
    * files, not the window. A proved-all file whose stats lack the
    * sum field (or whose `valueCol` was not analyzed) is demoted to
    * scanning — staleness degrades I/O, never totals. Falls back to a
    * full filtered aggregate when the table has no stats or
    * the optimizer folded the predicate away (no Filter conjuncts to
    * prove against — a literal-true and a literal-false predicate
    * both land there). SUM/MIN/MAX skip NULLs; COUNT counts matching
    * ROWS. Float/double value columns
    * are rejected loudly: their sum is order-dependent, a metadata
    * total could not be certified against a scan.
    */
  def aggWhere(table: String, pred: org.apache.spark.sql.Column,
               valueCol: String): TableStore.AggWhere =
    aggWhereDetail(table, pred, valueCol)._1

  /** [[aggWhere]] + file accounting for audits and specs:
    * (agg, provedAll, provedNone, scanned).
    */
  private[graft] def aggWhereDetail(
      table: String, pred: org.apache.spark.sql.Column,
      valueCol: String): (TableStore.AggWhere, Int, Int, Int) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val m = head(table)
    val schema = m.schema
    require(schema.exists(_.name == valueCol),
      s"aggWhere: column $valueCol not in " +
        schema.map(_.name).mkString(","))
    val scale = schema(schema.fieldIndex(valueCol)).dataType match {
      case ByteType | ShortType | IntegerType | LongType => 0
      case d: DecimalType => d.scale
      case other => throw new IllegalArgumentException(
        s"aggWhere: $valueCol is ${other.simpleString}; only " +
          "integral/decimal columns have exact order-independent sums")
    }
    val dt = DecimalType(38, scale)
    def aggOf(df: DataFrame): TableStore.AggWhere = {
      val r = df.agg(count(lit(1)), sum(col(valueCol).cast(dt)),
        min(col(valueCol).cast(dt)), max(col(valueCol).cast(dt))).head()
      val mn = Option(r.getAs[java.math.BigDecimal](2))
      val sm = Option(r.getAs[java.math.BigDecimal](1))
      // non-null values present but a NULL sum = decimal-38 overflow
      // under non-ANSI Sum; 0 would be silently wrong — fail loudly
      if (sm.isEmpty && mn.isDefined) throw new ArithmeticException(
        s"aggWhere($table, $valueCol): SUM overflowed decimal(38) " +
          "during the scan — the total is not representable exactly")
      TableStore.AggWhere(r.getLong(0),
        sm.getOrElse(java.math.BigDecimal.ZERO), mn,
        Option(r.getAs[java.math.BigDecimal](3)))
    }
    val plain = scan(table, m, m.paths).filter(pred)
    def fallback = (aggOf(plain), 0, 0, -1)
    val stats = m.stats
    if (stats.isEmpty) return fallback
    val files = m.paths
    if (files.isEmpty)
      return (TableStore.AggWhere(0L, java.math.BigDecimal.ZERO, None,
        None), 0, 0, 0)
    val conds = conditions(plain)
    if (conds.isEmpty) return fallback
    // a proved-all file is metadata-usable only with a recorded sum
    // for valueCol (all-null files carry sum 0)
    def metaUsable(rel: String): Boolean =
      stats.get(rel).exists(pf => pf.cols.get(valueCol)
        .exists(_.sum.isDefined) &&
        conds.forall(c => FileStats.allMatch(c, pf)))
    val (provedAll, rest) = files.partition(metaUsable)
    val (scanned, provedNone) = rest.partition(mayMatch(stats, conds))
    val meta = provedAll.foldLeft(TableStore.AggWhere(0L,
      java.math.BigDecimal.ZERO, None, None)) { (acc, rel) =>
      val pf = stats(rel); val cs = pf.cols(valueCol)
      def bd(v: Option[Any]) = v.collect {
        case b: java.math.BigDecimal => b
      }
      TableStore.AggWhere(acc.count + pf.rows,
        acc.sum.add(cs.sum.get),
        TableStore.minOpt(acc.min, bd(cs.min)),
        TableStore.maxOpt(acc.max, bd(cs.max)))
    }
    val scanAgg =
      if (scanned.isEmpty)
        TableStore.AggWhere(0L, java.math.BigDecimal.ZERO, None, None)
      else aggOf(scan(table, m, scanned).filter(pred))
    (TableStore.AggWhere(meta.count + scanAgg.count,
      meta.sum.add(scanAgg.sum),
      TableStore.minOpt(meta.min, scanAgg.min),
      TableStore.maxOpt(meta.max, scanAgg.max)),
      provedAll.size, provedNone.size, scanned.size)
  }

  // ---------------------------------------------- incremental rollups

  private def rollupKey(src: String) = s"__rollup:$src"

  /** INCREMENTAL AGGREGATE MAINTENANCE — keep `rollup` equal to
    * `src.groupBy(groupCols).agg(...)` by folding in ONLY the files
    * appended to `src` since the last refresh: at 100 TB the corpus
    * rescan is the cost that kills scheduled rollups, and every agg
    * kind here (`count`/`sum`/`min`/`max`) is MERGEABLE, so
    * new-files-partial + previous-rollup re-aggregated is exactly the
    * full recompute (spec-pinned). `aggs` = (outCol, kind, srcCol)
    * with kind ∈ count|sum|min|max (count ignores srcCol).
    *
    * Protocol (exactly-once under crashes AND concurrent refreshes,
    * the txn-fence shape): the whole derivation — fence read, folded
    * list, delta — runs inside the commit retry, and the fence value
    * it observed is RE-VALIDATED under the rewrite's CAS anchor
    * (`expectedFence`), so two overlapping refreshes can never both
    * fold the same delta (the loser's fence check fails and it
    * re-derives against the winner's state, normally a no-op). The
    * cumulative folded-file list rides the rollup's manifest beside
    * the fence and advances in the SAME commit CAS, so a crash leaves
    * either both old or both new. A REWRITE/compaction of `src` (folded
    * file names vanish from its inventory) triggers a full rebuild
    * from the whole source — file identity is the incremental
    * contract, and silently treating renamed files as new would
    * double-count every row. Returns the number of source files folded
    * this call (0 = no-op).
    */
  def refreshRollup(src: String, rollup: String, groupCols: Seq[String],
                    aggs: Seq[(String, String, String)]): Long = {
    import org.apache.spark.sql.functions._
    require(groupCols.nonEmpty, "refreshRollup: name group columns")
    require(aggs.nonEmpty, "refreshRollup: name at least one aggregate")
    val kinds = Set("count", "sum", "min", "max")
    aggs.foreach { case (o, k, _) => require(kinds(k),
      s"refreshRollup: unsupported kind '$k' for $o (count|sum|min|max)") }
    require(this.exists(src),
      s"refreshRollup: source table $src does not exist")
    retryCommit {
    val srcHead = head(src)
    val current = srcHead.paths.toSet
    val n = lastTxn(rollup, rollupKey(src))
    afterFenceRead() // test seam: concurrent-refresh TOCTOU window
    // read from the same memoized head as the fence
    val folded = readManifest(rollup).flatMap(_.folds.get(src))
      .getOrElse(Set.empty[String])
    // src rewritten (a folded file vanished): rebuild
    val rebuild = (folded -- current).nonEmpty
    val base = if (rebuild) Set.empty[String] else folded
    val newFiles = (current -- base).toSeq.sorted
    if (newFiles.isEmpty && !rebuild && n >= 0) 0L
    else {
    def widenSum(c: String): org.apache.spark.sql.Column =
      srcHead.schema.find(_.name == c).map(_.dataType) match {
        case Some(d: org.apache.spark.sql.types.DecimalType) =>
          col(c).cast(org.apache.spark.sql.types.DecimalType(38, d.scale))
        case _ => col(c)
      }
    val partialAggs = aggs.map {
      case (o, "count", _) => count(lit(1)).as(o)
      case (o, "sum", c)   => sum(widenSum(c)).as(o)
      case (o, "min", c)   => min(col(c)).as(o)
      case (o, "max", c)   => max(col(c)).as(o)
    }
    val mergeAggs = aggs.map {
      case (o, "count", _) => sum(col(o)).as(o)
      case (o, "sum", _)   => sum(col(o)).as(o)
      case (o, "min", _)   => min(col(o)).as(o)
      case (o, "max", _)   => max(col(o)).as(o)
    }
    def partial(df: DataFrame): DataFrame =
      df.groupBy(groupCols.map(col): _*)
        .agg(partialAggs.head, partialAggs.tail: _*)
    val delta =
      if (newFiles.isEmpty) None
      else Some(partial(scan(src, srcHead, newFiles)))
    def prior =
      if (rebuild || n < 0 || !this.exists(rollup)) None
      else Some(read(rollup))
    def combined = (prior, delta) match {
      case (Some(p), Some(d)) =>
        p.unionByName(d).groupBy(groupCols.map(col): _*)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
      case (None, Some(d)) =>
        // count partials are already final; re-merge is identity but
        // normalizes output types with the union path
        d.groupBy(groupCols.map(col): _*)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
      case (Some(p), None) => p // rebuild with zero files cannot happen
      case (None, None)    => partial(read(src).limit(0))
    }
    rewriteBody(rollup, combined, Nil,
      txnUpdate = Some(rollupKey(src) -> (n + 1)),
      expectedFence = Some(rollupKey(src) -> n),
      fold = Some(src -> (base ++ newFiles)))
    newFiles.size.toLong
    }
    }
  }

  // ------------------------------------------- generation retention
  //
  // Opt-in time travel (`retainGenerations > 0`): the retained
  // manifests ARE the snapshots. Each lists its generation's complete
  // file set, and a file is deleted only once no retained manifest
  // lists it, so [[readAt]] reads a past generation exactly as its
  // manifest describes it — with that generation's own schema.
  // Retention is bounded: every commit retires manifests older than
  // `current − retainGenerations` ([[expire]]), as does [[vacuum]].

  /** Drop retained generations older than the last `keepLast` (their
    * manifests, and the files no remaining manifest lists), then
    * delete every file under the table that no retained manifest
    * lists ([[cleanStaging]]) — the orphans a crash before a commit
    * CAS leaves behind. The live generation is never touched.
    */
  def vacuum(table: String, keepLast: Int): Unit = {
    require(keepLast >= 0, s"keepLast >= 0, got $keepLast")
    readManifest(table).foreach { m =>
      expire(table, m, keepLast)
      cleanStaging(table)
    }
  }

  /** Delete every file and commit directory under the table that no
    * retained manifest lists — leftovers of writers that died (or
    * failed) BEFORE their commit CAS. Run only when no writer is
    * active on the table: a LIVE writer's files are indistinguishable
    * from an orphan until its commit lands.
    */
  def cleanStaging(table: String): Unit = {
    val fs = fsOf(hpath(table))
    val listed = listManifests(table)
      .flatMap(s => manifestAt(table, s._1)).flatMap(_.paths).toSet
    val listedDirs = listed.map(commitDir)
    if (fs.exists(hpath(table))) fs.listStatus(hpath(table)).foreach { st =>
      val name = st.getPath.getName
      if (!listedDirs(name)) fs.delete(st.getPath, true)
      else dataFiles(fs, st.getPath, name).foreach { case (rel, _) =>
        if (!listed(rel)) fs.delete(new Path(hpath(table), rel), false)
      }
    }
  }

  // ------------------------------------------------------ named tags

  private def tagPath(table: String, name: String) =
    new Path(root, s"$table._graft_tag_$name")

  private def requireTagName(name: String): Unit =
    require(name.nonEmpty && name.matches("[A-Za-z0-9_-]+"),
      s"tag name must be [A-Za-z0-9_-]+ (no dots — they would collide with temp files), got '$name'")

  /** Name a generation — the human handle on [[readAt]]'s pins
    * (release "v12" instead of generation 847): writes a tiny tag
    * file by write-temp-then-rename, so a tag is always wholly old or
    * wholly new. Tags are the only store metadata outside the commit
    * manifests, and this is the store's only rename. Re-tagging an
    * existing name moves it (documented: tags are mutable refs,
    * generations are the immutable truth); the tagged generation must
    * be readable NOW (current, or retained) — tagging the unretainable
    * fails loudly rather than minting a dangling name. Returns the
    * tagged generation.
    */
  def tag(table: String, name: String,
          gen: Option[Long] = None): Long = {
    requireTagName(name)
    val cur = readManifest(table).map(_.seq).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val g = gen.getOrElse(cur)
    if (g != cur) readAt(table, g) // loud existence/retention probe
    val p = tagPath(table, name)
    val fs = fsOf(p)
    val tmp = new Path(p.toString + ".tmp." +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    val out = fs.create(tmp, true)
    try out.write(g.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"tag: could not move tag $name into place for $table")
    }
    g
  }

  /** The generation a tag names, or None. A torn/corrupt tag file
    * reads as None (degrade, never a crash).
    */
  def tagGeneration(table: String, name: String): Option[Long] = {
    requireTagName(name)
    val p = tagPath(table, name)
    try {
      if (!fsOf(p).exists(p)) None
      else readText(p).trim.toLongOption
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[readAt]] by name: the table as of the tagged generation. */
  def readTag(table: String, name: String): DataFrame =
    readAt(table, tagGeneration(table, name).getOrElse(
      throw new IllegalArgumentException(
        s"table $table: no tag '$name'")))

  /** All tags on `table` (name → generation). */
  def tags(table: String): Map[String, Long] = {
    val fs = fsOf(new Path(root))
    val prefix = s"$table._graft_tag_"
    val hits = fs.globStatus(new Path(new Path(root), prefix + "*"))
    if (hits == null) Map.empty
    else hits.toSeq.flatMap { st =>
      val n = st.getPath.getName.stripPrefix(prefix)
      // glob also sees in-flight temps: skip anything not a pure name
      if (!n.matches("[A-Za-z0-9_-]+")) None
      else tagGeneration(table, n).map(n -> _)
    }.toMap
  }

  /** Delete a tag (the generation itself is untouched). */
  def dropTag(table: String, name: String): Unit = {
    requireTagName(name)
    val p = tagPath(table, name)
    fsOf(p).delete(p, false)
    ()
  }

  /** Retained generations currently resolvable, ascending. */
  def generations(table: String): Seq[Long] =
    listManifests(table).map(_._1).sorted

  /** The retained manifest of generation `gen` (loud otherwise). */
  private def generation(table: String, gen: Long): Manifest =
    manifestAt(table, gen).getOrElse(
      throw new IllegalArgumentException(
        s"table $table: generation $gen is not retained — " +
          "retention off, vacuumed, or never committed"))

  /** Time-travel read: the table exactly as of generation `asOfGen` —
    * the reproducible-corpus contract (pin the generation a training
    * run consumed; re-reading it later returns the identical rows no
    * matter what has been upserted, deleted, or compacted since).
    * `asOfGen == current` is the live [[read]]; past generations need
    * retention ([[TableStore]] built with `retainGenerations > 0`) and
    * fail loudly when the manifest has been retired or never existed.
    * A past generation reads with its own recorded schema; an emptied
    * one reads back as zero rows.
    */
  def readAt(table: String, asOfGen: Long): DataFrame = {
    val cur = readManifest(table).map(_.seq).getOrElse(0L)
    if (asOfGen == cur) return read(table)
    require(asOfGen < cur,
      s"table $table: generation $asOfGen is in the future (current $cur)")
    val m = generation(table, asOfGen)
    scan(table, m, m.paths)
  }

  /** CHANGE FEED between two committed generations: every row that is
    * in `toGen` but not `fromGen` (`__change_type = 'insert'`) and
    * every row in `fromGen` but not `toGen` (`'delete'`) — the
    * incremental-consumer primitive (downstream rollup/index/CDC
    * maintenance reads the delta, never the table). An update
    * surfaces as its delete + insert pair.
    *
    * Cost scales with the CHURN, not the table: only files that
    * CHANGED between the inventories are read (a file present in both
    * generations contributes nothing and is never opened), and the
    * one exchange is the multiset anti-join between added-file and
    * removed-file rows. That anti-join is also what makes pure
    * reorganizations invisible: a compaction / Z-order rewrite drops
    * and re-adds the same ROWS in different files, so both sides
    * cancel and the feed is EMPTY — consumers see data changes, never
    * layout changes. (Duplicate rows are handled as multisets:
    * going 3 copies → 1 copy feeds 2 deletes.) Both sides read with
    * the live schema.
    *
    * `fromGen`/`toGen` must be committed generations with retained
    * manifests ([[generations]]); `toGen` may be the live one.
    * `fromGen == toGen` returns the empty feed.
    */
  def changesBetween(table: String, fromGen: Long, toGen: Long)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromGen <= toGen,
      s"changesBetween: fromGen $fromGen > toGen $toGen")
    val live = head(table)
    val cur = live.seq
    require(toGen <= cur,
      s"table $table: generation $toGen is in the future (current $cur)")
    def at(gen: Long) =
      (if (gen == cur) live else generation(table, gen))
        .copy(schema = live.schema, partitionCols = live.partitionCols)
    val empty = read(table).limit(0)
      .withColumn("__change_type", lit("insert"))
    if (fromGen == toGen) return empty
    val from = at(fromGen)
    val to = at(toGen)
    val fromSet = from.paths.toSet
    val toSet = to.paths.toSet
    val ins = scan(table, to, to.paths.filterNot(fromSet).sorted)
    val del = scan(table, from, from.paths.filterNot(toSet).sorted)
    ins.exceptAll(del).withColumn("__change_type", lit("insert"))
      .unionByName(
        del.exceptAll(ins).withColumn("__change_type", lit("delete")))
  }
}

object TableStore {

  /** What [[TableStore.merge]] does to a matched row. */
  sealed trait MergeAction
  /** Overwrite the listed columns with the SOURCE row's values. */
  final case class MergeUpdate(cols: Seq[String]) extends MergeAction
  /** Remove matched rows. */
  case object MergeDelete extends MergeAction

  /** [[TableStore.aggWhere]]'s result: exact matching-row count,
    * exact column total (0 for no rows), and min/max over non-null
    * values (None when every matching value is NULL or no row
    * matches). All values are decimals at the column's own scale.
    */
  final case class AggWhere(count: Long, sum: java.math.BigDecimal,
                            min: Option[java.math.BigDecimal],
                            max: Option[java.math.BigDecimal])

  private[sources] def minOpt(a: Option[java.math.BigDecimal],
                              b: Option[java.math.BigDecimal])
      : Option[java.math.BigDecimal] = (a, b) match {
    case (Some(x), Some(y)) => Some(x.min(y))
    case _                  => a.orElse(b)
  }

  private[sources] def maxOpt(a: Option[java.math.BigDecimal],
                              b: Option[java.math.BigDecimal])
      : Option[java.math.BigDecimal] = (a, b) match {
    case (Some(x), Some(y)) => Some(x.max(y))
    case _                  => a.orElse(b)
  }

  /** RDD-backed snapshot of a frame that must survive a mutation of the
    * very table files it reads (K7/K8 flag-flip/delete rewrites). The
    * `LogicalRDD` is opaque to the write path's recache-by-path — the
    * plan is never re-executed against replaced files — and pins the
    * scan to the file splits planned here. Unlike `localCheckpoint`,
    * whose blocks die with their executors and can never be rebuilt,
    * lineage stays recomputable from the pre-mutation files for the
    * whole write phase (a mutation deletes the files it replaced only
    * after its commit, so the old files outlive the job that reads
    * them).
    *
    * The frame comes back `persist()`ed but lazily materialized: run
    * the durable WRITE first (its job fills the cache while the old
    * files are still live), then the rewrite. A snapshot consumed only
    * inside the calling method is released in `finally`
    * ([[TableStore.dedupAppend]]); one returned to the caller IS the
    * release handle — `unpersist()` it when consumed.
    */
  def snapshot(df: DataFrame): DataFrame = {
    val s = df.sparkSession.createDataFrame(df.rdd, df.schema)
    s.persist()
    s
  }

  /** [[snapshot]] + eager materialization: the returned frame is fully
    * computed and pinned before control returns, so a caller can drop
    * its upstream's cache immediately (the double-pass operators'
    * `persistUpstream` contract). Releases the snapshot pin if the
    * materialization itself fails — no orphaned cache on error.
    */
  def eagerSnapshot(df: DataFrame): DataFrame = {
    val s = snapshot(df)
    try { s.count(); s }
    catch {
      case t: Throwable => s.unpersist(blocking = false); throw t
    }
  }
}
