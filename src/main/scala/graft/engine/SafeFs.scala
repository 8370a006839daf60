package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** The crash-safe file protocol behind every persisted structure — the
  * plain-file stand-in for the reference's single SQLite transaction
  * that upserts the OHLCV rows and updates the coverage table
  * (database_handler.py:215-229); here [[MarketData]] writes the rows,
  * then its coverage file as a marker. The callers keep only their
  * payload: [[Store]] (OHLCV partitions, z-ordered and bucketed rewrites),
  * [[graft.ext.Dedup]] (banded rows + sizes), [[graft.ext.Similarity]]
  * (cells + centroids; PQ/SQ ride on its retrain) and
  * [[graft.streaming.IndexIngest]] (stream batches). Every
  * crash-sensitive step lives here once:
  *
  *  - checked renames and the two-rename swap (live → backup, staged →
  *    live, drop backup), its rollback, and its heal — for one
  *    directory or for many units swapped all-or-nothing;
  *  - stage-and-rename marker files (journals, epoch, manifest, the
  *    coverage file) and their reads;
  *  - journal disposition: a journaled `pre → pre + batch` mutation is
  *    classified by the physical count found after a crash;
  *  - tombstone sets under `deletes` (fold, append, re-ingest clash,
  *    clear) and the refuse-over-an-unhealed-journal guard;
  *  - the compact-on-rot policy and the scoped RDD cleanup every
  *    mutation path runs under.
  *
  * Every rename and delete result is checked: a false return (common on
  * object stores) aborts loudly instead of losing data. Heals and failed
  * rollbacks are reported through [[report]]. One writer per path. The
  * swap assumes atomic directory rename ([[Store.atomicRename]]). */
private[graft] object SafeFs {

  /** The streaming sinks' per-batch journal ([[graft.streaming.IndexIngest]]);
    * every compaction guard refuses while it is present. */
  val StreamJournal = "stream.journal"

  /** Tombstone-set directory of a maintained index. */
  private val DeletesDir = "deletes"

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The one site heals, rollbacks and skipped replays are reported
    * through. */
  def report(msg: String): Unit = System.err.println(msg)

  private def fail(msg: String): Nothing = throw new java.io.IOException(msg)

  private def rename(fs: FileSystem, src: Path, dst: Path,
      what: String): Unit =
    if (!fs.rename(src, dst)) fail(s"$what: rename $src -> $dst failed")

  /** [[rename]] into a parent created on demand (partition trees). */
  private def moveTo(fs: FileSystem, src: Path, dst: Path,
      what: String): Unit = {
    if (!fs.mkdirs(dst.getParent))
      fail(s"$what: mkdirs ${dst.getParent} failed")
    rename(fs, src, dst, what)
  }

  /** Recursive delete of `p` if present; fails if it stays. */
  def clear(fs: FileSystem, p: Path, what: String): Unit =
    if (fs.exists(p) && !fs.delete(p, true)) fail(s"$what: cannot clear $p")

  /** Publish `staged` at `target`, replacing what is there. */
  def replace(fs: FileSystem, staged: Path, target: Path,
      what: String): Unit = {
    clear(fs, target, what)
    rename(fs, staged, target, what)
  }

  // ---- the two-rename swap ---------------------------------------------

  /** Swap each `(live, staged, backup)` unit in with two renames — live →
    * backup (when live exists), staged → live — so every unit is
    * atomically old or new at any instant and a crash leaves both byte
    * sets intact. On any failure the completed units roll back (new
    * bytes return to `staged`, a complete retry artifact; backups return
    * to live) and the failure surfaces, with a rollback failure attached
    * as suppressed. `bakRoot` (the backups' common root) is dropped on
    * success, or after a rollback that restored every unit; otherwise it
    * is KEPT — it holds the only remaining old bytes, and [[healSwap]]
    * restores from it. `failAfter` injects a failure at that unit's
    * second rename (crash specs). */
  def swapUnits(fs: FileSystem, units: Seq[(Path, Path, Path)],
      bakRoot: Path, what: String, failAfter: Int = Int.MaxValue): Unit = {
    clear(fs, bakRoot, what)
    val done = scala.collection.mutable.ArrayBuffer.empty[((Path, Path, Path), Boolean)]
    var intact = true
    try units.zipWithIndex.foreach { case (u @ (live, staged, bak), i) =>
      val hadLive = fs.exists(live)
      if (hadLive) moveTo(fs, live, bak, what)
      val swapped = i < failAfter && fs.mkdirs(live.getParent) &&
        fs.rename(staged, live)
      if (!swapped) {
        if (hadLive && !fs.rename(bak, live)) intact = false
        fail(s"$what: rename $staged -> $live failed")
      }
      done += ((u, hadLive))
    } catch {
      case e: Throwable =>
        try {
          done.reverseIterator.foreach { case ((live, staged, bak), hadLive) =>
            if (!fs.rename(live, staged) || (hadLive && !fs.rename(bak, live)))
              intact = false
          }
          if (intact) fs.delete(bakRoot, true)
          else report(s"$what: rollback could not restore every unit — " +
            s"backup $bakRoot KEPT; the next heal restores from it")
        } catch { case rb: Throwable if rb ne e => e.addSuppressed(rb) }
        throw e
    }
    clear(fs, bakRoot, what)
  }

  /** Repair a swap unit interrupted between its renames (or whose
    * rollback failed): when `live` is missing, roll `staged` forward —
    * it was complete before the first rename, so the backup is then
    * superseded — or else roll `backup` back. A present `live` means no
    * window is open. True iff a repair ran. */
  def healSwap(fs: FileSystem, live: Path, staged: Option[Path],
      backup: Path, what: String): Boolean = {
    val from = if (fs.exists(live)) None
      else (staged.toSeq :+ backup).find(fs.exists)
    from.foreach { src =>
      moveTo(fs, src, live, what)
      if (src != backup) fs.delete(backup, true)
      report(s"$what: healed an interrupted swap ($src -> $live)")
    }
    from.isDefined
  }

  /** Sibling names of a whole-directory rewrite: the staged tree and the
    * backup the swap displaces live into. */
  def staged(path: String): String = path + "__compacting"
  def backup(path: String): String = path + "__old"

  /** Swap the rewrite staged at [[staged]]`(path)` in for `path`. */
  def swapDir(spark: SparkSession, path: String, what: String): Unit =
    swapUnits(fs(spark, path),
      Seq((new Path(path), new Path(staged(path)), new Path(backup(path)))),
      new Path(backup(path)), what)

  /** [[healSwap]] for a [[swapDir]]. Loaders call it before reading: a
    * crash between the renames leaves no live directory. */
  def healDir(spark: SparkSession, path: String): Boolean =
    healSwap(fs(spark, path), new Path(path), Some(new Path(staged(path))),
      new Path(backup(path)), "swap heal")

  // ---- markers and journals --------------------------------------------

  /** Stage-and-rename marker write: the marker is absent or complete,
    * never torn. Journals are the FIRST step of a mutation, so a torn one
    * would misclassify a never-started mutation as a torn write. */
  def writeMarker(fs: FileSystem, target: Path, content: String): Unit = {
    val tmp = new Path(target.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    replace(fs, tmp, target, "marker write")
  }

  /** A marker's trimmed text; None when absent. */
  def readMarker(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  val Committed = "committed"
  val NotCommitted = "not-committed"
  val Torn = "partial"

  /** Disposition of a journaled mutation `pre → pre + batch` from the
    * physical count found after a crash: [[Committed]] (re-running would
    * apply it twice), [[NotCommitted]] (safe to re-run) or [[Torn]]. An
    * empty batch is never reported committed — re-running it is free. */
  def disposition(actual: Long, pre: Long, batch: Long): String =
    if (batch != 0L && actual == pre + batch) Committed
    else if (actual == pre) NotCommitted
    else Torn

  /** Refuse a mutation while any of `journals` under `dir` is unhealed:
    * it would change the physical counts the journal's recovery
    * classifies by. */
  def requireHealed(fs: FileSystem, dir: String, journals: Seq[String],
      advice: String): Unit =
    journals.foreach { j =>
      require(!fs.exists(new Path(s"$dir/$j")),
        s"unhealed interrupted mutation ($j) under $dir: $advice")
    }

  // ---- side-file reads -------------------------------------------------

  /** The data schema Spark's non-merging parquet inference gives for the
    * table at `path`, read on the driver: the same file (the first
    * committed data file by path — Spark writes no summary files by
    * default) and the same footer decoding
    * (`ParquetFileFormat.readSchemaFromFooter`: Spark's row-metadata key,
    * else the parquet-to-Catalyst converter under the session's conf).
    * None when the table holds no data file; a missing `path` is left to
    * Spark's read to report. */
  def footerSchema(spark: SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.hadoop.Footer
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    if (!fs(spark, path).exists(new Path(path)))
      return Some(spark.read.parquet(path).schema)
    Store.dataFileList(spark, path).sorted.headOption.map { rel =>
      val file = new Path(s"$path/$rel")
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(file, withFooter(spark, file)(_.getFooter)),
        new ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get))
    }
  }

  /** Rows in the committed data files under `dataDir`
    * ([[Store.dataFileList]]), summed from their parquet footers on the
    * driver: one listing and one footer read per file, no Spark job. The
    * count is physical: tombstones are not subtracted. A missing
    * `dataDir` fails, as Spark's read of it would. */
  def footerRows(spark: SparkSession, dataDir: String): Long = {
    if (!fs(spark, dataDir).exists(new Path(dataDir)))
      throw new java.io.FileNotFoundException(s"no data directory $dataDir")
    Store.dataFileList(spark, dataDir).map(rel =>
      withFooter(spark, new Path(s"$dataDir/$rel"))(_.getRecordCount)).sum
  }

  private def withFooter[A](spark: SparkSession, file: Path)(
      read: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    try read(reader) finally reader.close()
  }

  /** `spark.read.parquet(path)` for an index side file (tombstones,
    * band sizes, IVF centroids), built without the one-task job Spark's
    * schema inference runs: the schema is [[footerSchema]]'s. A side
    * file with no data file is left to the inferring read. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  // ---- tombstones ------------------------------------------------------

  /** The tombstone set under `dir`, if any. One key column: the caller's
    * (`id_old` for the band index) or, when the caller has none, the
    * set's first column (the IVF id column the deletes were staged under). */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/$DeletesDir")
    if (fs(spark, dir).exists(p)) Some(readParquet(spark, p.toString))
    else None
  }

  /** Ids in the tombstone set under `dir` ([[footerRows]]; 0 when none). */
  def tombstoneCount(spark: SparkSession, dir: String): Long = {
    val p = s"$dir/$DeletesDir"
    if (fs(spark, dir).exists(new Path(p))) footerRows(spark, p) else 0L
  }

  private def keyOf(t: DataFrame, key: Option[String]) =
    Seq(key.getOrElse(t.columns.head))

  /** `df` minus tombstoned keys — a broadcast anti-join, the set being
    * bounded by total deletions. The view every reader shares. */
  def foldTombstones(ts: Option[DataFrame], df: DataFrame,
      key: Option[String]): DataFrame =
    ts.fold(df)(t => df.join(broadcast(t), keyOf(t, key), "left_anti"))

  def liveRows(spark: SparkSession, dir: String, df: DataFrame,
      key: Option[String] = None): DataFrame =
    foldTombstones(tombstones(spark, dir), df, key)

  /** `ids` (one key column) cast to the stored key type: a second
    * physical width appended into the set would leave a mixed-schema
    * parquet tree that fails at read. */
  private def alignToTombstones(ts: Option[DataFrame],
      ids: DataFrame): DataFrame =
    ts.fold(ids)(t =>
      ids.select(col(ids.columns.head).cast(t.schema.head.dataType)))

  /** Delete candidates: `ids` (one key column) minus already-tombstoned
    * ones, so a re-run never counts a delete twice. */
  def notTombstoned(ts: Option[DataFrame], ids: DataFrame): DataFrame =
    foldTombstones(ts, alignToTombstones(ts, ids), Some(ids.columns.head))

  def addTombstones(dir: String, ts: Option[DataFrame],
      ids: DataFrame): Unit =
    alignToTombstones(ts, ids).write.mode("append")
      .parquet(s"$dir/$DeletesDir")

  /** Refuse a batch that re-uses a tombstoned key: the tombstone would
    * hide it, and clearing the tombstone would resurrect the still
    * physical old rows. One batch-sized broadcast semi-join, only while
    * tombstones exist. */
  def requireNoTombstoned(spark: SparkSession, dir: String,
      batch: DataFrame, key: Option[String], compact: String): Unit =
    tombstones(spark, dir).foreach { t =>
      require(batch.join(broadcast(t), keyOf(t, key), "left_semi").isEmpty,
        s"append batch re-uses tombstoned ids under $dir: run $compact " +
          "(folds and clears tombstones) before re-ingesting a deleted id")
    }

  /** Drop the set once a rewrite folded it. A crash before this is
    * harmless: leftover tombstones anti-join ids no longer in the files. */
  def clearTombstones(fs: FileSystem, dir: String): Unit =
    clear(fs, new Path(s"$dir/$DeletesDir"), "tombstone clear")

  // ---- maintenance policy ----------------------------------------------

  /** Compact-on-rot: run `compact` only once `files` (one recursive
    * listing — metadata, no reads) exceeds `units × perUnit`, so an
    * ingest loop can call it every batch and pay the rewrite at the
    * chosen cadence. True iff the compaction ran. */
  def compactOnRot(files: => Long, units: Long, perUnit: Int,
      knob: String)(compact: => Unit): Boolean = {
    require(perUnit >= 1, s"$knob must be >= 1")
    files > units * perUnit && { compact; true }
  }

  /** `df` materialized once (an eager `localCheckpoint`) with its row
    * count. The count is an observed metric of the checkpoint's own job,
    * so staging and counting a frame costs one job, not two. The staged
    * frame is a reliable materialization: a cache could silently
    * recompute against state the caller has since mutated. Run it under
    * [[withRddCleanup]]. */
  def stage(df: DataFrame): (DataFrame, Long) = {
    val rows = org.apache.spark.sql.Observation()
    val staged = df.observe(rows, count(lit(1)).as("n")).localCheckpoint()
    (staged, rows.get("n").asInstanceOf[Long])
  }

  /** Run `body`, then unpersist every RDD persisted DURING it: the
    * localCheckpoints the mutation paths stage (reliable
    * materializations — a cache could silently recompute against
    * already-mutated state) would otherwise accumulate block-manager
    * storage across a long-lived session. RDDs persisted by anything
    * else on the session are untouched. */
  def withRddCleanup[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach {
      case (id, rdd) => if (!before.contains(id)) rdd.unpersist(false)
    }
  }
}
