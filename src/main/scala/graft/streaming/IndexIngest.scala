package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.SafeFs
import graft.ext.{Dedup, Similarity}

/** Streaming maintenance of the persisted similarity indexes: the
  * `foreachBatch` sinks that turn a document / embedding stream into the
  * per-ingest index mutations the batch layer already ships
  * ([[graft.ext.Dedup.bandIndexAppend]],
  * [[graft.ext.Similarity.ivfAssign]] + `ivfAppendSave`), with
  * exactly-once semantics across micro-batch retries.
  *
  * Why exactly-once needs work here: `foreachBatch` is at-least-once — a
  * crash after the index append but before the streaming checkpoint
  * commits replays the SAME batch id on restart, and a blind re-append
  * double-counts it (the exact failure
  * [[graft.ext.Dedup.healInterruptedAppend]]'s scaladoc warns about).
  * The sinks layer two guards:
  *
  *  1. an EPOCH marker (`stream.epoch` under the index path, written
  *     by [[graft.engine.SafeFs.writeMarker]] after the append
  *     commits): a replayed `batchId <= committed` is skipped outright
  *     — the common retry;
  *  2. a SINK-OWNED journal (`stream.journal`: batch id + pre-append
  *     physical row count + batch row count) staged before the mutation
  *     and cleared only AFTER the epoch commit. The index's own append
  *     journal cannot cover the epoch gap — `bandIndexAppend` clears it
  *     as its final step, so a crash between the append returning and
  *     the epoch write would leave no evidence and the replay would
  *     double-append. On replay the sink classifies by parquet-footer
  *     counts ([[graft.engine.SafeFs.disposition]]): rows landed ⇒
  *     mark the epoch and skip; not landed ⇒ append; neither ⇒ fail
  *     loudly (torn write). A journal whose batch id is behind the
  *     current one is the crashed-after-epoch window — discarded. The
  *     band sink additionally heals the index's inner journal first
  *     (that repairs the sizes frame; the classification itself never
  *     depends on it).
  *
  * Both guards assume the streaming source is REPLAYABLE (a retried
  * batch id re-delivers the same rows — true of file, Kafka-style, and
  * memory sources); that is Structured Streaming's own exactly-once
  * precondition, not a new one. One stream per index path: the epoch
  * file is the single-writer cursor, exactly like the reference's
  * monotone ingest cursor (ST1).
  *
  * Scale shape: each micro-batch pays exactly what the batch-layer
  * mutation pays — banded append = the batch staged and counted in one
  * job, a batch-sized shuffle into the buckets and a sizes refresh that
  * recomputes only the buckets the batch touches, never a banded-table
  * scan and never a shuffle of the sizes frame; IVF assign = one codegen
  * argmin pass, zero row expansion. The exactly-once protocol's
  * per-batch physical count is O(#FILES): parquet-footer metadata read
  * on the driver ([[graft.engine.SafeFs.footerRows]]: no data scan and
  * no Spark job), but every epoch lists and opens each data file's
  * footer — which is exactly why the compact-on-rot budgets below
  * should stay enabled on long-running streams: they bound file count,
  * and with it the per-epoch protocol cost, at a constant. The
  * one-file-per-bucket-per-batch accumulation is folded automatically
  * when the sinks are given a rot budget (`maxFilesPerBucket` /
  * `maxFilesPerCell` — the
  * [[graft.ext.Dedup.maybeCompactBandIndex]] /
  * [[graft.ext.Similarity.ivfMaybeCompact]] policies, run after each
  * epoch commit); leave them 0 to schedule
  * [[graft.ext.Dedup.compactBandIndex]] /
  * [[graft.ext.Similarity.ivfCompact]] externally instead.
  */
object IndexIngest {

  private[graft] val EpochFile = "stream.epoch"

  /** Last committed micro-batch id for the index at `path`, -1 if none. */
  private[graft] def committedEpoch(spark: SparkSession,
      path: String): Long =
    SafeFs.readMarker(SafeFs.fs(spark, path), marker(path, EpochFile))
      .fold(-1L)(_.toLong)

  /** The default doc→signature transform for [[bandIndexSink]]: k-shingle
    * → 60-bit hash → MinHash, the exact pipeline the batch dedup queries
    * use ([[graft.ext.Dedup.signatureColumns]], the per-row kernel — no
    * shuffle), so stream- and batch-maintained indexes are bit-identical.
    * One signature row per input row: doc ids are expected unique within
    * a batch (the sink's journal arithmetic and
    * [[graft.ext.Dedup.bandIndexDelete]]'s `ids × bands` count assume
    * it); a batch that repeats an id yields one row per occurrence, not
    * one merged signature. */
  def docSigs(idCol: String, textCol: String, numHashes: Int = 16,
      k: Int = 3): DataFrame => DataFrame =
    Dedup.signatureColumns(_, idCol, textCol, numHashes, k)

  /** `foreachBatch` sink maintaining a persisted LSH band index from a
    * document stream. The index must exist ([[graft.ext.Dedup.bandIndexSave]])
    * before the stream starts — the quantizer-free LSH side has no fit
    * step, so "exists" just means an initial (possibly empty) save.
    *
    * Per batch: the banded rows are staged once with their count
    * ([[graft.engine.SafeFs.stage]]); that count (`n` unique docs ×
    * `bands`) is what the sink journal records, and the staged rows are
    * what [[graft.ext.Dedup.appendBanded]] writes and merges into the
    * bucket sizes. Doc ids must be unique within a batch ([[docSigs]]).
    *
    * {{{
    * docsStream.writeStream
    *   .foreachBatch(IndexIngest.bandIndexSink(
    *     IndexIngest.docSigs("doc_id", "text"), "doc_id", tbl, dir))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    */
  def bandIndexSink(toSigs: DataFrame => DataFrame, idCol: String,
      table: String, path: String, nBuckets: Int = 32, bands: Int = 4,
      rows: Int = 4,
      maxFilesPerBucket: Int = 0): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
    val spark = batch.sparkSession
    val epoch = committedEpoch(spark, path)
    if (batchId <= epoch) {
      logSkip(path, batchId, epoch)
      clearStaleJournal(spark, path, epoch)
    } else {
      val doAppend = classifyReplay(spark, path, s"$path/banded", batchId,
        healBandJournal = Some(() =>
          Dedup.healInterruptedAppend(spark, table, path)))
      if (doAppend) SafeFs.withRddCleanup(spark) {
        // the batch's banded rows, staged once with their count: the
        // physical-count delta the journal classifies by, and the rows
        // the append writes
        val (banded, batchN) = Dedup.stageBanded(toSigs(batch), idCol,
          bands, rows)
        val pre = SafeFs.footerRows(spark, s"$path/banded")
        writeStreamJournal(spark, path, batchId, pre, batchN)
        Dedup.appendBanded(banded, batchN, table, path, nBuckets)
      }
      finishBatch(spark, path, batchId)
      // AFTER the epoch commit + journal clear: the rot check is pure
      // metadata and the rewrite never changes logical contents. A crash
      // mid-compact leaves a committed batch either way: before the
      // directory swap → recoverable rot for the next cadence hit;
      // inside the swap → the next bandIndexLoad rolls the completed
      // rewrite forward (Store.healInterruptedSwap)
      if (maxFilesPerBucket > 0)
        Dedup.maybeCompactBandIndex(spark, table, path, nBuckets,
          maxFilesPerBucket)
    }
  }

  /** `foreachBatch` sink maintaining a persisted IVF index from an
    * embedding stream: re-fit-free cell assignment against the saved
    * centroids + bucketed append. The index must be built and saved
    * ([[graft.ext.Similarity.ivfBuild]] / `ivfSave`) before the stream
    * starts — the coarse quantizer is the offline artifact the whole
    * IVF contract revolves around. Assignment follows the index's auto
    * rule by default (`nSuper = 0`): flat codegen argmin
    * ([[graft.ext.Similarity.ivfAssign]]) below
    * `Similarity.AutoHierCells` cells, the two-level quantizer
    * ([[graft.ext.Similarity.ivfAssignHier]]) above it — per-epoch
    * driver state √nCells instead of the full centroid matrix, the
    * bound that matters in the one caller that runs unattended forever.
    * `nSuper >= 2` forces an explicit hierarchy; `nSuper = 1` the
    * degenerate one-super form (≡ flat bit-for-bit).
    *
    * Same exactly-once protocol as [[bandIndexSink]] (same sink journal;
    * there is no inner index journal to heal on this side). The batch is
    * staged once with its row count ([[graft.engine.SafeFs.stage]]) —
    * the count the journal records — and assigned and appended from the
    * staged rows.
    *
    * `encode` transforms the assigned batch before the bucketed append —
    * identity for a raw index; [[graft.ext.Pq.pqEncode]] + payload
    * projection for a PQ-compressed one (the maintained table then holds
    * `(id, cell, codes, recon_norm)`; assignment still runs on the raw
    * embedding against the shared coarse quantizer, so cells are
    * IDENTICAL to the raw index's and the replay protocol — which counts
    * rows, not columns — is untouched). `encode` MUST be 1:1
    * row-preserving: the crash-window classification compares physical
    * row counts against the journaled batch size, so a filtering or
    * exploding transform would misclassify every replay.
    *
    * `retrainMaxSkew` / `retrainRowsPerCell` (either > 0) arm the
    * [[graft.ext.Similarity.ivfMaybeRetrain]] post-epoch hook — the
    * sink is the one caller that runs unattended forever, which is
    * exactly who the policy exists for: a drifting stream develops hot
    * cells the append path can never fix, and a growing corpus
    * outgrows its cell count. The hook runs AFTER the epoch commits;
    * on firing, the sink drops its cached quantizer and re-derives the
    * bucket modulus from the published centroid frame next epoch (the
    * cell count legitimately changes under a growth re-fit — which is
    * also why appends always bucket by the PUBLISHED count, validated
    * against `nCells` at first load when the hook is off).
    *
    * Compressed layouts: an SQ-encode-hook sink arms retrain by ALSO
    * passing `sqParams` (the bounds its encode hook uses) — the hook
    * then fires [[graft.ext.Sq.ivfSqMaybeRetrain]], which re-fits the
    * cells on the decoded reconstruction and keeps the codes (same
    * staged swap, same crash windows). A PQ-encoded sink cannot arm
    * retrain — codes cannot seed the re-fit (residual codes are
    * defined against the old cells; plain decode is codebook-coarse) —
    * so retrain-armed without `sqParams` on a layout with no `embCol`
    * still fails FAST at first load, not at whatever epoch the policy
    * first fires. The PQ remedy is batch-side:
    * [[graft.ext.Pq.ivfPqRetrain]] with the retained raw frame. */
  def ivfSink(idCol: String, embCol: String, table: String, path: String,
      nCells: Int, maxFilesPerCell: Int = 0,
      encode: DataFrame => DataFrame = identity,
      nSuper: Int = 0, retrainMaxSkew: Double = 0.0,
      retrainRowsPerCell: Long = 0L,
      sqParams: Option[graft.ext.Sq.SqParams] = None)
      : (DataFrame, Long) => Unit = {
    // the coarse quantizer is a STATIC offline artifact: load it once
    // per sink, not once per micro-batch (each ivfLoad heals, refreshes
    // the catalog and lists the centroids; the handle's centroid view
    // then serves every batch's assign). The first load performs
    // any heal; nothing a later batch does changes the centroids —
    // compaction rewrites only the assigned files, and retention deletes
    // are documented as not concurrent with the single-writer stream.
    // (Only the centroid side is reused; the assigned frame is re-read
    // per append by the physical-count classification anyway.)
    var centroids: Similarity.IvfIndex = null
    // the per-epoch assignment path: the sink is the one caller that
    // runs FOREVER, so its assignment must not re-collect the full
    // nCells×dim centroid matrix per epoch once cell counts grow — the
    // bound the batch callers keep too. nSuper = 0 (default) follows
    // the index's auto rule (hierarchical above Similarity.AutoHierCells
    // cells, flat below); nSuper >= 2 forces an explicit hierarchy;
    // nSuper = 1 forces the degenerate one-super hierarchy, which is
    // ≡ flat bit-for-bit
    // (IvfIndexSpec pins it) through the hier machinery. Derived state,
    // built once per sink from the loaded centroids — same lifetime as
    // `centroids` itself.
    var superQ: Option[Similarity.IvfSuper] = None
    // the bucket modulus the appends/compacts must match. The PUBLISHED
    // centroid frame is authoritative — with the retrain hook on, the
    // cell count legitimately drifts mid-stream (growth re-fit), and
    // after a sink restart the static `nCells` argument may be stale.
    // Derived at each quantizer (re-)load; lazily read (one footer-
    // bounded parquet count) on the rare epoch that compacts without
    // having loaded. With the hook off, validated == nCells at first
    // load so a caller's stale declaration fails loudly, not as a
    // silently mis-bucketed append.
    val retrainOn = retrainMaxSkew > 0.0 || retrainRowsPerCell > 0L
    // the sqParams-vs-PQ codes-width fail-fast needs a non-empty index
    // to probe (an empty/all-null frame shows no width). An index that
    // is empty at FIRST LOAD therefore can't be checked there — so the
    // probe re-runs before each retrain-trigger evaluation until it has
    // seen a width once: the contract is fail-fast at the earliest
    // observable epoch, not at fire time via ivfSqRetrain's own guard.
    // The flag makes the steady state free: one successful probe and
    // the re-check never runs again (the layout cannot change under the
    // sink — SQ retrain keeps the codes). The check is the one layout
    // guard (Quantizer.requireLayout) against the params' width tell.
    var sqWidthChecked: Boolean = false
    def checkSqWidth(df: org.apache.spark.sql.DataFrame): Unit =
      if (retrainOn && sqParams.isDefined && !sqWidthChecked)
        sqWidthChecked = graft.ext.Quantizer.requireLayout("ivfSink", df,
          path, sqParams.map(_.widthTell))
    var nCellsCur: Int = 0
    def modulus(spark: org.apache.spark.sql.SparkSession): Int = {
      if (nCellsCur == 0) nCellsCur = Similarity.publishedCells(spark, path)
      nCellsCur
    }
    (batch, batchId) =>
    val spark = batch.sparkSession
    val epoch = committedEpoch(spark, path)
    if (batchId <= epoch) {
      logSkip(path, batchId, epoch)
      clearStaleJournal(spark, path, epoch)
    } else {
      val doAppend = classifyReplay(spark, path, s"$path/assigned",
        batchId, healBandJournal = None)
      if (doAppend) SafeFs.withRddCleanup(spark) {
        if (centroids == null) {
          centroids = Similarity.ivfLoad(spark, table, path)
          // the handle's one count, which autoSuper below reuses
          nCellsCur = centroids.cellCount.toInt
          require(retrainOn || nCellsCur == nCells,
            s"ivfSink: declared nCells=$nCells but the published " +
              s"quantizer under $path has $nCellsCur cells — appends " +
              "must bucket by the real modulus")
          // fail FAST, not at whatever epoch the policy first fires:
          // ivfRetrain re-fits from the index's own embedding column;
          // a compressed layout retrains only through the SQ decode
          // path, which needs the sink to hand over its bounds
          require(!retrainOn || sqParams.isDefined ||
              centroids.assigned.columns.contains(embCol),
            s"ivfSink: retrain policy armed but the published index " +
              s"under $path has no `$embCol` column (compressed " +
              "layout) — pass sqParams so the hook can retrain via " +
              "Sq.ivfSqRetrain (decode→refit, codes kept), or disarm " +
              "retrain (a PQ layout cannot retrain from codes; run " +
              "Pq.ivfPqRetrain batch-side with the raw frame instead)")
          // the converse misconfiguration fails fast too: sqParams on a
          // RAW layout would reach ivfSqRetrain's decode-over-embCol
          // refusal only at fire time
          require(!retrainOn || sqParams.isEmpty ||
              !centroids.assigned.columns.contains(embCol),
            s"ivfSink: sqParams passed but the published index under " +
              s"$path stores a raw `$embCol` column — a raw index " +
              "retrains via the default hook; drop sqParams")
          // and the WRONG-compressed-layout case: SQ and PQ layouts
          // share a schema, but SQ codes are dim-wide per row while PQ
          // codes are m-wide (m << dim) — sqParams against a PQ index
          // would decode code INDICES through the affine map and
          // re-fit cells on garbage, silently. The one layout guard
          // (the batch retrains' width tell), run on the PHYSICAL frame: the layout is a
          // property of the files, and a fully-TOMBSTONED PQ index
          // (live view empty — the probe's None case) still tells its
          // width physically, so the misconfig fails at first load,
          // not after this sink has appended mixed-width rows. A
          // physically empty index → re-probed pre-trigger each epoch
          // until a width is seen (checkSqWidth above).
          checkSqWidth(spark.table(table))
          superQ =
            if (nSuper == 0) centroids.autoSuper
            else Some(Similarity.ivfSuperBuild(centroids, nSuper))
        }
        // staged once with its count: the null-guard scan inside
        // ivfAssign and the append write would each re-evaluate it (source
        // I/O again on a file-backed stream)
        val (b, batchN) = SafeFs.stage(batch)
        val assigned = superQ match {
          case Some(sq) => Similarity.ivfAssignHier(sq, b, idCol, embCol)
          case None => Similarity.ivfAssign(centroids, b, idCol, embCol)
        }
        val pre = SafeFs.footerRows(spark, s"$path/assigned")
        writeStreamJournal(spark, path, batchId, pre, batchN)
        Similarity.ivfAppendSave(encode(assigned), table, path,
          modulus(spark))
      }
      finishBatch(spark, path, batchId)
      // post-epoch, same rationale as bandIndexSink's cadence hook
      if (maxFilesPerCell > 0)
        Similarity.ivfMaybeCompact(spark, table, path, modulus(spark),
          maxFilesPerCell)
      // retrain LAST (it folds tombstones and may grow the cell count):
      // the journal is committed, so a crash anywhere inside heals via
      // the retrain's own swap/finalize machinery on the next load. On
      // firing, the cached quantizer and modulus are stale — drop them
      // so the next epoch re-loads (and re-derives) from the published
      // state. The SQ form (sqParams given) shares the trigger and the
      // swap; it re-fits cells on the decoded reconstruction and keeps
      // the codes. A PQ layout with retrain armed failed fast at first
      // load: without sqParams on the no-embCol require, with sqParams
      // on the codes-width probe (PQ codes are m-wide, not dim-wide).
      val skew = if (retrainMaxSkew > 0.0) retrainMaxSkew
        else Double.MaxValue
      // the first-load width probe is a no-op on an index that was
      // EMPTY then — re-probe the published table (this epoch's append
      // is in it) until one non-empty probe lands; free afterwards.
      // The CATALOG table, not a bare path read: a physically file-less
      // assigned dir (empty initial save + empty first batches) has no
      // footer to infer a schema from, and the probe must no-op there,
      // not throw. The listing may trail the append by one epoch —
      // fine: the un-checked flag persists until a probe lands.
      if (retrainOn && sqParams.isDefined && !sqWidthChecked) {
        spark.catalog.refreshTable(table)
        checkSqWidth(spark.table(table))
      }
      val fired = retrainOn && (sqParams match {
        case Some(p) => graft.ext.Sq.ivfSqMaybeRetrain(spark, table, path,
          p, maxSkew = skew, minOccupiedFrac = 0.0,
          targetRowsPerCell = retrainRowsPerCell, embCol = embCol)
        case None => Similarity.ivfMaybeRetrain(spark, table, path,
          maxSkew = skew, minOccupiedFrac = 0.0,
          targetRowsPerCell = retrainRowsPerCell, embCol = embCol)
      })
      if (fired) {
        centroids = null
        superQ = None
        nCellsCur = 0
      }
    }
  }

  /** `foreachBatch` sink maintaining a Z-ORDERED parquet directory
    * ([[graft.engine.Store.saveZOrdered]]) from a row stream: each
    * batch lands via [[graft.engine.Store.appendZOrdered]] (clustered
    * over its own min–max, `nFilesPerBatch` files — O(1) per batch,
    * constant in history) under the SAME exactly-once protocol as the
    * index sinks (epoch marker + pre/batch row-count journal; physical
    * counts are parquet-footer metadata). The directory must exist
    * before the stream starts (an initial `saveZOrdered` — the same
    * build-offline-then-stream contract as both indexes), and
    * `maxFiles > 0` runs [[graft.engine.Store.maybeCompactZOrdered]]
    * after each epoch commit so a long-running stream re-clusters
    * itself and pruning stays tight.
    *
    * A torn append (a crash INSIDE the append's job commit — some of
    * the batch's files renamed into place, some not) self-heals on
    * restart: the sink stages a MANIFEST of the pre-append data files
    * (relative names, staged atomically alongside the journal BEFORE
    * the mutation), and the replay's repair deletes exactly the files
    * absent from it — the partial batch — restoring the pre-append
    * state before re-appending. Rows have no PK, so "which files are
    * the partial batch" is the only recoverable identity; the manifest
    * pins it. Only if the manifest itself is missing/mismatched (a
    * manually-cleared meta dir) does the sink fall back to the loud
    * operator stop. */
  def zOrderSink(path: String, cols: Seq[String], bits: Int = 16,
      nFilesPerBatch: Int = 1, reclusterNFiles: Int = 32,
      maxFiles: Int = 0,
      rank: Boolean = false): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    // a crash between compactZOrdered's two renames (the in-stream
    // rot compaction below triggers them) leaves NO live data dir;
    // unlike the index sinks there is no load path to heal it lazily —
    // without this, every restart batch dies in the footer row count
    // with a raw path-not-found. Cheap existence checks when no crash
    // window is open.
    SafeFs.healDir(spark, path)
    // the index sinks' protocol files sit NEXT TO their data dirs; here
    // `path` IS the bare parquet data dir, so epoch + journal live in a
    // sibling meta dir (a marker inside the dir would be read as data).
    // Store.zStreamMeta owns the suffix so the compactZOrdered guard
    // cannot drift from it.
    val meta = graft.engine.Store.zStreamMeta(path)
    val epoch = committedEpoch(spark, meta)
    if (batchId <= epoch) {
      logSkip(meta, batchId, epoch)
      clearStaleJournal(spark, meta, epoch)
    } else {
      val doAppend = classifyReplay(spark, meta, path, batchId,
        healBandJournal = None,
        "torn z-order append and no usable pre-append manifest; restore " +
          "the directory from its source export and clear the stream " +
          "journal",
        repairTorn = Some { jid =>
          readManifest(spark, meta) match {
            case Some((mid, files)) if mid == jid =>
              val n = graft.engine.Store.deleteFilesNotIn(spark, path,
                files.toSet)
              spark.catalog.refreshByPath(path)
              SafeFs.report(s"[index-ingest] torn z-order append " +
                s"for batch $jid under $path: deleted $n partial files " +
                "via the pre-append manifest")
              true
            case _ => false
          }
        })
      if (doAppend) SafeFs.withRddCleanup(spark) {
        // staged once with its count: the append write would re-evaluate
        // the source otherwise
        val (b, batchN) = SafeFs.stage(batch)
        // manifest BEFORE journal BEFORE mutation: a crash after the
        // journal always finds a manifest for its batch id
        writeManifest(spark, meta, batchId,
          graft.engine.Store.dataFileList(spark, path))
        val pre = SafeFs.footerRows(spark, path)
        writeStreamJournal(spark, meta, batchId, pre, batchN)
        graft.engine.Store.appendZOrdered(b, path, cols, bits,
          nFilesPerBatch, rank)
      }
      finishBatch(spark, meta, batchId)
      if (maxFiles > 0)
        graft.engine.Store.maybeCompactZOrdered(spark, path, cols, bits,
          reclusterNFiles, maxFiles, rank)
    }
  }

  // ---------------------------------------------------------------------
  // The exactly-once machinery shared by the sinks; the crash-sensitive
  // file steps (marker write/read, journal disposition) are SafeFs's.
  //
  // Why the index's OWN append journal is not enough: bandIndexAppend
  // clears it as its final step, so a crash AFTER the append returns but
  // BEFORE the epoch commit leaves no evidence — the replay would blindly
  // re-append (double-count). The sink therefore stages its own journal
  // `<batchId> <prePhysicalRows> <batchRows>` BEFORE the mutation and
  // clears it only AFTER the epoch commit. Physical (parquet-footer) row
  // counts classify every window: appends only add rows, and tombstone
  // deletes (batch retention jobs — not run concurrently with the
  // single-writer stream) never touch physical counts.

  private def marker(path: String, name: String) =
    new org.apache.hadoop.fs.Path(s"$path/$name")

  /** Replays are normal — but after an INTENTIONAL checkpoint reset
    * batch ids restart at 0 and this same guard would silently discard
    * genuinely new batches until the ids catch the epoch up. Log every
    * skip with both ids so that failure mode is visible in the stream's
    * logs instead of reading as healthy progress. */
  private def logSkip(path: String, batchId: Long, epoch: Long): Unit =
    SafeFs.report(s"[index-ingest] skipping batch $batchId under " +
      s"$path: committed epoch is $epoch (replay — or a checkpoint " +
      "reset, which needs a fresh index path or a cleared stream.epoch)")

  /** The crashed-after-epoch window can strand a journal even when the
    * stream RESTARTS on the same batch id: the replay lands in the skip
    * branch, and classifyReplay's stale-journal delete only runs for a
    * NEWER id — which never arrives on a stream with no further
    * traffic, leaving compaction refused forever with an advisory
    * ("replay the stream") that replaying cannot satisfy. A journal at
    * or behind the committed epoch is evidence of exactly that crash,
    * already superseded by the epoch — drop it. (A journal AHEAD of the
    * epoch is left for classifyReplay's loud future-batch failure.) */
  private def clearStaleJournal(spark: SparkSession, path: String,
      epoch: Long): Unit = {
    val fs = SafeFs.fs(spark, path)
    val p = marker(path, SafeFs.StreamJournal)
    SafeFs.readMarker(fs, p).foreach { j =>
      if (j.split(' ').head.toLong <= epoch) fs.delete(p, false)
    }
    // a manifest stranded by the same crashed-after-epoch window is
    // equally superseded
    readManifest(spark, path).foreach { case (mid, _) =>
      if (mid <= epoch) fs.delete(marker(path, StreamManifest), false)
    }
  }

  private def writeStreamJournal(spark: SparkSession, path: String,
      batchId: Long, pre: Long, batchN: Long): Unit =
    SafeFs.writeMarker(SafeFs.fs(spark, path),
      marker(path, SafeFs.StreamJournal), s"$batchId $pre $batchN")

  /** Pre-append data-file manifest for sinks whose rows have no PK
    * (the z-order sink): batch id + the relative data-file names
    * present BEFORE the append, staged atomically. A torn append's
    * repair deletes every file not listed here. O(#files) text — the
    * same bound as the epoch counts, held down by compact-on-rot. */
  private[graft] val StreamManifest = "stream.manifest"

  private def writeManifest(spark: SparkSession, path: String,
      batchId: Long, files: Seq[String]): Unit =
    SafeFs.writeMarker(SafeFs.fs(spark, path), marker(path, StreamManifest),
      (batchId.toString +: files).mkString("\n"))

  private def readManifest(spark: SparkSession,
      path: String): Option[(Long, Seq[String])] =
    SafeFs.readMarker(SafeFs.fs(spark, path), marker(path, StreamManifest))
      .flatMap { text =>
        val lines = text.linesIterator.toIndexedSeq
        lines.headOption.flatMap(h => scala.util.Try(h.trim.toLong).toOption)
          .map(id => (id, lines.tail.filter(_.nonEmpty)))
      }

  /** Epoch commit + journal/manifest clear, in THAT order: a crash
    * between the commit and the clears leaves stale protocol files that
    * the next batch detects (their ids are behind the epoch) and
    * discards. (The marker write's delete-before-rename window can lose
    * the epoch on a crash — then the batch replays and the journal
    * classifies it; the guard pair is what makes the protocol
    * exactly-once, not the epoch file alone.) */
  private def finishBatch(spark: SparkSession, path: String,
      batchId: Long): Unit = {
    val fs = SafeFs.fs(spark, path)
    SafeFs.writeMarker(fs, marker(path, EpochFile), batchId.toString)
    fs.delete(marker(path, SafeFs.StreamJournal), false)
    fs.delete(marker(path, StreamManifest), false)
  }

  /** Decide whether a (possibly replayed) batch must still run its
    * append. True = append; false = a crashed earlier attempt of THIS
    * batch already committed its rows (the caller marks the epoch and
    * skips). The journal under `path` is classified by the physical row
    * count of `dataDir` ([[SafeFs.footerRows]]). Heals the band index's
    * inner journal first when present (that fixes the sizes frame; the
    * classification is independent of it). A torn append stops the sink
    * with `tornAdvice`; `repairTorn`, when present, is offered the torn
    * window first (z-order: delete the partial batch's files via the
    * pre-append manifest) and returns true iff it repaired, after which
    * the count must equal `pre` or the sink still stops. */
  private def classifyReplay(spark: SparkSession, path: String,
      dataDir: String, batchId: Long,
      healBandJournal: Option[() => String],
      tornAdvice: String = "torn append, rebuild or compact the index",
      repairTorn: Option[Long => Boolean] = None): Boolean = {
    def rowCount(): Long = SafeFs.footerRows(spark, dataDir)
    val fs = SafeFs.fs(spark, path)
    val journalPath = marker(path, SafeFs.StreamJournal)
    healBandJournal.foreach { heal =>
      if (fs.exists(marker(path, Dedup.AppendJournal)))
        heal() // repairs sizes; count check below decides
    }
    def replay(): Boolean = { fs.delete(journalPath, false); true }
    SafeFs.readMarker(fs, journalPath).fold(true)(_.split(' ') match {
      case Array(jid, pre, n) if jid.toLong == batchId =>
        // crashed attempt of THIS batch: did its rows land?
        val actual = rowCount()
        SafeFs.disposition(actual, pre.toLong, n.toLong) match {
          case SafeFs.Committed => false
          case SafeFs.NotCommitted => replay()
          case _ =>
            // torn: offer the repair, then RECOUNT — the error below must
            // describe the directory as it is NOW, and say whether a
            // repair already deleted files (diagnosing from the stale
            // pre-repair count would be actively misleading)
            val repaired = repairTorn.exists(_(batchId))
            val now = if (repaired) rowCount() else actual
            if (repaired && now == pre.toLong) replay()
            else throw new IllegalStateException(
              s"stream ingest under $path: physical row count $now" +
                (if (repaired)
                  s" (AFTER manifest repair deleted the partial batch's " +
                    s"files; pre-repair count was $actual)"
                 else "") +
                s" matches neither pre ($pre) nor pre+batch (${pre.toLong + n.toLong}) " +
                s"for the journaled batch — $tornAdvice")
        }
      case Array(jid, _, _) if jid.toLong < batchId =>
        // stale journal: that batch's epoch committed (we are past it)
        // but the crash hit before the journal clear — discard
        replay()
      case Array(jid, _, _) => throw new IllegalStateException(
        s"stream ingest under $path: journal is for FUTURE batch $jid " +
          s"while processing $batchId — two writers on one index path, " +
          "or a checkpoint reset against a used index (see logSkip)")
      case other => throw new IllegalStateException(
        s"stream ingest under $path: unreadable journal " +
          s"'${other.mkString(" ")}' for batch $batchId")
    })
  }
}
