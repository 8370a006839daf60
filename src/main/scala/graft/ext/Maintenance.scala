package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One-call maintenance cycles per index family — the composition of
  * the describe/heal/compact/retrain/re-encode hooks an unattended job
  * would otherwise have to order by hand (six maybe-hooks and three
  * describes per layout is a policy surface, not a policy). Each cycle
  * runs the SAME pinned sequence:
  *
  *  1. '''heal''' — reopen through the family's load entry
  *     ([[Similarity.ivfLoad]] / [[Dedup.bandIndexLoad]]), which rolls
  *     a torn two-rename swap forward, finishes an interrupted retrain
  *     commit, replays/classifies mutation journals, and re-registers
  *     the catalog. A crash ANYWHERE in a previous cycle therefore
  *     heals at the top of the next one — that is the crash contract,
  *     spec-pinned in MaintenanceSpec.
  *  2. '''describe''' — the family's read-only measurement row,
  *     returned in the report whatever else happens.
  *  3. '''block check''' — a pending STREAMING journal means a sink is
  *     mid-ingest; every structural rewrite refuses under it (the
  *     ivfCompact/compactBandIndex guard), so the cycle reports
  *     `blocked` instead of throwing an unattended job into a crash
  *     loop. Replay the stream; the next cycle proceeds.
  *  4. '''at most ONE staged swap''', in pinned order: '''compact'''
  *     (file rot — the cheap, frequent action; also folds tombstones,
  *     making any later re-fit scan cheaper) then '''retrain''' (cell
  *     skew / occupancy / growth) then the layout-specific
  *     '''re-encode''' (SQ bounds saturation; PQ usage collapse rides
  *     inside [[Pq.ivfPqMaybeRetrain]] with the same
  *     one-action guarantee). The first trigger that fires ends the
  *     cycle; a second pending signal fires on the NEXT cycle. One
  *     swap per cycle keeps every crash window single-swap — exactly
  *     the windows the load-time heal is spec'd against.
  *
  * Thresholds default to the hooks' own defaults; a threshold left
  * disarmed (e.g. PQ usage `minSubEntropy = 0`) never fires, exactly
  * as on the underlying hook. Idempotence: a cycle that acted leaves
  * the index below every armed threshold it acted on, so an immediate
  * second cycle reports `none` (spec-pinned per family) — and an arm
  * that CANNOT converge refuses loudly instead of acting
  * ([[Sq.ivfSqMaybeReencode]]'s clamp-bucket-floor guard: saturation
  * thresholds below what freshly fitted bounds can reach on this
  * corpus would otherwise rewrite the index every cycle). */
object Maintenance {

  /** What one cycle did: `action` ∈ `heal-only | blocked | compact |
    * retrain | reencode | none` (`heal-only` is never emitted — a heal
    * happens silently at step 1; the field names the STRUCTURAL action
    * of steps 3-4). `describe` is the family's measurement row taken
    * AFTER the heal, BEFORE any action — the state the decision was
    * made on. */
  final case class CycleReport(layout: String, action: String,
      detail: String, describe: Row)

  /** Maintenance cycle for a RAW IVF index ([[Similarity.ivfSave]]
    * layout): heal → describe → compact-on-rot → retrain-on-skew.
    * Self-contained — a raw layout re-fits from its own embeddings, so
    * no raw frame is needed. */
  def ivfCycle(spark: SparkSession, table: String, path: String,
      maxFilesPerCell: Int = 8, maxSkew: Double = 4.0,
      minOccupiedFrac: Double = 0.5, targetRowsPerCell: Long = 0L,
      embCol: String = "embedding", seed: Long = 42L): CycleReport = {
    Similarity.ivfLoad(spark, table, path)
    val d = Similarity.ivfDescribe(spark, path).head
    blockedOr(d, "ivf") {
      if (compactOnRot(spark, table, path, d, maxFilesPerCell))
        CycleReport("ivf", "compact",
          s"file rot exceeded $maxFilesPerCell files/cell", d)
      else if (Similarity.ivfMaybeRetrain(spark, table, path, maxSkew,
          minOccupiedFrac, targetRowsPerCell, embCol, seed))
        CycleReport("ivf", "retrain",
          "cell skew / occupancy / growth trigger", d)
      else CycleReport("ivf", "none", "no trigger fired", d)
    }
  }

  /** Maintenance cycle for an SQ-compressed IVF index
    * ([[Sq.ivfSqSave]] layout): heal → describe → compact-on-rot →
    * cell retrain (codes-only, [[Sq.ivfSqRetrain]]) → bounds re-encode
    * ([[Sq.ivfSqMaybeReencode]], including its quantile-misconfig
    * refusal). The re-encode arm needs the RAW corpus (bounds re-fit
    * from decoded codes can only lie inside the old bounds); pass
    * `raw = None` to run a codes-only cycle — the bounds signal is
    * then not evaluated, matching the access the caller granted. */
  def sqCycle(spark: SparkSession, table: String, path: String,
      raw: Option[DataFrame] = None, idCol: String = "vec_id",
      maxFilesPerCell: Int = 8, maxSkew: Double = 4.0,
      minOccupiedFrac: Double = 0.5, targetRowsPerCell: Long = 0L,
      maxSatRate: Double = 0.01, maxDimSatRate: Double = 0.05,
      quantile: Option[(Double, Double)] = None,
      sampleFraction: Double = 1.0, embCol: String = "embedding",
      seed: Long = 42L): CycleReport = {
    Similarity.ivfLoad(spark, table, path)
    val d = Similarity.ivfDescribe(spark, path).head
    blockedOr(d, "sq") {
      if (compactOnRot(spark, table, path, d, maxFilesPerCell))
        CycleReport("sq", "compact",
          s"file rot exceeded $maxFilesPerCell files/cell", d)
      else if (Sq.ivfSqMaybeRetrain(spark, table, path,
          Sq.sqParamsOf(spark, path), maxSkew, minOccupiedFrac,
          targetRowsPerCell, embCol, seed))
        CycleReport("sq", "retrain",
          "cell skew / occupancy / growth trigger", d)
      else raw match {
        case Some(r) =>
          if (Sq.ivfSqMaybeReencode(spark, table, path, r, idCol,
              maxSatRate, maxDimSatRate, sampleFraction, embCol,
              quantile, seed).nonEmpty)
            CycleReport("sq", "reencode",
              "bounds clamp-saturation trigger", d)
          else CycleReport("sq", "none", "no trigger fired", d)
        case None => CycleReport("sq", "none",
          "no trigger fired (bounds signal not evaluated: no raw frame)", d)
      }
    }
  }

  /** Maintenance cycle for a PQ-compressed IVF index
    * ([[Pq.ivfPqSave]] layout): heal → describe → compact-on-rot →
    * [[Pq.ivfPqMaybeRetrain]], which itself evaluates the cell trigger
    * first and the (armed) usage-collapse trigger second and fires at
    * most ONE retrain — so the whole cycle still performs at most one
    * staged swap. PQ maintenance is raw-access by contract
    * ([[Pq.ivfPqRetrain]]), so `raw` is required. Codebooks are
    * reopened from the index ([[Pq.pqCodebooksOf]]) — the generation
    * that encoded the codes, never a caller-held copy. */
  def pqCycle(spark: SparkSession, table: String, path: String,
      raw: DataFrame, idCol: String = "vec_id",
      maxFilesPerCell: Int = 8, maxSkew: Double = 4.0,
      minOccupiedFrac: Double = 0.5, targetRowsPerCell: Long = 0L,
      minSubEntropy: Double = 0.0, maxCodeFrac: Double = 1.0,
      residual: Boolean = false, sampleFraction: Double = 1.0,
      embCol: String = "embedding", seed: Long = 42L): CycleReport = {
    Similarity.ivfLoad(spark, table, path)
    val d = Similarity.ivfDescribe(spark, path).head
    blockedOr(d, "pq") {
      if (compactOnRot(spark, table, path, d, maxFilesPerCell))
        CycleReport("pq", "compact",
          s"file rot exceeded $maxFilesPerCell files/cell", d)
      else if (Pq.ivfPqMaybeRetrain(spark, table, path, raw, idCol,
          Pq.pqCodebooksOf(spark, path), maxSkew, minOccupiedFrac,
          targetRowsPerCell, embCol, residual,
          refitCodebooks = None, minSubEntropy, maxCodeFrac,
          sampleFraction, seed).nonEmpty)
        CycleReport("pq", "retrain",
          "cell-skew or codebook-usage trigger", d)
      else CycleReport("pq", "none", "no trigger fired", d)
    }
  }

  /** Maintenance cycle for a persistent LSH band index
    * ([[Dedup.bandIndexSave]] layout): heal (journal classification +
    * sizes rebuild ride inside [[Dedup.bandIndexLoad]]) → describe →
    * compact-on-rot. The band index has no quantizer, so there is no
    * retrain arm — rot is its only structural signal. */
  def bandIndexCycle(spark: SparkSession, table: String, path: String,
      maxFilesPerBucket: Int = 8): CycleReport = {
    Dedup.bandIndexLoad(spark, table, path)
    val d = Dedup.bandIndexDescribe(spark, path).head
    blockedOr(d, "band") {
      // the bucket modulus is a LAYOUT property, not an operator
      // memory: read it from the catalog the load just registered
      // (the banded table is bucketBy-saved) — a caller-remembered
      // default of 32 on a 64-bucket index would silently halve the
      // layout's bucket count on the next compact and fire the rot
      // trigger at half its intended cadence
      val nBuckets = graft.engine.Store.bucketSpecOf(spark, table)
        .map(_.numBuckets).getOrElse(throw new IllegalArgumentException(
          s"bandIndexCycle: table `$table` carries no bucket spec — " +
            "not a bandIndexSave layout"))
      // same describe-row gating as compactOnRot: the listing is in
      // hand, don't pay it twice
      if (graft.engine.SafeFs.compactOnRot(d.getAs[Int]("data_files"),
          nBuckets, maxFilesPerBucket, "maxFilesPerBucket")(
          Dedup.compactBandIndex(spark, table, path, nBuckets)))
        CycleReport("band", "compact",
          s"file rot exceeded $maxFilesPerBucket files/bucket", d)
      else CycleReport("band", "none", "no trigger fired", d)
    }
  }

  /** The shared compact-on-rot arm ([[graft.engine.SafeFs.compactOnRot]])
    * gated on the describe row's OWN file count (taken post-heal in this
    * same cycle — current by construction) instead of paying
    * `ivfMaybeCompact`'s second recursive listing of the assigned tree,
    * the dominant metadata cost on an object store. */
  private def compactOnRot(spark: SparkSession, table: String,
      path: String, d: Row, maxFilesPerCell: Int): Boolean = {
    val nCells = d.getAs[Long]("n_cells").toInt
    graft.engine.SafeFs.compactOnRot(d.getAs[Int]("data_files"), nCells,
      maxFilesPerCell, "maxFilesPerCell")(
      Similarity.ivfCompact(spark, table, path, nCells))
  }

  /** The shared step-3 gate: a pending streaming journal blocks every
    * structural rewrite (their own guards would throw) — report it
    * instead of crash-looping an unattended job. */
  private def blockedOr(d: Row, layout: String)(body: => CycleReport)
      : CycleReport =
    if (d.getAs[Boolean]("stream_journal"))
      CycleReport(layout, "blocked",
        "pending streaming-ingest journal: replay the stream, then " +
          "re-run the cycle", d)
    else body
}
