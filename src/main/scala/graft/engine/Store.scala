package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage semantics of the reference's SQLite layer (S4/S7/S8/S9/S10/S11,
  * SURVEY §2.1) on partitioned parquet.
  *
  * Layout: `partitionBy(symbol, timeframe)` + `sortWithinPartitions(ts)` —
  * this single choice subsumes all three of the reference's secondary
  * indexes (database_handler.py:123-125): symbol/timeframe filters become
  * partition pruning, and a timestamp range reads the series' files
  * whole. `ts` is written as INT96 (Spark's default
  * `outputTimestampType`), whose parquet footers carry no statistics,
  * and Spark pushes timestamp predicates into parquet only for
  * TIMESTAMP_MICROS/MILLIS columns, so no row group is skipped on `ts`.
  * At 100 TB, add a coarse time bucket (e.g. `month(ts)`) as a
  * third partition column so a partition never exceeds executor-memory
  * scale; the API below is layout-agnostic. Every crash-sensitive file
  * step (partition and directory swaps, their heals) is [[SafeFs]]'s.
  */
object Store {

  /** PK of the OHLCV fact table (database_handler.py:110-122). */
  val pk: Seq[String] = Seq("ts", "symbol", "timeframe")

  /** Sibling meta dir holding a z-ordered data dir's streaming protocol
    * files (`IndexIngest.zOrderSink`): markers cannot live INSIDE the
    * dir — a bare parquet read would choke on them as data files. */
  private[graft] def zStreamMeta(path: String): String = path + "__stream"

  /** S7 keyed upsert: `INSERT OR REPLACE` ≡ union + last-writer-wins dedup
    * on the PK (database_handler.py:215-218). `incoming` beats `existing`;
    * within `incoming`, the row with the highest `seqCol` wins when one is
    * provided (the reference's executemany is last-wins by batch row order,
    * which is not a reproducible order — an explicit sequence column is the
    * deterministic equivalent). Without `seqCol`, `incoming` must be
    * PK-unique or the surviving duplicate is engine-chosen. Single shuffle
    * on the PK; at scale combine with partition-overwrite so only touched
    * (symbol, timeframe) partitions rewrite. */
  def upsert(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String] = pk, seqCol: Option[String] = None): DataFrame =
    latestByKey(existing, incoming, keys, seqCol, Nil)

  /** [[upsert]] with its one hash shuffle on the keys among `clusterBy`
    * (listed first in the window's keys): the window's PK clustering and
    * a write partitioned by `clusterBy` then share that exchange, and the
    * window's sort orders each partition by `clusterBy` first. When
    * `keys` holds none of `clusterBy`, the result is hash-partitioned on
    * `clusterBy` after the window, so each `clusterBy` value still lands
    * in one task. */
  private def latestByKey(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String], seqCol: Option[String],
      clusterBy: Seq[String]): DataFrame = {
    // stored data typically lacks the batch's ingest-sequence column;
    // `_src desc` already outranks it for existing rows, so null it in
    val exAligned = seqCol.filterNot(existing.columns.contains) match {
      case Some(c) =>
        existing.withColumn(c, lit(null).cast(incoming.schema(c).dataType))
      case None => existing
    }
    val tagged = exAligned.withColumn("_src", lit(0))
      .unionByName(incoming.withColumn("_src", lit(1)))
    val lead = clusterBy.filter(keys.contains)
    val clustered =
      if (lead.isEmpty) tagged else tagged.repartition(lead.map(col): _*)
    val order = col("_src").desc +: seqCol.map(c => col(c).desc).toSeq
    val w = Window.partitionBy((lead ++ keys.filterNot(lead.contains)).map(col): _*)
      .orderBy(order: _*)
    val latest = clustered.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
    // keys holding none of `clusterBy`: the window hashes on the keys
    // alone, so the write needs its own exchange on `clusterBy`
    if (lead.isEmpty && clusterBy.nonEmpty) latest.repartition(clusterBy.map(col): _*)
    else latest
  }

  /** Write the fact table in the canonical layout. */
  def save(df: DataFrame, path: String): Unit =
    df.repartition(col("symbol"), col("timeframe"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite")
      .partitionBy("symbol", "timeframe")
      .parquet(path)

  /** A write batch staged once ([[SafeFs.stage]]) with its row count and
    * its [[deriveMeta]] rows: one per (symbol, timeframe) series it
    * touches, with the series' min and max `ts`. */
  private[graft] final case class StagedBatch(df: DataFrame, rows: Long,
      meta: Seq[org.apache.spark.sql.Row]) {
    def parts: Seq[(String, String)] =
      meta.map(r => (r.getString(0), r.getString(1))).sorted
  }

  /** Stage `incoming` (one job, the only evaluation of its lineage — for
    * a REST-backed fetch, the only network pull) and derive its series
    * in one more job: a single partition satisfies the aggregate's
    * clustering, so no exchange is planned. An empty batch runs only the
    * staging job. NULL keys are refused here: Spark writes them to
    * __HIVE_DEFAULT_PARTITION__ directories, which the swap's
    * escapePathName paths never match and the store's key filters never
    * read. Run under [[SafeFs.withRddCleanup]]. */
  private[graft] def stageBatch(incoming: DataFrame): StagedBatch = {
    val (df, rows) = SafeFs.stage(incoming)
    val meta =
      if (rows == 0) Nil else deriveMeta(df.coalesce(1)).collect().toSeq
    require(meta.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "upsertSave: incoming rows with NULL symbol/timeframe partition " +
        "keys are not storable — filter or repair them first")
    StagedBatch(df, rows, meta)
  }

  /** Partition-scoped upsert — the 100 TB form of S7: merge `incoming`
    * only with the (symbol, timeframe) partitions it touches, then swap
    * JUST those partitions in. Untouched partitions are never read or
    * written, so cost scales with the batch, not the table. `incoming`
    * is evaluated once ([[stageBatch]]); an empty batch writes nothing.
    *
    * Crash consistency: the merged data lands in a sibling `__upserting`
    * directory first — the live table is not touched until every byte
    * is written — then the touched partition directories swap in as
    * units of [[SafeFs.swapUnits]] (live → `__old` backup tree, tmp →
    * live; the protocol, its rollback and its heal live there). Dynamic
    * partition overwrite would delete the matched partition at
    * job-commit time, before the staged files move in — a crash in that
    * window loses the partition. The touched-partition list is
    * driver-collected — bounded by the batch's distinct series — and the
    * live read lists only those partitions' directories.
    *
    * The two-rename discipline ASSUMES atomic directory rename
    * (HDFS/posix/abfs). On stores whose rename is an emulated copy+delete
    * (S3A and friends) it would reintroduce the very crash window it
    * closes, so [[atomicRename]] gates it and the fallback is Spark's
    * dynamic partition overwrite from the staged tmp — same touched-only
    * cost, consistency owned by the committer. */
  def upsertSave(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String] = pk): Unit =
    SafeFs.withRddCleanup(spark) {
      upsertSave(spark, path, stageBatch(incoming), keys)
    }

  /** [[upsertSave]] of a batch already staged by [[stageBatch]]: its
    * touched series are both the live read's filter and the swap list,
    * so the tmp directories and the parts handed to the swap come from
    * the same rows. One hash shuffle on (symbol, timeframe) serves the
    * merge's window and the partitioned write whenever `keys` holds a
    * layout key (the PK does). */
  private[graft] def upsertSave(spark: SparkSession, path: String,
      batch: StagedBatch, keys: Seq[String]): Unit = {
    if (batch.rows == 0) return
    // a previously interrupted swap must be repaired BEFORE `existing`
    // is read — a partition stranded in the backup tree would otherwise
    // be invisible to the merge and the replayed batch would overwrite
    // it with only its own rows
    healInterruptedPartitionSwap(spark, path)
    val incoming = batch.df
    val sortedParts = batch.parts
    val fs = SafeFs.fs(spark, path)
    // only the touched partitions that exist are listed and read
    val live = sortedParts.map(partitionDir(path, _)).filter(fs.exists)
    // explicit schema — a bare read would partition-TYPE-infer the
    // directory keys, so a numeric-looking symbol ("007") comes back as
    // IntegerType 7, and the union inside `upsert` would widen it to the
    // string "7": the live "007" rows would be rewritten as symbol "7".
    // Pinning to `incoming`'s schema also projects to exactly its columns.
    val existing =
      if (live.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        // nullable, as a parquet read is: the merge writes the same
        // file schema whether or not the series had live rows
        org.apache.spark.sql.types.StructType(
          incoming.schema.map(_.copy(nullable = true))))
      else spark.read.schema(incoming.schema).option("basePath", path)
        .parquet(live.map(_.toString): _*)
    val layout = Seq("symbol", "timeframe")
    val merged = latestByKey(existing, incoming, keys, None, layout)
    val tmp = path + "__upserting"
    // materializes `merged` (which READS the live table) before any
    // mutation of the live table — the read/overwrite hazard compact
    // also avoids. The window already sorted each partition by the
    // layout keys, so this order adds no sort when `ts` is a key.
    merged.sortWithinPartitions((layout :+ "ts").map(col): _*)
      .write.mode("overwrite")
      .partitionBy(layout: _*)
      .parquet(tmp)
    if (atomicRename(spark, fs)) {
      swapPartitions(spark, path, tmp, sortedParts)
    } else {
      // Store without atomic directory rename (S3A and friends): the
      // two-rename swap's crash guarantee does not hold there — a "rename"
      // is a non-atomic copy+delete, so a mid-swap crash can leave a
      // partition half-copied. Fall back to Spark's dynamic partition
      // overwrite FROM THE STAGED TMP (already fully written, so the
      // read/overwrite hazard is gone): only touched partitions rewrite,
      // and the commit protocol — not our renames — owns consistency.
      // Explicit schema for the same inference reason as the live read
      // above: symbol "007" read back as IntegerType 7 would overwrite
      // the WRONG live partition while the real one goes stale. The
      // staged tmp has exactly `merged`'s schema (= incoming's).
      spark.read.schema(incoming.schema).parquet(tmp)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("symbol", "timeframe")
        .parquet(path)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      spark.catalog.refreshByPath(path)
    }
  }

  /** Read the canonical store with the `symbol`/`timeframe` layout keys
    * pinned to STRING. A bare `spark.read.parquet` partition-type-infers
    * the directory keys, so a numeric-looking symbol ("007") comes back
    * as IntegerType 7 — colliding with a real symbol "7" (both
    * directories parse to the same value), matching the wrong rows in
    * key filters, and — through [[compact]]'s rewrite — permanently
    * merging the two partitions on disk. Data columns keep the schema
    * stored in the parquet footers; only the two layout keys are pinned.
    *
    * The schema is read WITHOUT a Spark job: Spark's own inference runs a
    * one-task job to read a single footer, which on a small interactive
    * scan costs more than the scan. [[SafeFs.footerSchema]] reads that same
    * footer on the driver, so the frame is built from one listing and
    * one footer read; the result's columns, order and types are exactly
    * what the inferring read gave. */
  private[graft] def readCanonical(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // a [[compact]] killed between its two renames leaves no live dir —
    // roll the completed rewrite forward before reading (one existence
    // probe when healthy)
    SafeFs.healDir(spark, path)
    val keys = Seq("symbol", "timeframe")
    SafeFs.footerSchema(spark, path) match {
      // Spark's column order: data columns first (a key stored in the
      // files keeps its place), then the directory keys
      case Some(data) =>
        spark.read.schema(StructType(
          data.map(f => if (keys.contains(f.name)) f.copy(dataType = StringType) else f) ++
            keys.filterNot(data.fieldNames.contains).map(StructField(_, StringType))))
          .parquet(path)
      // a valid-but-EMPTY store (first save fetched zero rows; last
      // series deleted) has no footers to read — an empty frame in the
      // canonical layout is the correct read, not a crash
      // (MarketData.facts() makes the same call for the same reason)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          graft.sources.KlineSource.schema)
    }
  }

  /** Does this FileSystem give the ATOMIC directory rename the two-rename
    * swap discipline assumes? HDFS/posix/abfs do; object-store connectors
    * that emulate rename as copy+delete (s3a, gs, oss, …) do not — there a
    * crash mid-"rename" leaves a partition half-copied, which is exactly
    * the window the swap exists to close. Scheme allowlist (Hadoop's
    * `PathCapabilities` has no atomic-rename probe), overridable for
    * unusual stores via hadoop conf `graft.store.rename.atomic`. */
  private[graft] def atomicRename(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem): Boolean =
    Option(spark.sparkContext.hadoopConfiguration
        .get("graft.store.rename.atomic")) match {
      case Some(v) => v.toBoolean
      case None =>
        Set("file", "hdfs", "viewfs", "abfs", "abfss", "local")
          .contains(fs.getUri.getScheme)
    }

  /** The directory of one (symbol, timeframe) partition under `root`. The
    * values are escaped exactly the way Spark's write path escapes them
    * (escapePathName percent-encodes ':', '%', control and path chars) —
    * a raw s"symbol=$sym" for a symbol with any of those names a
    * directory the written partition never matches. */
  private[graft] def partitionDir(root: String,
      part: (String, String)): org.apache.hadoop.fs.Path = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    new org.apache.hadoop.fs.Path(
      s"$root/symbol=${escapePathName(part._1)}/timeframe=${escapePathName(part._2)}")
  }

  /** Swap `parts` partition directories from `tmp` into the live table at
    * `path` — [[SafeFs.swapUnits]], one unit per partition, backups
    * under `path + "__old"`; rolls back completed swaps and throws on any
    * failed rename. `failAfter` injects a rename failure after N
    * successful swaps — test-only, exercised by StoreSpec's
    * crash-consistency case. */
  private[graft] def swapPartitions(spark: SparkSession, path: String,
      tmp: String, parts: Seq[(String, String)],
      failAfter: Int = Int.MaxValue): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = SafeFs.fs(spark, path)
    val bakRoot = SafeFs.backup(path)
    SafeFs.swapUnits(fs, parts.map(part => (partitionDir(path, part),
        partitionDir(tmp, part), partitionDir(bakRoot, part))),
      new Path(bakRoot), "upsertSave", failAfter)
    // the tmp remainder (_SUCCESS etc.); on failure tmp is KEPT — the
    // merged bytes are intact there, so a retry needs no recompute
    fs.delete(new Path(tmp), true)
    // the renames happened OUTSIDE Spark's write path, so the session's
    // FileStatusCache still lists the displaced files — Spark's own
    // overwrite commands invalidate it internally; a manual swap must too,
    // or the next read of `path` fails with FAILED_READ_FILE
    spark.catalog.refreshByPath(path)
  }

  /** Repair a [[swapPartitions]] interrupted INSIDE a partition's
    * two-rename window (or whose rollback could not restore every
    * partition): the partition is then in NEITHER place in the live
    * view, and nothing else detects it ([[SafeFs.healDir]] repairs only
    * a missing table ROOT). The backup tree is the signal: it exists
    * only during a swap or after a crash, so restore every backed-up
    * partition the live table is missing ([[SafeFs.healSwap]], rolling
    * BACK), then drop the tree. Restoring OLD bytes is correct — the
    * interrupted batch replays (streaming) or retries (batch) and the
    * idempotent PK merge converges; the stranded `__upserting` tmp is
    * left as a retry artifact (the next upsert overwrites it). One
    * existence probe when healthy.
    *
    * Called ONLY from the single-writer entry ([[upsertSave]]), never
    * from reader paths: the backup tree legitimately exists for the
    * whole duration of a HEALTHY swap, and a reader healing then would
    * fight the live writer. A reader in the crash window merely sees
    * the partition missing until the next upsert heals it. */
  private[graft] def healInterruptedPartitionSwap(spark: SparkSession,
      path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val bakRoot = new Path(SafeFs.backup(path))
    val fs = SafeFs.fs(spark, path)
    if (!fs.exists(bakRoot)) return false
    // backup layout mirrors the live layout: symbol=…/timeframe=…
    val healed = fs.listStatus(bakRoot).filter(_.isDirectory).flatMap { symDir =>
      fs.listStatus(symDir.getPath).filter(_.isDirectory).map { tfDir =>
        SafeFs.healSwap(fs, new Path(
            s"$path/${symDir.getPath.getName}/${tfDir.getPath.getName}"),
          None, tfDir.getPath, "partition-swap heal")
      }
    }.contains(true)
    SafeFs.clear(fs, bakRoot, "partition-swap heal")
    if (healed) spark.catalog.refreshByPath(path)
    healed
  }

  /** Small-files compaction — the storage-maintenance op incremental
    * upsert ingest (S7) eventually needs at scale: every micro-batch
    * appends small files, and a 100 TB table degrades into millions of
    * them (slow listings, tiny row groups, no skipping). Rewrites the
    * table at `targetFileBytes` granularity using a RANGE repartition on
    * (symbol, timeframe, ts), which both merges small files and splits
    * oversized series into ts-contiguous files (no `ts` statistics are
    * written, see the header, so no read skips any of them on `ts`).
    * The rewrite lands in a sibling directory and swaps in with
    * [[SafeFs.swapDir]]; a crash between its renames heals on the next
    * read. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val it = SafeFs.fs(spark, path)
      .listFiles(new org.apache.hadoop.fs.Path(path), true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = readCanonical(spark, path)
    df.repartitionByRange(nOut, col("symbol"), col("timeframe"), col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite")
      .partitionBy("symbol", "timeframe")
      .parquet(SafeFs.staged(path))
    SafeFs.swapDir(spark, path, "compact")
    // the swap bypassed Spark's write path — invalidate the session's
    // file listing + cache state, or a cached frame over `path` reads
    // the deleted pre-compact files (the same rule swapPartitions and
    // compactBucketed already follow)
    spark.catalog.refreshByPath(path)
    nOut
  }

  /** S4 range scan: key predicates prune partitions, the ts range
    * filters every row of the series' files (no row-group skipping on
    * `ts`, see the header), rows come back in `ts` order
    * (database_handler.py:329-332). Spark plans the order as a range
    * exchange plus its sampling job; in a session with
    * [[graft.functions.GraftExtensions]], a series whose files total at
    * most 32 MiB is sorted in one partition instead
    * ([[graft.plans.SmallSortRewrite]]). */
  def scan(spark: SparkSession, path: String, symbol: String,
      timeframe: String, startTs: java.sql.Timestamp,
      endTs: java.sql.Timestamp): DataFrame =
    rangeRead(spark, path, symbol, timeframe, startTs, endTs).orderBy("ts")

  /** [[scan]] without its `ts` order, for consumers whose result does not
    * depend on row order (an aggregate keyed on `ts`). The optimizer
    * keeps a sort below `min_by`/`max_by`, and the small-sort rule only
    * reaches a sort at the plan's root, so an ordered input would cost
    * those consumers a range exchange and its sampling job in any
    * session. */
  private[graft] def rangeRead(spark: SparkSession, path: String,
      symbol: String, timeframe: String, startTs: java.sql.Timestamp,
      endTs: java.sql.Timestamp): DataFrame =
    readCanonical(spark, path)
      .filter(col("symbol") === symbol && col("timeframe") === timeframe &&
        col("ts").between(startTs, endTs))

  /** Bucketed co-located layout — the shuffle-free-join story at 100 TB.
    * Two tables written with the SAME bucket count and key join (and
    * aggregate on that key) with NO exchange on either side: each task
    * reads matching bucket files directly, so the cluster's largest
    * recurring shuffle (fact⋈fact on the join key) disappears from every
    * downstream query, paid once at write time. `sortBy` keeps buckets
    * ts-ordered so sort-merge reads skip the per-task sort too.
    * Registered as an external table at `path` (bucket metadata lives in
    * the session catalog — Spark's bucketing contract); pair with
    * `spark.sql.sources.bucketing.enabled` (default on).
    * BucketingSpec asserts the no-exchange plans. */
  def saveBucketed(df: DataFrame, table: String, path: String,
      numBuckets: Int, bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    // co-locate each bucket into one task first: repartition's
    // HashPartitioning uses the same murmur3 hash as the bucket-id
    // assignment, so with numPartitions == numBuckets every task holds
    // exactly one bucket ⇒ exactly one file per bucket. Without this,
    // every input partition writes its own file into every bucket —
    // P×buckets small files, and Spark only reports the bucket SORT
    // order (what makes sortBy useful) for single-file buckets.
    val prepared = df.repartition(numBuckets, bucketCols.map(col): _*)
    val w = prepared.write.mode("overwrite").option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** The bucket spec the session catalog holds for `table` (count,
    * bucket columns, sort columns); None when the table is not bucketed.
    * Catalog metadata only — no query, no job. */
  private[graft] def bucketSpecOf(spark: SparkSession,
      table: String): Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec

  /** (Re-)register an external bucketed parquet table over files that
    * ALREADY carry the bucket-id file naming (written by
    * [[saveBucketed]] and possibly directory-renamed since) — no data
    * movement, schema read from a footer ([[SafeFs.readParquet]]).
    * This is how a layout change commits to the catalog:
    * `Similarity.ivfRetrain` swaps in an assigned tree bucketed under a
    * NEW modulus, and the catalog's
    * bucket spec must follow atomically-enough that a crash between
    * drop and create is repairable (the caller re-runs; `ivfLoad`
    * re-registers from the published centroid count). The spec MUST
    * match how the files were physically written: a wrong `numBuckets`
    * here makes bucket pruning silently select the wrong file groups —
    * same failure [[compactBucketed]]'s guard exists for. */
  private[graft] def registerBucketedExternal(spark: SparkSession,
      table: String, path: String, numBuckets: Int,
      bucketCols: Seq[String]): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // bucketing DDL requires an explicit column list
    // (SPECIFY_BUCKETING_IS_NOT_ALLOWED otherwise) — read it from a
    // footer of the files being registered
    val schema = SafeFs.readParquet(spark, path).schema
    val cols = bucketCols.map(c => s"`$c`").mkString(", ")
    spark.sql(s"CREATE TABLE `$table` (${schema.toDDL}) USING parquet " +
      s"CLUSTERED BY ($cols) INTO $numBuckets BUCKETS " +
      s"LOCATION '$path'")
  }

  /** Append a Z-order (Morton) value column `_z` interleaving the bits
    * of two-or-more numeric/timestamp columns, each min–max scaled to
    * `bits` bits. Built entirely from codegen'd Column arithmetic (the
    * "compose existing ops" rung — no UDF, no custom expression): cell
    * extraction is a shift/mask per bit and the interleave is a sum of
    * disjoint bit positions. The min/max scalars ride as a lazy 1-row
    * broadcast crossJoin (the x56/x68 device — no job fires until the
    * caller acts). NULL in any z-column ⇒ NULL `_z` (range-partitions
    * first, harmless for clustering).
    *
    * Min–max scaling is OUTLIER-SENSITIVE: one extreme value compresses
    * every other row into a few cells and the dimension stops
    * discriminating. `rank = true` switches the cell function to
    * QUANTILE buckets (the range-partition-id form): per column, an
    * approximate-quantile sketch (`approxQuantile`, one pass over all
    * z-columns together — the same sampling machinery
    * repartitionByRange uses) yields 2^bits−1 boundaries, and the cell
    * is a codegen'd upper-bound binary search
    * ([[graft.functions.BucketIdF]]). Equal-population cells on ANY
    * distribution — a heavy tail costs nothing (ZOrderSpec carries the
    * fixture where min–max stops pruning and rank keeps it). The trade:
    * the sketch pass is an EAGER job at call time (min–max stays a lazy
    * 1-row crossJoin), and boundaries are approximate — which only
    * shifts cell edges, never correctness (files carry raw columns). */
  private[graft] def withZValue(df: DataFrame, cols: Seq[String],
      bits: Int = 16, rank: Boolean = false): DataFrame = {
    require(cols.size >= 2, "z-order interleaving needs >= 2 columns")
    require(cols.size * bits <= 62,
      s"z-value would overflow a long: ${cols.size} cols x $bits bits")
    val numeric = cols.map { c =>
      val base = df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.TimestampType => unix_millis(col(c))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          // NTZ has no epoch conversion without a zone; bit-scaling only
          // needs ORDER, so the naive UTC reinterpretation is correct
          unix_millis(col(c).cast("timestamp"))
        case _ => col(c)
      }
      base.cast("double")
    }
    val nCols = cols.size
    def interleave(cells: Seq[org.apache.spark.sql.Column])
        : org.apache.spark.sql.Column =
      (0 until bits).flatMap { b =>
        cells.zipWithIndex.map { case (cell, j) =>
          shiftleft(shiftright(cell, b).bitwiseAND(lit(1L)), b * nCols + j)
        }
      }.reduce(_ + _) // disjoint bit positions: + ≡ bitwise OR
    if (rank) {
      val nBuckets = 1 << bits
      val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
      // one sketch pass for ALL z-columns; relative error only blurs
      // cell EDGES (clustering locality), never row contents
      val relErr = math.max(1e-4, 0.25 / nBuckets)
      val bnds = df
        .select(numeric.zipWithIndex.map { case (n, i) => n.as(s"_zq$i") }: _*)
        .stat.approxQuantile(
          (0 until nCols).map(i => s"_zq$i").toArray, probs, relErr)
      val cells = numeric.zipWithIndex.map { case (n, i) =>
        if (bnds(i).isEmpty) lit(0L) // empty input: no boundaries, one cell
        else org.apache.spark.sql.GraftBridge.column(
          graft.functions.BucketIdF(
            org.apache.spark.sql.GraftBridge.expression(n),
            bnds(i).toIndexedSeq)).cast("long")
      }
      df.withColumn("_z", interleave(cells))
    } else {
      val aggs = numeric.zipWithIndex.flatMap { case (n, i) =>
        Seq(min(n).as(s"_zmn$i"), max(n).as(s"_zmx$i")) }
      val stats = df.agg(aggs.head, aggs.tail: _*)
      val maxCell = (1L << bits) - 1
      val cells = numeric.zipWithIndex.map { case (n, i) =>
        val (mn, mx) = (col(s"_zmn$i"), col(s"_zmx$i"))
        when(mx > mn,
          floor((n - mn) / (mx - mn) * lit(maxCell.toDouble)).cast("long"))
          .otherwise(lit(0L))
      }
      df.crossJoin(broadcast(stats))
        .withColumn("_z", interleave(cells))
        .drop((0 until nCols).flatMap(i => Seq(s"_zmn$i", s"_zmx$i")): _*)
    }
  }

  /** Write `df` Z-order-clustered on `cols` — the multi-dimensional
    * file-skipping layout (the Delta/Iceberg `OPTIMIZE ZORDER BY`
    * capability, Spark-first). A linear `sortWithinPartitions(ts)`
    * layout prunes ts predicates perfectly and key predicates not at
    * all (every file spans every key); range-partitioning + sorting on
    * the interleaved Morton value clusters BOTH dimensions, so
    * per-file/row-group min–max stats are tight on every z-column at
    * once and parquet's pushed-filter row-group skipping (plus any
    * file-stats index at 100 TB) prunes point predicates on EITHER
    * dimension to ~sqrt-ish of the data — the standard trade: each
    * single dimension prunes somewhat worse than a layout sorted on it
    * alone, every other dimension prunes enormously better.
    * ZOrderSpec measures candidate-file counts from the written footer
    * stats; the wall-clock/bytes evidence is historical
    * (`ZORDER_BENCH_r11/r12.json`, from a bench tool since removed).
    *
    * One shuffle (the range partition on `_z`) at write time — layout
    * cost identical in shape to [[save]]'s repartition. `nFiles` sizes
    * the output; at 100 TB pick it from target file size (~1 GB), and
    * combine with a coarse partition column exactly as [[save]]'s
    * scaladoc describes. */
  def saveZOrdered(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 16, nFiles: Int = 32, rank: Boolean = false): Unit =
    writeZ(df, path, cols, bits, nFiles, "overwrite", rank)

  private def writeZ(df: DataFrame, target: String, cols: Seq[String],
      bits: Int, nFiles: Int, mode: String, rank: Boolean = false): Unit = {
    val spark = df.sparkSession
    // RangePartitioner's default 100 samples/input-partition makes the
    // file boundaries — and with them every file's stat tightness —
    // wobble with the sampling seed (which derives from the RDD id,
    // i.e. session history). A clustering write exists FOR tight
    // per-file stats, so pin the boundaries: 10k samples/partition is
    // noise next to the shuffle itself and lands near-exact quantiles
    // of `_z` at any scale. Saved/restored around the one eager write
    // (sequential writers per session — the single-writer discipline
    // every sink here already assumes).
    val key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      math.max(prev.map(_.toInt).getOrElse(100), 10000).toString)
    try {
      withZValue(df, cols, bits, rank)
        .repartitionByRange(nFiles, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode).parquet(target)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Append a batch to a [[saveZOrdered]] directory. The batch is
    * clustered over its OWN min–max — local scaling affects only
    * clustering locality, never correctness (files carry the raw
    * columns; the new files' stats bound exactly the batch) — and lands
    * as `nFiles` extra files (default 1: a daily batch rarely merits
    * more). Rot: appended files' stat ranges overlap the base layout's,
    * so candidate-file counts creep with every append — re-cluster with
    * [[compactZOrdered]] / [[maybeCompactZOrdered]], the same
    * append-then-compact contract as the maintained indexes. */
  def appendZOrdered(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 16, nFiles: Int = 1, rank: Boolean = false): Unit =
    writeZ(df, path, cols, bits, nFiles, "append", rank)

  /** Re-cluster a z-ordered directory in place: global min–max over the
    * whole accumulated data (base + appends), rewritten to `nFiles`
    * z-sorted files, swapped in with [[SafeFs.swapDir]] (this method
    * heals any prior swap debris before starting). */
  def compactZOrdered(spark: SparkSession, path: String, cols: Seq[String],
      bits: Int = 16, nFiles: Int = 32, rank: Boolean = false): Unit = {
    SafeFs.healDir(spark, path)
    // folding a crashed append's partial files into the re-clustered set
    // would destroy the manifest repair path (z rows have no PK)
    SafeFs.requireHealed(SafeFs.fs(spark, path), zStreamMeta(path),
      Seq(SafeFs.StreamJournal), "resume the stream (or repair and " +
        "clear the journal) before re-clustering")
    writeZ(spark.read.parquet(path), SafeFs.staged(path), cols, bits, nFiles,
      "overwrite", rank)
    SafeFs.swapDir(spark, path, "compactZOrdered")
    spark.catalog.refreshByPath(path)
  }

  /** Re-cluster only once file rot exceeds `maxFiles`
    * ([[SafeFs.compactOnRot]]). Returns true iff a re-cluster ran. */
  def maybeCompactZOrdered(spark: SparkSession, path: String,
      cols: Seq[String], bits: Int = 16, nFiles: Int = 32,
      maxFiles: Int = 64, rank: Boolean = false): Boolean = {
    // heal BEFORE the rot count: during an interrupted swap no live dir
    // exists and dataFileCount would report 0 — silently skipping the
    // compaction that would have repaired the layout
    SafeFs.healDir(spark, path)
    SafeFs.compactOnRot(dataFileCount(spark, path), 1, maxFiles,
      "maxFiles")(compactZOrdered(spark, path, cols, bits, nFiles, rank))
  }

  /** Read-only observability over a [[saveZOrdered]] layout — the
    * z-order member of the describe family
    * ([[graft.ext.Similarity.ivfDescribe]],
    * [[graft.ext.Dedup.bandIndexDescribe]]), same contract: never
    * heals, metadata only (footer row counts + namenode listings — the
    * data pages are untouched), safe from a monitoring job while a
    * stream appends. One row: `data_files` (the
    * [[maybeCompactZOrdered]] rot input), `rows` (footer metadata),
    * `stream_journal` (an unhealed streaming append — the sink's next
    * replay classifies and repairs it), `stream_manifest` (a pre-append
    * file manifest is staged: an append is in flight or died — with the
    * journal also present, replay repairs; alone it is stale debris the
    * next sink epoch clears). The z columns/bits are a WRITE-time
    * argument, not persisted state, so clustering quality is a separate
    * question answered by [[zOrderClusterDepth]] for the columns you
    * ask about. */
  def zOrderDescribe(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no z-ordered layout at $path (an interrupted re-cluster leaves " +
        "no live dir — any load/compact path heals it first)")
    val meta = zStreamMeta(path)
    Seq((dataFileCount(spark, path), SafeFs.footerRows(spark, path),
        fs.exists(new Path(s"$meta/${SafeFs.StreamJournal}")),
        fs.exists(new Path(
          s"$meta/${graft.streaming.IndexIngest.StreamManifest}"))))
      .toDF("data_files", "rows", "stream_journal", "stream_manifest")
  }

  /** Clustering-quality ("depth") report for a z-ordered layout, from
    * parquet FOOTERS only: for each requested column, the expected
    * number of files a point query must read — a point drawn uniformly
    * from the column's global range hits file `f` with probability
    * `len_f / global_len`, so the expectation is the sum of per-file
    * range fractions. Freshly clustered single-column layouts sit near
    * 1.0; every [[appendZOrdered]] batch (clustered over its OWN
    * min–max) overlaps the base files and pushes the number toward
    * `data_files` — re-cluster when it drifts
    * ([[compactZOrdered]] restores the floor). This is the
    * measure-of-rot that FILE COUNT alone misses: 64 well-separated
    * files are healthy, 8 fully-overlapping ones are not.
    *
    * One row per column: `column`, `avg_candidate_files`, `n_files`
    * (files with usable stats for that column), `global_min`,
    * `global_max`. Columns whose footers carry no numeric stats
    * (INT96 timestamps, all-null) report null metrics rather than
    * failing the whole describe. A degenerate global range (all files
    * one value) reports `n_files` — every file is a candidate. Cost:
    * one footer seek per file per column, driver-side — bounded
    * wherever [[maybeCompactZOrdered]] keeps file counts bounded, the
    * same assumption every heal/manifest path here already makes. */
  def zOrderClusterDepth(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    import spark.implicits._
    require(cols.nonEmpty, "zOrderClusterDepth: pass the z columns")
    val files = dataFileList(spark, path).map(rel => s"$path/$rel")
    cols.map { c =>
      // Try: non-NUMERIC footer stats (a string column) surface as
      // sys.error in footerMinMax — downgrade to "no usable stats"
      // here, like stats-free INT96 columns
      val ranges = files.flatMap(f =>
        scala.util.Try(footerMinMax(spark, f, c)).toOption.flatten)
      if (ranges.isEmpty)
        (c, None: Option[Double], 0, None: Option[Double],
          None: Option[Double])
      else {
        val gMin = ranges.map(_._1).min
        val gMax = ranges.map(_._2).max
        val depth =
          if (gMax == gMin) ranges.size.toDouble
          else ranges.map { case (lo, hi) => (hi - lo) / (gMax - gMin) }.sum
        (c, Some(depth), ranges.size, Some(gMin), Some(gMax))
      }
    }.toDF("column", "avg_candidate_files", "n_files", "global_min",
      "global_max")
  }

  /** A numeric column's [min, max] from one parquet file's FOOTER
    * statistics — the metadata a file-stats index / row-group skipper
    * prunes with, read without touching a data page (one footer seek
    * per file, vs the full-file scan the evidence tooling previously
    * paid — ADVICE r12). Unions all row groups; None when the column
    * has no non-null stats. Long/int/double/float footer mins all
    * surface as `Comparable` boxed numbers, hence the Number fold. */
  private[graft] def footerMinMax(spark: SparkSession, file: String,
      column: String): Option[(Double, Double)] = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sparkContext.hadoopConfiguration))
    try {
      val stats = reader.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == column)
        .map(_.getStatistics)
        .filter(s => s != null && s.hasNonNullValue)
      def d(v: Any): Double = v match {
        case n: java.lang.Number => n.doubleValue
        case other => sys.error(
          s"footerMinMax($column): non-numeric footer statistic $other")
      }
      if (stats.isEmpty) None
      else Some((stats.map(s => d(s.genericGetMin)).min,
        stats.map(s => d(s.genericGetMax)).max))
    } finally reader.close()
  }

  /** Compaction for a [[saveBucketed]]-style BUCKETED table — the
    * maintained-index hygiene step. Every index append
    * (`Dedup.bandIndexAppend`, `Similarity.ivfAppendSave`) adds one file
    * per touched bucket; after N ingests a probe reads N files per
    * probed bucket — the classic slow-rot failure of bucketed-append
    * designs. [[compact]] cannot be reused here: it rewrites through a
    * plain `.parquet` write, which would silently drop the bucket
    * metadata and file-level bucket-id assignment — probes would lose
    * `SelectedBucketsCount` pruning forever.
    *
    * This variant rewrites THROUGH the bucketing writer (same bucket
    * count, same murmur3 bucket function ⇒ identical bucket ids) into a
    * sibling directory, then swaps it in with [[SafeFs.swapDir]] — the
    * catalog entry for `table` is untouched
    * (its bucket spec still matches the rewritten files), so pruning
    * survives; BucketingSpec asserts it end-to-end. One task per bucket
    * at write time ⇒ exactly one file per bucket afterwards.
    *
    * `transform` filters/reshapes the rows mid-rewrite (identity by
    * default) — the index-delete paths fold their tombstones here
    * (`Dedup.compactBandIndex`, `Similarity.ivfCompact`). It must not
    * change the bucket-column values (rows would land in a file whose
    * bucket id no longer matches their hash) and must not claim an
    * output partitioning that lets the optimizer elide the clustering
    * exchange (a broadcast anti-join claims none). */
  def compactBucketed(spark: SparkSession, table: String, path: String,
      numBuckets: Int, bucketCols: Seq[String],
      sortCols: Seq[String] = Nil,
      transform: DataFrame => DataFrame = identity): Unit = {
    // guard the caller-passed spec against the catalog's: a mismatched
    // count would rewrite files under hash%numBuckets while the catalog
    // keeps the old modulus — bucket pruning would then silently select
    // the WRONG file groups (incomplete probe results, no error)
    bucketSpecOf(spark, table).foreach { spec =>
      require(spec.numBuckets == numBuckets,
        s"compactBucketed: table `$table` is bucketed into " +
          s"${spec.numBuckets} buckets but the caller passed $numBuckets " +
          "— a rewrite would silently rebucket the files against the " +
          "catalog spec")
      require(spec.bucketColumnNames == bucketCols,
        s"compactBucketed: table `$table` buckets by " +
          s"${spec.bucketColumnNames} but the caller passed $bucketCols")
    }
    val tmpTable = table + "__compacting"
    // read the files PLAIN, not via spark.table: a bucketed-scan source
    // claims HashPartitioning(bucketCols) and the optimizer elides
    // saveBucketed's repartition as redundant — after which the
    // autoBucketedScan rule, seeing no operator that needs bucketing,
    // demotes the scan to packed file splits and each write task emits
    // files for every bucket in its split (measured: 13 files for 8
    // buckets). A plain parquet read claims nothing, so the clustering
    // exchange stands and each bucket lands in exactly one task/file.
    saveBucketed(transform(SafeFs.readParquet(spark, path)), tmpTable,
      SafeFs.staged(path), numBuckets, bucketCols, sortCols)
    // external table: dropping it keeps the rewritten files on disk
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    SafeFs.swapDir(spark, path, "compactBucketed")
    spark.catalog.refreshTable(table)
  }

  /** Repair an interrupted [[compact]] / [[compactBucketed]] /
    * [[compactZOrdered]] directory swap at `path` — [[SafeFs.healDir]],
    * which every loader of a swap-managed directory calls before
    * reading. Returns true iff a repair ran — callers should
    * `refreshTable` then.
    *
    * Concurrency note: a reader that heals DURING a live swap (it
    * observed the instant between the compactor's two renames) rolls
    * the rewrite forward itself; the compactor's own second rename then
    * fails and it reports an IOException — but the live tree is already
    * the completed rewrite, and the stranded `__old` backup is cleared
    * by the next compact. Same single-writer expectation as the index
    * mutation paths; concurrent READERS are safe either way. */
  def healInterruptedSwap(spark: SparkSession, path: String): Boolean =
    SafeFs.healDir(spark, path)

  /** Number of COMMITTED parquet data files under `path`, recursively —
    * the "rot" metric [[SafeFs.compactOnRot]] thresholds on, and the
    * history-exists probe of the streaming corpus ingest. Pure
    * namenode metadata (one recursive listing, no file reads); 0 for a
    * missing path. Files under hidden-prefixed components (`_temporary`
    * crash debris, `_manifest`, dot-dirs) are excluded — Spark's own
    * data-file convention — so an uncommitted write never counts as
    * data. */
  def dataFileCount(spark: SparkSession, path: String): Int =
    dataFileList(spark, path).size

  /** The committed parquet data files under `path` as RELATIVE paths
    * (same traversal and hidden-component rules as [[dataFileCount]]).
    * Namenode metadata only; the list is O(#files) — bounded wherever a
    * compact-on-rot policy runs. The streaming z-order sink stages this
    * as its pre-append manifest: a torn append's repair is then "delete
    * every data file NOT in the manifest", which restores exactly the
    * pre-append state. */
  private[graft] def dataFileList(spark: SparkSession,
      path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = SafeFs.fs(spark, path)
    if (!fs.exists(p)) Nil
    else {
      val base = fs.makeQualified(p).toString.stripSuffix("/")
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        // relative path below `path`: hidden components anywhere under
        // the base exclude the file; the base's own name may be hidden
        val rel = f.toString.stripPrefix(base).stripPrefix("/")
        val hidden = rel.split('/')
          .exists(s => s.startsWith("_") || s.startsWith("."))
        if (f.getName.endsWith(".parquet") && !hidden) out += rel
      }
      out.result()
    }
  }

  /** Delete every committed data file under `path` that is NOT in
    * `keep` (relative paths from [[dataFileList]]) — the torn-append
    * repair: files written by a crashed append are exactly the files
    * absent from the pre-append manifest. Returns the number deleted. */
  private[graft] def deleteFilesNotIn(spark: SparkSession, path: String,
      keep: Set[String]): Int = {
    val fs = SafeFs.fs(spark, path)
    var n = 0
    dataFileList(spark, path).foreach { rel =>
      if (!keep.contains(rel)) {
        if (!fs.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), false))
          throw new java.io.IOException(
            s"torn-append repair: cannot delete partial file $path/$rel")
        n += 1
      }
    }
    n
  }

  /** S8 metadata derive (post-save refresh, database_handler.py:219-229). */
  def deriveMeta(df: DataFrame): DataFrame =
    df.groupBy("symbol", "timeframe")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))

  /** S6 stored-info listing with date enrichment
    * (database_handler.py:348-377): per-series first/last `ts` and row
    * count of the fact frame, in one aggregate, ordered by series. */
  def storedInfo(facts: DataFrame): DataFrame =
    facts.groupBy("symbol", "timeframe")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n"))
      .withColumn("start_date", date_format(col("start_ts"), "yyyy-MM-dd"))
      .withColumn("end_date", date_format(col("end_ts"), "yyyy-MM-dd"))
      .orderBy("symbol", "timeframe")

  /** S9 delete-by-key as an anti-filter rewrite (database_handler.py:
    * 243-255); with the canonical layout this drops whole partitions. */
  def deleteSeries(df: DataFrame, symbol: String, timeframe: String): DataFrame =
    // null-SAFE comparison: with plain ===, a row holding a NULL key
    // makes the conjunction NULL, the negation NULL, and filter drops
    // it — deleting unrelated NULL-key rows alongside the target series
    df.filter(!(col("symbol") <=> symbol && col("timeframe") <=> timeframe))

  /** S10 CSV export with the reference's filename template
    * `{symbol}_{timeframe}_{start}_{end}` (colab_interface.py:291). */
  def exportCsv(df: DataFrame, baseDir: String, symbol: String,
      timeframe: String, start: String, end: String): String = {
    val path = s"$baseDir/${symbol}_${timeframe}_${start}_$end.csv"
    df.write.mode("overwrite").option("header", "true").csv(path)
    path
  }

  /** S11 parquet export (colab_interface.py:296-297). */
  def exportParquet(df: DataFrame, baseDir: String, symbol: String,
      timeframe: String, start: String, end: String): String = {
    val path = s"$baseDir/${symbol}_${timeframe}_${start}_$end.parquet"
    df.write.mode("overwrite").parquet(path)
    path
  }
}
