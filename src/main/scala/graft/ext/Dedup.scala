package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.SafeFs

/** Document deduplication operators for LLM-training-data pipelines
  * (north-star extension surface, SURVEY §7.4).
  *
  * Design for 100 TB:
  *  - every stage is a hash-partitioned aggregate or equi-join — no
  *    cartesian products anywhere; candidate generation is LSH-bucketed
  *    (MinHash bands / SimHash bands), so pair blow-up is bounded by
  *    bucket size, not corpus size;
  *  - hashes are `md5` (codegen'd built-in) rather than JVM hashCode so
  *    results are engine-portable and oracle-checkable;
  *  - shingle inverted-index joins drop ultra-common shingles
  *    (document-frequency cap) — the standard guard against quadratic
  *    candidate explosion on boilerplate text.
  */
object Dedup {

  /** Word k-shingles of a space-tokenized text column; documents shorter
    * than k tokens produce no shingles (matches `range(1, len-k+2)` in the
    * oracle SQL). */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Fan a NARROW input out to full parallelism before expensive per-row
    * work (shingle explode + md5 is ~1000× the cost of the text scan).
    * Only fires when the scan produced fewer partitions than the cluster
    * has slots — a small corpus file, a coalesced upstream — where the
    * round-robin shuffle moves kilobytes and unlocks every core. A 100 TB
    * corpus arrives in thousands of file splits and passes through
    * untouched: repartitioning it would be a full-corpus shuffle for
    * nothing. (Measured at sf0.1: the single-file documents scan serialized
    * the whole MinHash pipeline onto one core — 2.9 s → 0.84 s.) */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Raw (id, h) MULTISET of hashed shingles — one row per shingle
    * occurrence, no distinct. This is the right input for
    * [[minhashSignatures]]: `min` is duplicate-insensitive, so feeding the
    * multiset skips an entire corpus-wide shuffle (the distinct) on the
    * signature path — at 100 TB that is the single largest avoidable
    * exchange in the dedup pipeline.
    *
    * Shingle construction is the codegen form — explode the position
    * range, then `element_at` lookups into the token array — NOT the
    * [[shingles]] higher-order function: HOFs (`transform`/`slice`)
    * evaluate interpreted and break the whole-stage-codegen span that
    * otherwise covers scan→explode→md5→partial-agg. Identical shingle
    * strings, ~25% faster (the historical ProfileDedup); [[shingles]]
    * remains the per-row form for streaming state where no explode is
    * possible. */
  def hashedShingles(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val t = split(col(textCol), " ")
    fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), t.as("t"))
      // under-k guard INSIDE the generator (null explodes to no rows):
      // a separate Filter on size(t) is pushed through the `t` alias and
      // re-evaluates split(text) per row before the projection does
      // (r19 x31 / r20 x66 lesson) — same rows, one split
      .select(col(idCol), col("t"),
        explode(when(size(col("t")) >= k,
          sequence(lit(1), size(col("t")) - (k - 1)))).as("i"))
      .select(col(idCol), concat_ws(" ",
        (0 until k).map(o => element_at(col("t"), col("i") + o)): _*)
        .as("shingle"))
      .select(col(idCol), baseHash(col("shingle")).as("h"))
  }

  /** Distinct (id, h) table with shingles hashed to 60-bit ints BEFORE the
    * distinct — the input of exact-Jaccard verification and the
    * inverted-index join (which need set semantics). Hashing first means
    * every downstream shuffle (distinct, verify joins) moves 8-byte longs
    * instead of ~30-byte shingle strings — a 3–4× shuffle-width cut that
    * compounds at 100 TB. Set semantics are preserved modulo 60-bit hash
    * collisions, which the md5-derived oracle reproduces bit-for-bit. */
  def hashedShingleTable(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    hashedShingles(docs, idCol, textCol, k).distinct()

  /** Universal-hash family constants for MinHash: permutation i is
    * `(A(i)·h + B(i)) mod P` over the base hash h (first 60 bits of md5).
    * One md5 per shingle total — the 16 permutations are integer
    * arithmetic, ~16× cheaper than 16 independent md5 calls and exactly
    * reproducible in the oracle SQL (which is generated from these same
    * constants). */
  val P: Long = 2147483647L // 2^31 - 1 (prime)
  def aConst(i: Int): Long = (i * 2654435761L + 1103515245L) % P
  def bConst(i: Int): Long = (i * 40503L + 7L) % P

  /** Base hash: first 15 hex chars of md5 as a bigint, reduced mod P. */
  private def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % P

  /** Per-ROW array of hashed k-shingles (no explode, no shuffle) — the
    * building block for stateless set-overlap checks such as the streaming
    * decontamination filter, where per-doc shingle sets must be computed
    * inside one row to avoid streaming aggregation state. Same hash family
    * as [[hashedShingles]], so results are interchangeable.
    *
    * Computed by the native codegen'd [[graft.functions.ShingleHashF]]
    * expression (one reused MessageDigest, a primitive loop per shingle)
    * rather than the interpreted `transform(shingles(...), baseHash)`
    * chain — byte-identical output (spec-pinned against
    * [[shingleHashArrayHof]] and the oracle-checked batch path). The
    * `when` wrapper preserves the HOF form's null contract: null text →
    * empty array, not null. */
  def shingleHashArray(text: Column, k: Int = 3): Column =
    when(text.isNotNull, org.apache.spark.sql.GraftBridge.column(
        graft.functions.ShingleHashF(
          org.apache.spark.sql.GraftBridge.expression(split(text, " ")), k, P)))
      // containsNull = false EXPLICITLY: the DDL-string cast
      // ("array<bigint>") defaults to nullable elements, and that
      // poisons the when/otherwise merged type — downstream null-strict
      // consumers (WeightSumF) would reject a frame whose values never
      // actually hold a null
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)))

  /** Higher-order-function formulation of [[shingleHashArray]]
    * (interpreted lambdas) — kept as the cross-check reference
    * implementation; [[signatureArrayHof]] builds on it so the reference
    * signature chain stays fully independent of the native expressions. */
  def shingleHashArrayHof(text: Column, k: Int = 3): Column =
    transform(shingles(text, k), s => baseHash(s))

  /** MinHash signatures over a hashed-shingle frame (column `h`):
    * m_i = min over shingles of permutation_i(h). One hash-aggregate
    * producing all `numHashes` mins per document — single shuffle
    * regardless of signature width. `min` is duplicate-insensitive, so the
    * cheap [[hashedShingles]] multiset is the preferred input (identical
    * result to the distinct [[hashedShingleTable]], one less shuffle). */
  def minhashSignatures(hashedTbl: DataFrame, idCol: String,
      numHashes: Int = 16): DataFrame =
    hashedTbl.groupBy(col(idCol)).agg(
      min((lit(aConst(0)) * col("h") + lit(bConst(0))) % P).as("m0"),
      (1 until numHashes).map(i =>
        min((lit(aConst(i)) * col("h") + lit(bConst(i))) % P).as(s"m$i")): _*)

  /** Per-ROW MinHash signature array — the streaming-friendly form of
    * [[minhashSignatures]]: all `numHashes` permutation minima in one
    * pass over the row's shingle hashes (no explode, no shuffle, no
    * duplicated hash subtree), computed by the native codegen'd
    * [[graft.functions.MinHashSigF]] expression (a tight two-level
    * primitive loop; the HOF fold it replaces evaluated interpreted per
    * element × per permutation — kept below as the cross-check
    * reference). Rows with NO shingles yield the neutral all-P array —
    * filter first on the cheap token-count test (`isNotNull` and
    * `size(split(text, " ")) >= k`, exactly the rows that yield a
    * shingle; a `size(shingleHashArray(...)) > 0` guard is inlined into
    * FilterExec by predicate pushdown and hashes every doc twice — the
    * batch agg simply has no row for such docs). Spec-pinned element-for-element
    * equal to the HOF form AND the oracle-checked batch aggregate.
    * Since r18 this kernel IS the batch path too ([[signatureColumns]]
    * — the historical ProfileDedup measured it 4.0× faster than the
    * explode+agg form at sf0.1, with zero shuffles);
    * [[minhashSignatures]] remains for
    * callers holding an already-materialized hashed-shingle frame. */
  def signatureArray(text: Column, numHashes: Int = 16, k: Int = 3): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.MinHashSigF(
        org.apache.spark.sql.GraftBridge.expression(
          shingleHashArray(text, k)),
        (0 until numHashes).map(aConst), (0 until numHashes).map(bConst), P))

  /** Higher-order-function formulation of [[signatureArray]] (interpreted
    * lambdas) — kept as the cross-check reference implementation, same
    * pattern as `Similarity.dotHof`. */
  def signatureArrayHof(text: Column, numHashes: Int = 16, k: Int = 3): Column = {
    val aArr = typedLit((0 until numHashes).map(aConst))
    val bArr = typedLit((0 until numHashes).map(bConst))
    val init = typedLit(Seq.fill(numHashes)(P)) // P > every (a·h+b) mod P
    aggregate(shingleHashArrayHof(text, k), init,
      (acc, h) => zip_with(acc,
        zip_with(aArr, bArr, (a, b) => (a * h + b) % P),
        (x, y) => least(x, y)))
  }

  /** MinHash signature COLUMNS straight from the documents frame — the
    * per-row [[signatureArray]] kernel unpacked to the `(id, m0..m15)`
    * shape [[lshCandidates]]/[[lshCandidatesAcross]] consume. This is
    * the BATCH signature path since r18: same multiset semantics as
    * explode → [[minhashSignatures]] (`min` is duplicate-insensitive;
    * the two forms are spec-pinned element-for-element equal), ZERO
    * shuffles instead of one, and measured 4.0× faster at sf0.1
    * (historical ProfileDedup r18: 0.39 s vs 1.55 s) — at 100 TB this
    * removes the dedup pipeline's only pre-banding corpus-wide exchange,
    * leaving
    * banding itself as the first shuffle. Docs with no k-shingle
    * (under k tokens, null text) are absent, matching the aggregate's
    * no-row contract. The single `_sig` projection is deliberately
    * referenced 16× by cheap getItems — Catalyst's CollapseProject
    * keeps a multiply-referenced non-cheap alias materialized once, so
    * the kernel runs once per row (plan-checked in the spec). */
  def signatureColumns(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, k: Int = 3): DataFrame =
    fanOut(docs.select(col(idCol), col(textCol)))
      // the no-shingle guard is a TOKEN-COUNT test, not
      // `size(shingleHashArray(...)) > 0`: predicate pushdown inlines a
      // filter through the `_sig` alias, so a kernel-based guard made
      // FilterExec hash every doc a second time (~2× the md5 work of the
      // whole stage, found during the r19 sf10 decade campaign).
      // `hashAll` yields a shingle iff the row has ≥ k tokens, so the
      // cheap test admits exactly the same rows.
      .filter(col(textCol).isNotNull &&
        size(split(col(textCol), " ")) >= k)
      .select(col(idCol), signatureArray(col(textCol), numHashes, k).as("_sig"))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        col("_sig")(i).as(s"m$i")): _*)

  /** Default LSH band-bucket size cap (see [[lshCandidates]]); oracle SQL
    * is generated from this same constant so both engines drop identical
    * buckets. */
  val DefaultMaxBucket: Int = 1000

  /** LSH banding: hash `rows` consecutive signature entries per band; two
    * documents are candidates iff they collide in ≥1 band. Returns distinct
    * (id_a, id_b) with id_a < id_b.
    *
    * Shape: ONE bucket aggregate (`collect_list` of ids per (band_idx,
    * band_hash)) followed by in-bucket pair expansion with a higher-order
    * function, then a distinct — two shuffles total, no self-join, no
    * cached intermediate. The classic formulation (bucket-count agg +
    * filter-join + self-join on the bucket key) computes the same pairs in
    * ~5 exchanges; at scale both shuffle the same doc×bands rows, but this
    * form has less than half the stages — and stage count is what a busy
    * cluster (or a contended benchmark host) amplifies.
    *
    * Buckets larger than `maxBucket` are dropped BEFORE pair expansion: on
    * boilerplate-heavy corpora (templated pages, license headers) entire
    * band signatures collide, and pair expansion of one mega-bucket is
    * quadratic in its size — at 100 TB a single 10M-doc bucket is 10^14
    * pairs. The cap bounds per-bucket work at `maxBucket²` (the same guard
    * the n-gram path applies via its df cap). The bucket size is computed
    * with a WINDOW count rather than inside the collect aggregate, so a
    * mega-bucket is dropped by a spill-safe operator (WindowExec buffers
    * spill to disk) and never materializes as a 10M-element array in an
    * agg buffer; pairs that only collide in mega-buckets are the standard
    * accepted loss — such documents still meet in any *discriminative*
    * band they share. */
  def lshCandidates(sigs: DataFrame, idCol: String, bands: Int = 4,
      rows: Int = 4, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bucketPairs(bandedRows(sigs, idCol, idCol, bands, rows)
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("band_idx", "h")))
      .filter(col("bsz").between(2, maxBucket)), // singletons yield no pairs
      idCol)
  }

  /** The in-bucket pair expansion both mega-bucket guards share: one
    * `collect_list` of ids per (band_idx, h) bucket — the window's keys
    * in [[lshCandidates]], so no new exchange — then every id_a < id_b
    * pair through a higher-order function, distinct. */
  private def bucketPairs(banded: DataFrame, idCol: String): DataFrame =
    banded.groupBy("band_idx", "h")
      .agg(collect_list(col(idCol)).as("ids"))
      .select(explode(expr(
        """flatten(transform(ids, a ->
             transform(filter(ids, b -> b > a), b ->
               named_struct('id_a', a, 'id_b', b))))""")).as("pr"))
      .select(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .distinct()

  /** Alternative mega-bucket guard for [[lshCandidates]], raced against
    * the shipped window form by `graft.tools.SkewBench lsh` (VERDICT r9
    * item 3): bucket sizes come from a partial-aggregatable
    * `groupBy(band,h).count` — map-side combine means a hot bucket's
    * count never lands in one task — then the banded rows semi-join the
    * surviving keys before the collect aggregate. Skew-immune on the
    * count, at the price of one extra exchange+join of the banded rows.
    * Identical output contract to [[lshCandidates]]. */
  private[graft] def lshCandidatesGroupByGuard(sigs: DataFrame,
      idCol: String, bands: Int = 4, rows: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = bandedRows(sigs, idCol, idCol, bands, rows)
    val keep = banded.groupBy("band_idx", "h")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
      .select("band_idx", "h")
    bucketPairs(banded.join(keep, Seq("band_idx", "h"), "left_semi"), idCol)
  }

  /** Cross-frame LSH banding: candidates between a NEW batch and an
    * EXISTING corpus — the incremental form of [[lshCandidates]], and the
    * only sane dedup shape at 100 TB: a daily ingest must never re-pair
    * the historical corpus against itself (quadratic in history), only
    * probe the new batch against it (linear in the batch). Returns
    * distinct (id_new, id_old).
    *
    * The bucket-size cap applies to the EXISTING side — it plays the
    * index role, and a boilerplate mega-bucket there is exactly the
    * non-discriminative-band pathology the batch self-join cap guards
    * against (same spill-safe window form). The new batch is typically
    * orders of magnitude smaller, so its bucket sizes are bounded by the
    * batch, not the corpus. */
  def lshCandidatesAcross(newSigs: DataFrame, oldSigs: DataFrame,
      idCol: String, bands: Int = 4, rows: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = bandedRows(newSigs, idCol, "id_new", bands, rows)
    val ob = bandedRows(oldSigs, idCol, "id_old", bands, rows)
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("band_idx", "h")))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    nb.join(ob, Seq("band_idx", "h"))
      .select(col("id_new"), col("id_old"))
      .distinct()
  }

  /** Banded view of a signature frame: one row per (doc, band) keyed by
    * the band hash — the one band-column definition, shared by the
    * in-frame candidates ([[lshCandidates]]), the in-memory cross-frame
    * path ([[lshCandidatesAcross]]) and the persistent band index
    * ([[bandIndexBuild]]). */
  private def bandedRows(sigs: DataFrame, idCol: String, as: String,
      bands: Int, rows: Int): DataFrame = {
    val bandCols = (0 until bands).map { j =>
      concat_ws("|",
        (j * rows until (j + 1) * rows).map(i => col(s"m$i").cast("string")): _*)
    }
    sigs.select(col(idCol).as(as),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "h")))
  }

  /** Persistent LSH band index — the STORED form of the delta-dedup
    * old side that [[lshCandidatesAcross]]'s scaladoc promises ("at
    * 100 TB the old-side signatures are a stored table maintained by
    * previous ingests"). Two frames:
    *
    *  - `banded`: one row per (doc, band) keyed by band hash, persisted
    *    BUCKETED BY (`band_idx`, `h`). The probe itself never exchanges
    *    the index side because the batch is broadcast
    *    ([[lshCandidatesDelta]]) — bucketing is NOT what buys that.
    *    What the bucketed layout does buy: one file per bucket per
    *    ingest (so [[compactBandIndex]] and any future sort-merge
    *    fallback for pathologically large batches keep an
    *    exchange-free index side), and the append path's shuffle-free
    *    write distribution;
    *  - `sizes`: per-bucket row counts, precomputed at build/append time,
    *    so probes apply the mega-bucket cap with a broadcast-able filter
    *    join instead of re-counting the corpus (the window count in the
    *    in-memory path) on every ingest.
    *
    * The crash-sensitive file steps of every mutation (sizes swap and
    * heal, journals, tombstones) are [[SafeFs]]'s; the methods here
    * supply banded rows and sizes. */
  final case class BandIndex(banded: DataFrame, sizes: DataFrame)

  /** Build the band index of a signature frame (in memory — persist with
    * [[bandIndexSave]]). */
  def bandIndexBuild(sigs: DataFrame, idCol: String, bands: Int = 4,
      rows: Int = 4): BandIndex = {
    val b = bandedRows(sigs, idCol, "id_old", bands, rows)
    BandIndex(b, b.groupBy("band_idx", "h").agg(count(lit(1)).as("bsz")))
  }

  /** Persist a band index: banded rows bucketed by (band_idx, h) — one
    * file per bucket — plus the sizes frame as plain parquet. */
  def bandIndexSave(index: BandIndex, table: String, path: String,
      nBuckets: Int = 32): Unit = {
    graft.engine.Store.saveBucketed(index.banded, table, s"$path/banded",
      nBuckets, Seq("band_idx", "h"))
    index.sizes.write.mode("overwrite").parquet(s"$path/sizes")
  }

  /** Reopen a persisted band index for probe/append use, healing any
    * interrupted [[bandIndexAppend]] first.
    *
    * If the append journal is present, the last append died somewhere
    * between the banded write and the final cleanup. The banded table is
    * append-only and therefore valid wherever the crash hit, but the
    * live `sizes` frame may predate a committed banded append — stale
    * counts would let buckets that crossed `maxBucket` via the append
    * escape the cap silently (the documented equivalence with
    * [[lshCandidatesAcross]] would break). Healing rebuilds `sizes`
    * from the banded table — a full re-aggregate, confined to this RARE
    * recovery path; the per-ingest path stays batch-incremental — and
    * reports the interrupted batch's disposition (see
    * [[healInterruptedAppend]]): an interrupted append must NOT be
    * blindly re-run; re-run only a `not-committed` batch.
    *
    * Without a journal, a crash can still sit inside the sizes SWAP
    * window ([[SafeFs.healSwap]]: `sizes` absent, `sizes.next` staged or
    * `sizes.bak` backed up); the heal rolls the staged frame forward —
    * it reflects the appended rows, which ARE in the banded table.
    *
    * If tombstones exist ([[bandIndexDelete]]), the returned `banded`
    * frame is the PHYSICAL table anti-joined against the broadcast
    * tombstone set — probes and candidate joins never see deleted docs;
    * [[compactBandIndex]] later removes their rows physically. */
  def bandIndexLoad(spark: org.apache.spark.sql.SparkSession, table: String,
      path: String): BandIndex = {
    val fs = SafeFs.fs(spark, path)
    // a [[compactBandIndex]] killed between its two directory renames
    // leaves no live banded dir — roll the completed rewrite forward
    SafeFs.healDir(spark, s"$path/banded")
    // ALWAYS refresh (the ivfLoad rule): appends written by another
    // session — a streaming-cloned foreachBatch sink — stay invisible
    // to a session holding a cached file listing of this table
    if (spark.catalog.tableExists(table))
      spark.catalog.refreshTable(table)
    if (fs.exists(at(path, AppendJournal)))
      healInterruptedAppend(spark, table, path)
    else SafeFs.healSwap(fs, at(path, "sizes"), Some(at(path, "sizes.next")),
      at(path, "sizes.bak"), "sizes heal")
    BandIndex(liveBanded(spark, table, path),
      SafeFs.readParquet(spark, s"$path/sizes"))
  }

  private[graft] val AppendJournal = "append.journal"
  /** The streaming sinks' exactly-once journal filename — the spec-facing
    * name of [[SafeFs.StreamJournal]]. */
  private[graft] val StreamJournal = SafeFs.StreamJournal

  private def at(path: String, name: String) = new Path(s"$path/$name")

  /** [[SafeFs.writeMarker]] under its spec-facing name. */
  private[graft] def writeFileAtomic(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, content: String): Unit =
    SafeFs.writeMarker(fs, target, content)

  /** The banded table minus tombstoned docs: the view every reader
    * (load, heal, delete-delta) must share. */
  private def liveBanded(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String): DataFrame =
    SafeFs.liveRows(spark, path, spark.table(table), Some("id_old"))

  /** Sum of the maintained bucket sizes — the journals' physical count.
    * One job: a map-side fold, where an aggregate would add a shuffle
    * stage. */
  private def sizesTotal(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    SafeFs.readParquet(spark, s"$path/sizes").select("bsz")
      .queryExecution.toRdd.map(_.getLong(0)).fold(0L)(_ + _)

  /** Heal an interrupted [[bandIndexAppend]] or [[bandIndexDelete]]
    * (journal present): rebuild `sizes` from the LIVE banded view
    * (physical table minus tombstones — so a crash on either mutation
    * path heals to the same state a clean run would reach), clear every
    * staged/backup tree and the journal, and return the interrupted
    * batch's [[SafeFs.disposition]] — `"committed"` (re-running an
    * APPEND would double-count — a delete re-run is a no-op either way,
    * [[bandIndexDelete]] is idempotent), `"not-committed"` (re-run it),
    * or `"partial"` (a mid-commit crash left a torn banded write —
    * rebuild the index from signatures). Delete journals carry a
    * NEGATIVE batch count, so the same pre+batch arithmetic classifies
    * both. */
  private[graft] def healInterruptedAppend(
      spark: org.apache.spark.sql.SparkSession, table: String,
      path: String): String = {
    val fs = SafeFs.fs(spark, path)
    val journal = SafeFs.readMarker(fs, at(path, AppendJournal)).getOrElse(
      throw new java.io.FileNotFoundException(s"no $AppendJournal under $path"))
    liveBanded(spark, table, path)
      .groupBy("band_idx", "h").agg(count(lit(1)).as("bsz"))
      .write.mode("overwrite").parquet(s"$path/sizes.heal")
    Seq("sizes.next", "sizes.bak").foreach(s => fs.delete(at(path, s), true))
    SafeFs.replace(fs, at(path, "sizes.heal"), at(path, "sizes"), "sizes heal")
    val isDelete = journal.split(' ').lift(1).exists(_.startsWith("-"))
    val disposition = scala.util.Try(journal.split(' ') match {
      case Array(pre, batch) =>
        SafeFs.disposition(sizesTotal(spark, path), pre.toLong, batch.toLong)
      case _ => SafeFs.Torn
    }).getOrElse(SafeFs.Torn)
    fs.delete(at(path, AppendJournal), false)
    val verb = if (isDelete) "delete" else "append"
    SafeFs.report(s"[band-index] healed interrupted $verb under " +
      s"$path: batch disposition = $disposition" + ((disposition, isDelete) match {
        case (SafeFs.Committed, false) => " (do NOT re-run the append)"
        case (SafeFs.NotCommitted, _) => s" (safe to re-run the $verb)"
        case (SafeFs.Committed, true) => " (re-running the delete is a no-op)"
        // tombstones half-landed: sizes were just healed against the
        // partial tombstone set, so the index is CONSISTENT — re-running
        // the delete tombstones the remainder (idempotent per doc)
        case (_, true) => " (tombstones half-landed — re-run the delete" +
          " to finish)"
        case _ => " (torn banded write — rebuild the index from signatures)"
      }))
    disposition
  }

  /** Append a NEW batch's banded rows to a persisted index (the
    * per-ingest maintenance step). The banded rows are staged once
    * ([[SafeFs.stage]]: one job yields the rows and their count) and
    * handed to [[appendBanded]]. Banded rows append as one file per
    * touched bucket (same murmur3 bucket function ⇒ the bucketed layout
    * survives appends); the sizes frame is refreshed by [[mergedSizes]]:
    * an append reads the batch and the sizes frame (one row per bucket
    * key) without shuffling the sizes frame, and never reads the index's
    * banded history.
    *
    * Crash safety: a journal recording the pre-append and batch banded
    * counts is staged BEFORE the banded write and removed only after the
    * sizes swap completes. If present at [[bandIndexLoad]] time, the
    * load heals (rebuild sizes from banded) and reports whether the
    * interrupted batch committed. An interrupted append must NOT be
    * blindly re-run — the banded append may have committed, and a
    * second run would double-append the batch (duplicate banded rows,
    * double-counted sizes); reopen with [[bandIndexLoad]] and follow the
    * logged disposition. This method refuses to start over an unhealed
    * journal for the same reason. */
  def bandIndexAppend(newSigs: DataFrame, idCol: String, table: String,
      path: String, nBuckets: Int = 32, bands: Int = 4,
      rows: Int = 4): Unit = {
    SafeFs.withRddCleanup(newSigs.sparkSession) {
      val (banded, batchN) = stageBanded(newSigs, idCol, bands, rows)
      appendBanded(banded, batchN, table, path, nBuckets)
    }
  }

  /** A batch's banded rows `(id_old, band_idx, h)`, staged with their
    * count ([[SafeFs.stage]]) — what [[appendBanded]] takes. */
  private[graft] def stageBanded(sigs: DataFrame, idCol: String,
      bands: Int, rows: Int): (DataFrame, Long) =
    SafeFs.stage(bandedRows(sigs, idCol, "id_old", bands, rows))

  /** [[bandIndexAppend]] after its staging step: `banded` holds the
    * batch's banded rows, already materialized ([[SafeFs.stage]], under
    * the caller's [[SafeFs.withRddCleanup]]), and `batchN` is their
    * count. Refuses over an unhealed journal and a batch that re-uses a
    * tombstoned id, then journals `<pre> <batchN>`, appends the rows and
    * swaps in the merged sizes. The streaming band sink calls it with the
    * rows it staged for its own journal. */
  private[graft] def appendBanded(banded: DataFrame, batchN: Long,
      table: String, path: String, nBuckets: Int): Unit = {
    val spark = banded.sparkSession
    val fs = SafeFs.fs(spark, path)
    SafeFs.requireHealed(fs, path, Seq(AppendJournal), "reopen with " +
      "bandIndexLoad (which heals and reports the batch disposition) " +
      "before appending — blind re-runs double-append the batch")
    SafeFs.requireNoTombstoned(spark, path, banded.select("id_old"),
      Some("id_old"), "compactBandIndex")
    writeFileAtomic(fs, at(path, AppendJournal),
      s"${sizesTotal(spark, path)} $batchN")
    banded
      .repartition(nBuckets, col("band_idx"), col("h"))
      .write.mode("append").option("path", s"$path/banded")
      .bucketBy(nBuckets, "band_idx", "h")
      .format("parquet").saveAsTable(table)
    mergedSizes(spark, path, banded)
      .write.mode("overwrite").parquet(s"$path/sizes.next")
    commitSizes(fs, path)
  }

  /** Swap a staged `sizes.next` in and clear the mutation journal — the
    * shared tail of [[bandIndexAppend]] and [[bandIndexDelete]]. */
  private def commitSizes(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    SafeFs.swapUnits(fs, Seq((at(path, "sizes"), at(path, "sizes.next"),
      at(path, "sizes.bak"))), at(path, "sizes.bak"), "sizes swap")
    fs.delete(at(path, AppendJournal), false)
  }

  /** Delete docs from a persisted band index — the retention /
    * right-to-be-forgotten step of the index lifecycle — as TOMBSTONES:
    * the doc ids land in `$path/deletes`, [[bandIndexLoad]] anti-joins
    * them off the banded view (broadcast — the tombstone set is bounded
    * by total deletions), and [[compactBandIndex]] folds them into the
    * files physically. No corpus rewrite on the delete path: a delete
    * pays ONE probe-class map-side scan of the banded table, staged with
    * its count in one job ([[SafeFs.stage]]): the victims' live rows,
    * which feed the skip-unknown-ids filter, the journal count, the
    * tombstones and the sizes decrement. The decrement is the same
    * touched-bucket refresh an append pays ([[mergedSizes]] with step
    * -1 per victim row; a bucket emptied by the delete drops out), so
    * the mega-bucket cap keeps matching what a from-scratch rebuild over
    * the retained docs would compute (BandIndexSpec pins the
    * equivalence). Neither the banded table nor the sizes frame is
    * shuffled; the banded table is never rewritten.
    *
    * Idempotent per doc: already-tombstoned and never-indexed ids are
    * skipped — the former so sizes are not double-decremented, the
    * latter so an out-of-order delete (retention request arriving
    * before the doc was ever ingested) does not stage a tombstone that
    * would block the doc's FIRST ingest until a compact. A delete batch
    * can therefore be re-run blindly — including after a crash
    * mid-delete ([[healInterruptedAppend]] classifies the journal;
    * every delete disposition is safe to re-run, unlike appends) — and
    * deleting an unknown id is a no-op: retention pipelines must issue
    * deletes for INGESTED docs (re-issue after ingest, or filter
    * upstream). Returns the number of banded rows tombstoned by THIS
    * call.
    *
    * Re-ingesting a deleted id BEFORE a compact is a CONFLICT: the
    * tombstone would hide the re-appended rows too, and clearing it
    * would resurrect the still-physical old rows. Run
    * [[compactBandIndex]] (which folds tombstones and clears them)
    * before re-using an id. */
  def bandIndexDelete(ids: DataFrame, idCol: String, table: String,
      path: String): Long = {
    val spark = ids.sparkSession
    val fs = SafeFs.fs(spark, path)
    SafeFs.requireHealed(fs, path, Seq(AppendJournal), "reopen with " +
      "bandIndexLoad (which heals and reports the disposition) first")
    SafeFs.withRddCleanup(spark) {
      val existing = SafeFs.tombstones(spark, path)
      // the build side of a semi-join: a repeated id changes nothing
      val candidates = SafeFs.notTombstoned(existing,
        ids.select(col(idCol).as("id_old")))
      val (victimRows, removed) = SafeFs.stage(liveBanded(spark, table, path)
        .join(broadcast(candidates), Seq("id_old"), "left_semi")
        .select("id_old", "band_idx", "h"))
      if (removed == 0L) 0L
      else {
        writeFileAtomic(fs, at(path, AppendJournal),
          s"${sizesTotal(spark, path)} -$removed")
        SafeFs.addTombstones(path, existing,
          victimRows.select("id_old").distinct())
        mergedSizes(spark, path, victimRows, -1L)
          .write.mode("overwrite").parquet(s"$path/sizes.next")
        commitSizes(fs, path)
        removed
      }
    }
  }

  /** The sizes refresh of a mutation: the persisted sizes with `step`
    * added per row of `rows` (`band_idx`, `h`) — 1 per banded row an
    * append adds, -1 per row a delete tombstones — and buckets whose
    * size falls to zero dropped. The batch is small and the sizes frame
    * grows with the index (about one row per banded row), so the sizes
    * frame is never shuffled: the batch's per-bucket deltas are
    * collected to the driver (one job over the batch), the current sizes
    * of the buckets they touch come back from one map-side scan, and the
    * refreshed frame is the untouched rows, partition for partition,
    * with the recomputed rows added to the first partition — so a
    * refresh keeps the frame's file count. The batch's keys ride in the
    * filters as a literal set, batch-sized like a broadcast of the batch
    * would be. Only `rows` and the sizes tree are read, never the banded
    * table.
    *
    * Measured on 4 cores, 100-doc appends and 20-doc deletes, median of
    * five, against a one-aggregate form that shuffles the sizes frame
    * (sizes ∪ batch rows, `sum(bsz)` per key): both take about 0.4 s at
    * 2k and 20k indexed docs; at 200k docs this takes 0.60 s per append
    * and 0.69 s per delete against 0.70 and 0.78 s, and at 2M docs (8M
    * sizes rows) 2.5 s and 2.9 s against 4.1 and 4.5 s. */
  private[graft] def mergedSizes(spark: org.apache.spark.sql.SparkSession,
      path: String, rows: DataFrame, step: Long = 1L): DataFrame = {
    val delta = rows.select("band_idx", "h").collect()
      .groupMapReduce(r => (r.getInt(0), r.getString(1)))(_ => step)(_ + _)
    val touched = delta.keys.groupMap(_._1)(_._2).map { case (b, hs) =>
        col("band_idx") === b && col("h").isin(hs.toSeq: _*) }
      .reduceOption(_ || _).getOrElse(lit(false))
    val sizes = SafeFs.readParquet(spark, s"$path/sizes")
      .select("band_idx", "h", "bsz")
    val current = sizes.filter(touched).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val next = delta.toSeq.map { case (k @ (b, h), d) =>
        org.apache.spark.sql.Row(b, h, current.getOrElse(k, 0L) + d) }
      .filter(_.getLong(2) > 0)
    // a sizes tree always holds a data file (readParquet refuses one
    // that does not), so the scan has a first partition
    spark.createDataFrame(sizes.filter(!touched).rdd.mapPartitionsWithIndex(
      (i, part) => if (i == 0) part ++ next.iterator else part), sizes.schema)
  }

  /** Compact the banded table back to one file per bucket. Each
    * [[bandIndexAppend]] adds one file per touched bucket, so after N
    * daily ingests a probe's map-side scan opens N files per bucket —
    * run this at whatever cadence keeps file counts sane (the
    * bucketed-aware rewrite preserves the bucket metadata and ids, so
    * layout-dependent consumers survive; `Store.compact`'s plain rewrite
    * would drop them). Sizes are untouched — compaction moves rows
    * between files, never changes LIVE counts: [[bandIndexDelete]]
    * tombstones are folded during the rewrite (their rows vanish
    * physically, but sizes were already decremented at delete time) and
    * the tombstone set is cleared afterwards
    * ([[SafeFs.clearTombstones]]). */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String, nBuckets: Int = 32): Unit = {
    val fs = SafeFs.fs(spark, path)
    // compaction changes the physical counts the journals' recovery
    // classifies by (a never-landed append would read as a torn write)
    SafeFs.requireHealed(fs, path, Seq(AppendJournal, StreamJournal),
      "reopen with bandIndexLoad / replay the stream before compacting")
    val ts = SafeFs.tombstones(spark, path)
    graft.engine.Store.compactBucketed(spark, table, s"$path/banded",
      nBuckets, Seq("band_idx", "h"),
      transform = SafeFs.foldTombstones(ts, _, Some("id_old")))
    SafeFs.clearTombstones(fs, path)
  }

  /** Delta-dedup candidates of a new batch against a PERSISTED band
    * index: semantics of [[lshCandidatesAcross]] (same cap, same output
    * contract — distinct (id_new, id_old)), but the corpus side is the
    * stored table. What a probe pays, honestly: the index is READ
    * (columnar, three columns, map-side — unavoidable for any probe) but
    * never SHUFFLED, re-banded, or re-counted; the only shuffled volume
    * is batch-sized (the final distinct). The in-memory path instead
    * re-derives banded rows from the history signatures AND shuffles the
    * whole history for the window count, every ingest. Measured
    * (historical: a since-removed BandIndexBench tool, 50k batch,
    * paired-signature fixture fixed in round 11): 1.53s vs 2.44s per probe at 2M history, 2.77s vs
    * 5.84s at 8M — the gap widens with history because only the scan,
    * not the shuffle, grows (`BAND_INDEX_BENCH_r11.json`). */
  def lshCandidatesDelta(newSigs: DataFrame, index: BandIndex,
      idCol: String, bands: Int = 4, rows: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nb = bandedRows(newSigs, idCol, "id_new", bands, rows)
    // cap via ANTI-join against only the OVERSIZED buckets: that frame is
    // tiny on any real corpus (a handful of boilerplate signatures), so
    // it broadcasts — a semi-join against the kept buckets would instead
    // shuffle nearly the whole sizes frame (measured 27% slower than the
    // in-memory path at 2M history; the anti form is what makes the
    // stored probe win)
    val mega = index.sizes.filter(col("bsz") > maxBucket)
      .select("band_idx", "h")
    // the batch side is by contract orders of magnitude smaller than the
    // index — broadcast it, so the index side is a straight map-side scan
    // (no shuffle, no sort of the corpus-sized banded table; a derived
    // frame has no stats, so without the hint the planner falls back to
    // sorting the index for an SMJ — measured 3.4x growth on 4x history
    // vs 2.0x with the hint; for batches too large to broadcast use
    // [[lshCandidatesDeltaBulk]]). The mega-bucket cap anti-joins the
    // BATCH side, not the index side: a capped bucket contributes no
    // pairs whichever side drops it (BandIndexSpec pins the
    // equivalence), and capping the index cost a SECOND broadcast probe
    // on every index row — strictly more work per scanned row
    broadcast(nb.join(broadcast(mega), Seq("band_idx", "h"), "left_anti"))
      .join(index.banded, Seq("band_idx", "h"))
      .select(col("id_new"), col("id_old"))
      .distinct()
  }

  /** Bulk-batch variant of [[lshCandidatesDelta]] — the consumer the
    * bucketed index layout was kept for. The broadcast form's contract
    * ("the batch is orders of magnitude smaller than the index") breaks
    * on backfills and large merges: broadcasting a multi-million-row
    * batch's banded rows is a driver/executor memory cliff. Here the
    * BATCH shuffles into the index's (band_idx, h) bucketing — one
    * batch-sized exchange — and the index side joins straight off its
    * bucketed scan with ZERO exchange AND zero sort: the batch side
    * carries a shuffled-hash hint (build = batch partition, ≈batch/nBuckets
    * rows), so the corpus-sized index STREAMS through the join unsorted
    * (an SMJ would in-partition-sort the index per probe — the 3.4×
    * statless fallback [[lshCandidatesDelta]]'s scaladoc measures).
    *
    * The mega-bucket cap is applied to the BATCH side (anti-join against
    * the broadcast oversized-bucket set): a capped bucket contributes no
    * pairs whichever side drops it, and dropping batch rows is strictly
    * cheaper. Output contract identical to [[lshCandidatesDelta]]
    * (spec-pinned); crossover vs the broadcast form measured by a
    * since-removed BulkProbeBench tool (historical:
    * `BULK_PROBE_BENCH_r11.json`). */
  def lshCandidatesDeltaBulk(newSigs: DataFrame, index: BandIndex,
      idCol: String, bands: Int = 4, rows: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nb = bandedRows(newSigs, idCol, "id_new", bands, rows)
    val mega = index.sizes.filter(col("bsz") > maxBucket)
      .select("band_idx", "h")
    nb.join(broadcast(mega), Seq("band_idx", "h"), "left_anti")
      .hint("shuffle_hash")
      .join(index.banded, Seq("band_idx", "h"))
      .select(col("id_new"), col("id_old"))
      .distinct()
  }

  /** Estimated broadcast cost of one banded row (id + band_idx + h plus
    * HashedRelation/row overhead) — deliberately conservative so the
    * auto probe never broadcasts a batch the executors can't hold. */
  private[graft] val BandedRowBroadcastBytes = 48L

  /** The [[lshCandidatesDeltaAuto]] policy, exposed for spec pinning:
    * broadcast iff the batch's banded rows fit the session's broadcast
    * budget (`spark.sql.autoBroadcastJoinThreshold`; -1 = broadcasts
    * disabled ⇒ always bulk). */
  private[graft] def deltaProbePrefersBroadcast(
      spark: org.apache.spark.sql.SparkSession, batchRows: Long,
      bands: Int): Boolean = {
    val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
    // division form: batchRows × bands × bytes would overflow Long for
    // absurd-but-legal row counts and wrap NEGATIVE — i.e. silently
    // choose to broadcast the one batch that must never be broadcast
    thr > 0 && batchRows <= thr / (bands.toLong * BandedRowBroadcastBytes)
  }

  /** Probe-form front door: picks [[lshCandidatesDelta]] (broadcast
    * batch, zero exchange anywhere) or [[lshCandidatesDeltaBulk]] (one
    * batch-sized exchange into the index's bucketing) by BATCH SIZE, so
    * callers — the streaming sink's micro-batches and a backfill's
    * multi-million-row merges alike — get the right plan without
    * hand-picking. The policy folds the measured crossover
    * (`BULK_PROBE_BENCH_r11.json`) into the engine: above the session
    * broadcast threshold the broadcast form is a driver/executor memory
    * cliff — bulk is mandatory, and it also WINS throughput at every
    * measured ≥50k-row point (up to 4.6× at 8M history); below the
    * threshold the two tie and the broadcast form's zero-exchange plan
    * has no shuffle-wave latency, which is what a streaming micro-batch
    * wants. Output contract identical on both branches (spec-pinned).
    *
    * `batchRows` skips the sizing count when the caller already knows it
    * (the streaming sink counts the batch for its journal anyway);
    * leave it negative to let the probe size the batch. It first reads
    * the plan's row bound (`maxRows`: a local batch's row count, absent
    * over a file scan), which is never below the true count: when the
    * bound already passes the policy the count is skipped, otherwise
    * the probe counts — one batch-sized scan, within the probe's
    * linear-in-batch contract. Either way the branch is the one the
    * true count picks. */
  def lshCandidatesDeltaAuto(newSigs: DataFrame, index: BandIndex,
      idCol: String, bands: Int = 4, rows: Int = 4,
      maxBucket: Int = DefaultMaxBucket, batchRows: Long = -1L): DataFrame = {
    val spark = newSigs.sparkSession
    def fits(n: Long) = deltaProbePrefersBroadcast(spark, n, bands)
    val broadcastable =
      if (batchRows >= 0L) fits(batchRows)
      else newSigs.queryExecution.optimizedPlan.maxRows.exists(fits) ||
        fits(newSigs.count())
    if (broadcastable)
      lshCandidatesDelta(newSigs, index, idCol, bands, rows, maxBucket)
    else lshCandidatesDeltaBulk(newSigs, index, idCol, bands, rows, maxBucket)
  }

  /** Compact-on-rot ([[SafeFs.compactOnRot]]): [[compactBandIndex]]
    * only once the one-file-per-bucket-per-append rot exceeds
    * `maxFilesPerBucket` — what keeps a stream-maintained index's probe
    * cost flat without an external maintenance scheduler. Returns true
    * iff a compaction ran. */
  def maybeCompactBandIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String, nBuckets: Int = 32,
      maxFilesPerBucket: Int = 8): Boolean =
    SafeFs.compactOnRot(
      graft.engine.Store.dataFileCount(spark, s"$path/banded"), nBuckets,
      maxFilesPerBucket, "maxFilesPerBucket")(
      compactBandIndex(spark, table, path, nBuckets))

  /** Read-only observability over a persisted band index, with the
    * [[graft.ext.Similarity.ivfDescribe]] contract:
    * never heals, never refreshes, never rewrites (a monitoring job can
    * call it while another session mutates), and never scans the banded
    * table — bucket statistics come from the MAINTAINED `sizes` frame
    * (bucket-count rows, the same frame the `maxBucket` cap reads), so
    * the cost is independent of corpus size.
    *
    * One row: `buckets` (occupied (band_idx, h) buckets); `banded_rows`
    * (sum of maintained bucket sizes — LIVE rows: [[bandIndexDelete]]
    * decrements sizes, so this is the count the `maxBucket` cap
    * semantics see); `max_bucket`/`avg_bucket` (hot-bucket
    * signal: a bucket near `maxBucket` is about to be refused by
    * capped candidate joins); `tombstoned_ids` (pending
    * [[bandIndexDelete]] work [[compactBandIndex]] folds);
    * `data_files` (append rot — [[maybeCompactBandIndex]]'s trigger);
    * `append_journal` (an UNHEALED mutation: every mutation entry point
    * refuses until a [[bandIndexLoad]] heals and reports the
    * disposition); `stream_journal` (pending streaming-ingest replay);
    * `sizes_present` (false only inside a crashed sizes-swap window —
    * the size-derived columns are null then, and a load will roll the
    * staged/backup frame forward). */
  def bandIndexDescribe(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val fs = SafeFs.fs(spark, path)
    def exists(s: String) = fs.exists(at(path, s))
    require(exists("banded"),
      s"no readable band index under $path (an interrupted compact " +
        "leaves no live banded dir — reopen with bandIndexLoad, which " +
        "heals, before describing)")
    val sizeStats: Option[(Long, Long, Long, Double)] =
      if (!exists("sizes")) None
      else {
        val s = spark.read.parquet(s"$path/sizes")
          .agg(count(lit(1)).as("b"), sum("bsz").as("r"),
            max("bsz").as("mx"), avg("bsz").as("av")).head
        if (s.isNullAt(1)) Some((0L, 0L, 0L, 0.0))
        else Some((s.getLong(0), s.getLong(1), s.getLong(2),
          s.getDouble(3)))
      }
    val tombstoned = SafeFs.tombstoneCount(spark, path)
    val files = graft.engine.Store.dataFileCount(spark, s"$path/banded")
    Seq((sizeStats.map(_._1), sizeStats.map(_._2), sizeStats.map(_._3),
        sizeStats.map(_._4), tombstoned, files, exists(AppendJournal),
        exists(StreamJournal), sizeStats.isDefined))
      .toDF("buckets", "banded_rows", "max_bucket", "avg_bucket",
        "tombstoned_ids", "data_files", "append_journal",
        "stream_journal", "sizes_present")
  }

  /** Exact Jaccard over candidate pairs (verification stage): each doc's
    * distinct shingle-hash SET is assembled once (`collect_set` — one
    * shuffle; input may be the raw multiset, the set agg dedups), then each
    * pair is verified with `array_intersect` arithmetic — two equi-joins
    * total, no pair×shingle row explosion and no separate set-size joins.
    * Per-doc arrays are bounded by document length (unlike cross-doc
    * bucket state), so agg buffers stay small at any corpus scale.
    * Output columns and types match the classic join-form exactly
    * (`common`/`sz_a`/`sz_b` as BIGINT, `jaccard` the raw IEEE division of
    * identical integers — oracle-parity), with one intended difference:
    * a candidate pair sharing NO shingle now appears with `common = 0`,
    * `jaccard = 0.0` (the join form silently dropped it). Every caller
    * thresholds `jaccard` above 0, so query results are unchanged.
    *
    * Callers holding the DOCUMENTS of the candidate ids should prefer
    * [[shingleSets]] + [[jaccardVerifySets]]: the per-row kernel builds
    * each set inside its own row, skipping this form's explode and
    * collect_set exchange entirely. This form remains for callers whose
    * input is an already-exploded hashed-shingle frame (streaming state,
    * the inverted-index n-gram path). */
  def jaccardVerify(cands: DataFrame, hashedTbl: DataFrame,
      idCol: String): DataFrame =
    jaccardVerifySets(cands,
      hashedTbl.groupBy(col(idCol)).agg(collect_set(col("h")).as("hs")),
      idCol)

  /** Per-ROW distinct shingle-hash sets straight from a documents frame —
    * the input of [[jaccardVerifySets]]. Same hash family and k as
    * [[hashedShingles]] (the [[shingleHashArray]] kernel), so the set
    * per doc is bit-identical to `collect_set` over the exploded multiset
    * — but assembled inside the row: no explode, no aggregate; the only
    * exchange is [[fanOut]]'s conditional candidate-docs-sized
    * round-robin (vs the agg form's shingle-multiset-sized exchange).
    * Docs with no k-shingle are absent (matching the agg form's
    * no-row contract, which an inner verify join relies on). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    // fanOut BEFORE the kernel: the candidate-docs frame usually arrives
    // from a broadcast semi-join, which inherits the SCAN's partitioning
    // — on few-row-group inputs that is 1–2 effective tasks, so the md5
    // kernel ran serially (and a single long task is exactly the
    // interpreted-codegen exposure BENCH_NOTES r19 documents). The
    // round-robin here is candidate-docs-sized — trivial next to the
    // verify joins it feeds.
    fanOut(docs.select(col(idCol), col(textCol)))
      // token-count guard BEFORE the kernel projection (same rationale
      // as [[signatureColumns]]: a `size(hs) > 0` filter on the alias is
      // inlined by predicate pushdown and re-evaluates the kernel)
      .filter(col(textCol).isNotNull &&
        size(split(col(textCol), " ")) >= k)
      .select(col(idCol),
        array_distinct(shingleHashArray(col(textCol), k)).as("hs"))

  /** Exact Jaccard over candidate pairs from per-doc distinct shingle
    * SETS (column `hs`) — the verify tail shared by [[jaccardVerify]]
    * (which aggregates the sets) and the per-row path ([[shingleSets]],
    * which assembles them shuffle-free). Candidate frames are bounded by
    * LSH bucket caps, so `sets` semi-joined to candidate ids is small and
    * both equi-joins broadcast. */
  def jaccardVerifySets(cands: DataFrame, sets: DataFrame,
      idCol: String): DataFrame =
    cands
      .join(sets.select(col(idCol).as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("common"),
        size(col("hs_a")).cast("long").as("sz_a"),
        size(col("hs_b")).cast("long").as("sz_b"))
      .withColumn("jaccard",
        col("common") / (col("sz_a") + col("sz_b") - col("common")))

  /** Inverted-index n-gram Jaccard: candidates from any shared shingle
    * hash whose document frequency is ≤ `maxDf` (blocking guard), then
    * exact verification over the candidate docs only (semi-join before
    * the set agg — |candidates| ≪ corpus, same shape as the LSH path). */
  def ngramJaccardPairs(hashedTbl: DataFrame, idCol: String,
      maxDf: Int = 50): DataFrame = {
    val rare = hashedTbl.groupBy("h")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select("h")
    val filtered = hashedTbl.join(rare, "h").cache()
    val a = filtered.select(col(idCol).as("id_a"), col("h"))
    val b = filtered.select(col(idCol).as("id_b"), col("h"))
    val cands = a.join(b, "h").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().cache()
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    jaccardVerify(cands,
      hashedTbl.join(candIds, Seq(idCol), "left_semi"), idCol)
  }

  /** Edge-count threshold under which [[connectedKeepers]] solves the
    * components with a single-task executor-side union-find instead of the
    * iterative distributed loop. 5M edges ≈ 80 MB of longs — trivially
    * one-core work, while the loop costs ~5 Spark jobs per iteration. */
  val SmallGraphEdges: Long = 5000000L

  /** Node-count threshold for [[connectedKeepers]]' second dispatch
    * chance (round 15): union-find MEMORY is O(nodes) — the parent
    * LongMap — while edges only STREAM through the one task, so a
    * dense graph over few nodes (near-dup clusters: tight clusters
    * make near-COMPLETE components, edges ~ nodes²/clusters) is still
    * single-task work far past [[SmallGraphEdges]]. Measured at sf1
    * (historical X50Probe, x50's pair graph: 7.8M edges over 19,985 nodes):
    * union-find 2.5s vs the distributed loop's 10.5s. 10M nodes ≈
    * a few hundred MB of LongMap — safe on a standard executor. */
  val SmallGraphNodes: Long = 10000000L

  /** Edge cap on the node-count dispatch: past this, the single task's
    * O(E) scan dominates no matter how few nodes (one core streaming
    * 100M+ edge rows is minutes — the distributed loop's shuffles
    * amortize better). Graphs over [[SmallGraphNodes]] nodes OR this
    * many edges take the iterative path. */
  val UnionFindMaxEdges: Long = 100000000L

  /** Connected components over near-dup pairs (id_a < id_b). Returns
    * (id, keeper) where keeper is the component's minimum id — the
    * canonical survivor choice.
    *
    * Adaptive execution (same spirit as Spark choosing a broadcast join
    * from runtime stats): the pair frame is materialized once (eager
    * localCheckpoint — also needed to cut the MinHash lineage out of any
    * iteration), its edge count read for free, and then
    *  - ≤ `smallGraphEdges` AND integral ids: one `coalesce(1).
    *    mapPartitions` union-find task — exact, deterministic, O(E α(E)),
    *    ~3 Spark jobs total. Near-dup edge sets are tiny relative to the
    *    corpus (pairs that survived Jaccard ≥ 0.8), so this is the common
    *    case even at large corpus scale;
    *  - past the edge threshold, a SECOND chance on the node count
    *    (round 15): ≤ `smallGraphNodes` distinct endpoints AND
    *    ≤ [[UnionFindMaxEdges]] edges still takes the union-find —
    *    its memory is O(nodes), edges only stream, and dense few-node
    *    graphs are the near-dup norm (tight clusters ⇒ near-complete
    *    components; x50's sf1 graph: 7.8M edges / 20k nodes, 2.5s vs
    *    the loop's 10.5s);
    *  - otherwise: iterative min-label propagation with pointer jumping —
    *    log-diameter rounds of fully distributed joins (driver only runs
    *    the control loop). Throws `IllegalStateException` when labels
    *    still change after `maxIter` rounds, rather than return
    *    unconverged keepers.
    *
    * To FORCE the distributed loop (benchmarks, races), zero BOTH
    * thresholds — `smallGraphEdges = 0, smallGraphNodes = 0`; zeroing
    * only the edge threshold still admits the node-count second
    * chance (r15 — the specs' force idiom was updated with it). */
  def connectedKeepers(pairs: DataFrame, maxIter: Int = 20,
      smallGraphEdges: Long = SmallGraphEdges,
      smallGraphNodes: Long = SmallGraphNodes): DataFrame = {
    // localCheckpoint (eager) everywhere a frame feeds the loop: iterative
    // plans otherwise accumulate the WHOLE upstream lineage (here, the
    // MinHash pipeline) into every iteration's logical plan, and Catalyst
    // re-analysis time — driver-side — comes to dominate the job. Cutting
    // lineage per round keeps planning O(1) per iteration.
    val p = pairs.localCheckpoint(true)
    val integralIds = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      p.schema.fields.take(2).forall(f =>
        Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType))
    }
    if (integralIds) {
      val e = p.count()
      if (e <= smallGraphEdges) return unionFindKeepers(p)
      // second chance on the NODE count (round 15): near-dup components
      // are near-complete subgraphs, so edge counts blow past the edge
      // threshold while the node set — the union-find's actual memory
      // bound — stays tiny. The distinct count is one cheap pass over
      // the already-checkpointed edges, paid only on graphs where
      // either CC path dwarfs it. Edge cap: the single task still
      // STREAMS every edge, so past UnionFindMaxEdges the loop's
      // distributed shuffles win back. smallGraphNodes <= 0 means the
      // dispatch can never change — skip the distinct pass entirely so
      // the zero-both-thresholds force idiom pays nothing for it.
      if (smallGraphNodes > 0 && e <= UnionFindMaxEdges) {
        val n = p.select(explode(array(col(p.columns(0)).cast("long"),
          col(p.columns(1)).cast("long")))).distinct().count()
        if (n <= smallGraphNodes) return unionFindKeepers(p)
      }
    }
    val sym = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("keeper", col("id")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src").as("id")).agg(min(col("keeper")).as("nbr_min"))
      val hop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("keeper"), coalesce(col("nbr_min"), col("keeper")))
            .as("keeper"))
      // pointer jumping: keeper := keeper's keeper — squares the
      // propagation distance per round (log-diameter convergence)
      val k2 = hop.select(col("id").as("kid"), col("keeper").as("kk"))
      val next = hop.join(k2, hop("keeper") === k2("kid"), "left")
        .select(hop("id"), coalesce(col("kk"), hop("keeper")).as("keeper"))
        .localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("keeper", "old"), "id")
        .filter(col("keeper") =!= col("old")).count()
      labels = next
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(s"connectedKeepers: labels did not " +
        s"converge in maxIter = $maxIter rounds ($changed still changing)")
    labels
  }

  /** Exact union-find over a materialized small edge frame (first two
    * columns = endpoints, integral types), in ONE executor task — the
    * small-graph path of [[connectedKeepers]]. Union-by-min + path
    * compression: the root of every tree is provably the minimum id of its
    * component, so the output is deterministic regardless of edge order. */
  private def unionFindKeepers(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val idType = p.schema.fields.head.dataType
    val out = p
      .select(col(p.columns(0)).cast("long"), col(p.columns(1)).cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var root = x
          while (parent(root) != root) root = parent(root)
          var cur = x // path compression
          while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
          root
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        // snapshot keys before emitting: find() compresses paths (updates
        // existing entries) and must not race the key iterator
        parent.keysIterator.toArray.iterator.map(id => (id, find(id)))
      }
    out.toDF("id", "keeper")
      .select(col("id").cast(idType).as("id"),
        col("keeper").cast(idType).as("keeper"))
  }

  /** 48-bit SimHash over word tokens. Token hash = first 12 hex chars of
    * md5; bit p of hex digit k=(p div 4) is `(digit >> (p mod 4)) & 1`.
    * Majority vote per bit (+1/-1 weights, ties → 0). */
  def simhash48(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .select(col(idCol), md5(col("token")).as("h"))
    val bits = tok
      .select(col(idCol), col("h"), explode(sequence(lit(0), lit(47))).as("p"))
      .withColumn("digit",
        expr("instr('0123456789abcdef', substr(h, (p div 4)+1, 1)) - 1"))
      .withColumn("w",
        when(expr("(shiftright(digit, p % 4) & 1) = 1"), 1).otherwise(-1))
    bits.groupBy(col(idCol), col("p")).agg(sum(col("w")).as("s"))
      .groupBy(col(idCol))
      .agg(sum(when(col("s") > 0,
          expr("shiftleft(cast(1 as bigint), p)")).otherwise(0L))
        .as("fp48"))
  }

  /** SimHash near-dup pairs: band the 48 bits into 4×12-bit blocks (a pair
    * within Hamming distance ≤3 must agree on ≥1 block — pigeonhole), join
    * per block, verify with `bit_count(xor)`. */
  def simhashPairs(fps: DataFrame, idCol: String, maxDist: Int = 3): DataFrame = {
    val banded = fps.select(col(idCol), col("fp48"),
      posexplode(array((0 until 4).map(j =>
        expr(s"shiftright(fp48, ${j * 12}) & 4095")): _*))
        .as(Seq("band_idx", "band_val")))
    val a = banded.select(col(idCol).as("id_a"), col("fp48").as("fp_a"),
      col("band_idx"), col("band_val"))
    val b = banded.select(col(idCol).as("id_b"), col("fp48").as("fp_b"),
      col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Contamination-span LOCALIZATION: x49/x59 decide WHETHER a training
    * doc leaks a benchmark item; this reports WHERE — per (train, bench)
    * pair, the longest run of consecutive training-doc shingle positions
    * whose hashes appear in the benchmark doc's shingle set, as a token
    * count and start offset. The gaps-and-islands form (position −
    * row_number is constant within a consecutive run) localizes every
    * island in one window pass; the longest is chosen by a deterministic
    * (length desc, start asc) rank.
    *
    * Scale: the benchmark side is a small static suite — its distinct
    * (bench, hash) table broadcasts; the corpus pays one positional
    * shingle explode + one window partitioned by (doc, bench) — state
    * bounded by a single document's matched positions. Only pairs with a
    * run of ≥ `minRunShingles` emit. */
  def contaminationSpans(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int = 3, minRunShingles: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tpos = fanOut(train).select(col(idCol).as("doc_id"),
      posexplode(shingleHashArray(col(textCol), k)).as(Seq("pos", "h")))
    val bset = bench.select(col(idCol).as("bench_id"),
      explode(shingleHashArray(col(textCol), k)).as("h")).distinct()
    val byPos = Window.partitionBy("doc_id", "bench_id").orderBy("pos")
    val islands = tpos.join(broadcast(bset), "h")
      .select("doc_id", "bench_id", "pos")
      .withColumn("grp", col("pos") - row_number().over(byPos))
      .groupBy("doc_id", "bench_id", "grp")
      .agg(count(lit(1)).as("run"), min(col("pos")).as("start_pos"))
    val best = Window.partitionBy("doc_id", "bench_id")
      .orderBy(col("run").desc, col("start_pos"))
    islands
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1 && col("run") >= minRunShingles)
      .select(col("doc_id"), col("bench_id"),
        (col("run") + lit(k - 1)).as("match_tokens"),
        col("start_pos"))
  }

  /** Pairwise shingle-set overlap between corpus partitions (sources):
    * the contamination / provenance matrix — which sources share content,
    * and how much. Jaccard over each source's DISTINCT hashed-shingle set.
    *
    * Shape: one distinct over (source, shingle-hash) — the same shuffle
    * the per-doc dedup paths pay — then an inverted-index self-join on the
    * hash. A shingle present in s sources contributes C(s,2) ≤ C(S,2)
    * pairs, and S (number of sources) is a small constant at any corpus
    * size, so the join output is linear in distinct shingles — never
    * quadratic in docs. Jaccard is a raw IEEE division of exact integers
    * (the repo-wide integer-ratio rule: bit-identical, never rounded).
    *
    * Caching contract: the distinct (source, shingle) frame is `.cache()`d
    * and feeds the LAZY result, so this method cannot unpersist it itself.
    * Long-lived sessions should drop it after consuming the result
    * (`spark.catalog.clearCache()`, as Verify/Bench do between queries) or
    * the cached blocks accumulate until the ContextCleaner reclaims them. */
  def sourceOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", k: Int = 3): DataFrame = {
    // cache: the distinct (source, shingle) table — bounded by distinct
    // shingles, the same frame the per-doc dedup paths cache — feeds the
    // size agg and BOTH self-join sides
    val sh = fanOut(docs)
      .select(col(groupCol), explode(shingleHashArray(col(textCol), k)).as("h"))
      .distinct().cache()
    val sizes = sh.groupBy(col(groupCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(groupCol).as("src_a"), col("h"))
    val b = sh.select(col(groupCol).as("src_b"), col("h"))
    a.join(b, "h").filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col(groupCol).as("src_a"),
        col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col(groupCol).as("src_b"),
        col("sz").as("sz_b"))), "src_b")
      .withColumn("jaccard",
        col("common") / (col("sz_a") + col("sz_b") - col("common")))
      .select(col("src_a"), col("src_b"), col("common"), col("jaccard"))
  }

  /** Intra-corpus duplicate-span coverage — the exact-substring dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): a k-token shingle occurring in ≥2 DISTINCT documents
    * marks every token it covers as duplicated; maximal unions of
    * overlapping-or-adjacent duplicated-shingle intervals are the
    * removable spans (positions p and q cover contiguous tokens iff
    * q − p ≤ k — intervals [p, p+k−1] and [q, q+k−1] touch — so a new
    * span starts only when the gap exceeds k). Per doc: total
    * duplicated-token coverage, span count, longest span, coverage ratio
    * (raw integer-ratio division). Only docs with a span of
    * ≥ `minSpanTokens` tokens emit.
    *
    * Differs from [[removeBoilerplate]] (x66: spans common to ≥5 docs =
    * template text) and [[contaminationSpans]] (x77: per-PAIR localization
    * against a small benchmark side): this is the ANY-other-doc
    * within-corpus form at pair-free cost. The duplicated-shingle set is
    * one hash agg — `min(doc) ≠ max(doc)` over each shingle's doc ids
    * detects "≥2 distinct docs" with no countDistinct expansion — and the
    * per-position verdict is an equi-join back on the shingle hash, so the
    * whole plan is linear in corpus shingles: two shuffles on the hashed
    * shingle (agg + join; partial aggregation absorbs hot shingles on the
    * agg, AQE skew-split handles them on the join — the reason this is a
    * join and not a per-hash window, which a hot stopword shingle could
    * not split), then one window per doc. A chimera span (consecutive
    * shingles matching DIFFERENT partner docs) counts as duplicated — the
    * standard over-approximation for a scrub signal; exact pairwise
    * localization is [[contaminationSpans]]' job. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minSpanTokens: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spos = fanOut(docs).select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      posexplode(shingleHashArray(col(textCol), k)).as(Seq("pos", "h")))
    val dupH = spos.groupBy("h")
      .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"))
      .filter(col("_mn") =!= col("_mx")).select("h")
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val spans = spos.join(dupH, "h")
      .select("doc_id", "n_tokens", "pos")
      .withColumn("_brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("_grp", sum(col("_brk"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "n_tokens", "_grp")
      .agg((max(col("pos")) - min(col("pos")) + k).cast("long")
        .as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
    spans.groupBy("doc_id", "n_tokens")
      .agg(sum(col("span_tokens")).as("dup_tokens"),
        count(lit(1)).as("n_spans"),
        max(col("span_tokens")).as("longest_span"))
      .withColumn("dup_ratio", col("dup_tokens") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        col("n_spans"), col("longest_span"), col("dup_ratio"))
  }
}
