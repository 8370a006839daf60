package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-shard export: the sink side of the data pipeline — turn a
  * curated corpus into numbered, size-balanced, reproducible shards that a
  * training job streams independently (the standard final step after
  * dedup → decontaminate → sample → pack).
  *
  * Design for 100 TB:
  *  - shard assignment is a DETERMINISTIC pure expression (md5 of the id,
  *    like x47's split buckets) — re-running the export yields
  *    byte-identical shard membership regardless of partitioning, task
  *    retries, or cluster size; no RNG, no zipWithIndex (whose values
  *    depend on partition layout);
  *  - `repartition(numShards, $"shard")` + `partitionBy("shard")` gives
  *    exactly one file per shard directory with a single shuffle — the
  *    writer never funnels data through fewer executors than shards;
  *  - the manifest (per-shard doc/token counts) is aggregated from the
  *    WRITTEN files, not from the input frame: re-aggregating the input
  *    would re-execute the caller's whole upstream pipeline (dedup →
  *    decontaminate → … is exactly what gets passed in), while the
  *    written shards are compact columnar output — and the manifest then
  *    provably describes the files on disk, even under a
  *    nondeterministic upstream.
  *
  * md5-mod assignment balances shard sizes to within sampling noise
  * (docs land i.i.d.); for strict token-equal shards, the x48 prefix-sum
  * packing (`ext/Packing`) composes in front of this writer (pack to
  * `bin_id`, shard on `bin_id`).
  */
object ShardWriter {

  /** Deterministic shard id in [0, numShards). */
  def shardId(id: org.apache.spark.sql.Column, numShards: Int)
      : org.apache.spark.sql.Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long") % numShards

  /** Write `docs` as `numShards` parquet shards under `outDir`
    * (`shard=K/part-*.parquet`, one file each) and return the manifest:
    * (shard, n_docs, n_tokens), one row per shard, suitable for a
    * training job's sampler. */
  def writeShards(docs: DataFrame, outDir: String, numShards: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    docs.withColumn("shard", shardId(col(idCol), numShards))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(idCol) // reproducible in-file order
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(outDir)
    readShards(docs.sparkSession, outDir).groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
  }

  /** Read a shard set back as one frame (schema includes the `shard`
    * partition column — a training job reads `outDir/shard=K` directly
    * and never touches the rest). */
  def readShards(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)

  /** [[writeShards]] + persist the manifest at `$outDir/_manifest`
    * (underscore prefix ⇒ Hadoop's hidden-path convention, so
    * [[readShards]] and any `shard=K` directory read never see it as
    * data). The persisted manifest is what makes the export a CONTRACT:
    * the consuming side can [[verifyShards]] that the files it is about
    * to stream are exactly the files the exporter described — across
    * clusters, copies, and time — instead of trusting a returned frame
    * that died with the export job. */
  def writeShardsWithManifest(docs: DataFrame, outDir: String,
      numShards: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val manifest = writeShards(docs, outDir, numShards, idCol, textCol)
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/_manifest")
    docs.sparkSession.read.parquet(s"$outDir/_manifest")
  }

  /** Integrity check for a shard set against its persisted manifest —
    * run by the CONSUMER before streaming shards into a training job.
    * Catches lost/truncated shard files, partial copies, and manual
    * edits: one scan of the shard set (per-shard count + token sum —
    * map-side partial aggregation into a numShards-cardinality result,
    * the cheapest full-integrity pass that exists) full-outer-joined
    * against the manifest. Returns one row per shard with expected vs
    * actual counts and an `ok` flag; `filter(!col("ok"))` is empty iff
    * the set is intact (a shard present on disk but absent from the
    * manifest — or vice versa — also surfaces, via the outer join's
    * nulls). */
  def verifyShards(spark: SparkSession, outDir: String,
      textCol: String = "text"): DataFrame = {
    val manifest = spark.read.parquet(s"$outDir/_manifest")
      .select(col("shard").cast("long"),
        col("n_docs").as("manifest_docs"),
        col("n_tokens").as("manifest_tokens"))
    val actual = readShards(spark, outDir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("actual_docs"),
        sum(size(split(col(textCol), " ")).cast("long"))
          .as("actual_tokens"))
    manifest.join(actual, Seq("shard"), "full_outer")
      .withColumn("ok",
        col("manifest_docs") <=> col("actual_docs") &&
          col("manifest_tokens") <=> col("actual_tokens"))
      .orderBy("shard")
  }
}
