package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.ShardWriter

class ShardWriterSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, Seq.fill(3 + i % 7)("w" + i).mkString(" ")))
      .toDF("doc_id", "text")

  test("writeShards: lossless, one file per shard, manifest matches") {
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val docs = corpus(200)
    val manifest = ShardWriter.writeShards(docs, dir, numShards = 8).cache()

    // one parquet data file per shard directory
    val shardDirs = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 8)
    shardDirs.foreach { d =>
      val files = d.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.length} files")
    }

    // round trip is lossless
    val back = ShardWriter.readShards(spark, dir)
    assert(back.count() == 200)
    assert(back.select("doc_id").except(docs.select("doc_id")).count() == 0)
    assert(docs.select("doc_id").except(back.select("doc_id")).count() == 0)

    // manifest counts equal what actually landed in each shard
    val landed = back.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    assert(manifest.orderBy("shard").collect().toSeq ==
      landed.orderBy("shard").collect().toSeq)
    assert(manifest.agg(sum("n_docs")).head.getLong(0) == 200L)
  }

  test("shard assignment is deterministic and partitioning-independent") {
    val docs = corpus(100)
    val a = docs.select(col("doc_id"), ShardWriter.shardId(col("doc_id"), 8).as("s"))
    val b = docs.repartition(7).select(col("doc_id"),
      ShardWriter.shardId(col("doc_id"), 8).as("s"))
    assert(a.orderBy("doc_id").collect().toSeq == b.orderBy("doc_id").collect().toSeq)
    // every shard in range
    assert(a.filter(col("s") < 0 || col("s") >= 8).count() == 0)
  }

  test("pack → shard composition: every packed bin lands in exactly one shard") {
    // the scaladoc's "for strict token-equal shards, compose Packing in
    // front" claim, executed: bins become the shard unit
    val dir = java.nio.file.Files.createTempDirectory("shards3").toString
    val docs = (1L to 120L).map(i =>
        (i, if (i % 3 == 0) "de" else "en", Seq.fill(5 + (i % 9).toInt)("w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val packed = ext.Packing.packDocs(docs, "doc_id", "lang", "n_tok",
        budget = 40)
      .withColumn("bin_key", concat_ws("#", col("lang"), col("bin")))
    ShardWriter.writeShards(packed, dir, numShards = 4, idCol = "bin_key")
    val back = ShardWriter.readShards(spark, dir)
    assert(back.count() == 120)
    val split_bins = back.groupBy("bin_key")
      .agg(countDistinct(col("shard")).as("s"))
      .filter(col("s") =!= 1).count()
    assert(split_bins == 0, "a packed bin was split across shards")
  }

  test("persisted manifest: invisible to shard reads, verifies an intact " +
      "set, flags a lost shard file") {
    val dir = java.nio.file.Files.createTempDirectory("shards4").toString
    val docs = corpus(200)
    val manifest = ShardWriter.writeShardsWithManifest(docs, dir,
      numShards = 8)
    assert(manifest.count() == 8)
    // the _manifest dir is hidden from data reads (Hadoop convention)
    assert(ShardWriter.readShards(spark, dir).count() == 200)
    assert(ShardWriter.readShards(spark, dir).columns.toSet
      == Set("doc_id", "text", "shard"))
    // intact set verifies clean
    val report = ShardWriter.verifyShards(spark, dir)
    assert(report.count() == 8 && report.filter(!col("ok")).isEmpty)
    // lose one shard's data file → exactly that shard flags, with the
    // manifest side carrying the expected counts and the actual side null
    val victim = new java.io.File(s"$dir/shard=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val bad = ShardWriter.verifyShards(spark, dir).filter(!col("ok"))
    val rows = bad.collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 3L,
      s"expected exactly shard 3 flagged, got ${rows.toSeq}")
    assert(!rows(0).isNullAt(1) && rows(0).isNullAt(3),
      "manifest side must keep expected counts; actual side must be null")
  }

  test("re-export yields identical shard membership (retry-safe)") {
    val dir = java.nio.file.Files.createTempDirectory("shards2").toString
    val docs = corpus(60)
    ShardWriter.writeShards(docs, dir, numShards = 4)
    val first = ShardWriter.readShards(spark, dir)
      .select("doc_id", "shard").orderBy("doc_id").collect().toSeq
    ShardWriter.writeShards(docs, dir, numShards = 4) // overwrite in place
    val second = ShardWriter.readShards(spark, dir)
      .select("doc_id", "shard").orderBy("doc_id").collect().toSeq
    assert(first == second)
  }
}
