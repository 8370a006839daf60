package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Store

class StoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def mk(rows: (Long, String, String, Double)*) =
    rows.map { case (t, s, tf, c) => (msTs(t), s, tf, c) }
      .toDF("ts", "symbol", "timeframe", "close")

  test("upsert: incoming wins on PK collision, others preserved (S7)") {
    val existing = mk((1000L, "BTC", "1m", 1.0), (2000L, "BTC", "1m", 2.0))
    val incoming = mk((2000L, "BTC", "1m", 99.0), (3000L, "BTC", "1m", 3.0))
    val out = Store.upsert(existing, incoming).orderBy("ts").collect()
    assert(out.map(_.getAs[Double]("close")).toSeq == Seq(1.0, 99.0, 3.0))
  }

  test("upsert idempotence: applying the same batch twice ≡ once (DB:216)") {
    val base = mk((1000L, "BTC", "1m", 1.0), (2000L, "ETH", "1m", 2.0))
    val batch = mk((1000L, "BTC", "1m", 5.0), (4000L, "BTC", "1m", 4.0))
    val once = Store.upsert(base, batch)
    val twice = Store.upsert(once, batch)
    assert(once.orderBy("ts", "symbol").collect().toSeq ==
      twice.orderBy("ts", "symbol").collect().toSeq)
  }

  test("upsert property: result PK is unique and values come from the right side") {
    val rnd = new scala.util.Random(7)
    val ex = mk((1 to 50).map(i =>
      (rnd.nextInt(20) * 1000L, "S" + rnd.nextInt(3), "1m", rnd.nextDouble())): _*)
    val in = mk((1 to 50).map(i =>
      (rnd.nextInt(20) * 1000L, "S" + rnd.nextInt(3), "1m", 100 + rnd.nextDouble())): _*)
    val exD = Store.upsert(ex.dropDuplicates(Store.pk), in.dropDuplicates(Store.pk))
    val n = exD.count()
    assert(exD.dropDuplicates(Store.pk).count() == n, "PK not unique after upsert")
    // every key present in incoming must carry an incoming value (>= 100)
    val wrong = exD.join(in.dropDuplicates(Store.pk).select("ts", "symbol", "timeframe"),
      Store.pk).filter(col("close") < 100).count()
    assert(wrong == 0, "existing value survived an incoming key")
  }

  test("upsert seqCol: highest sequence wins inside a duplicate-PK batch") {
    val existing = mk((1000L, "BTC", "1m", 1.0)).withColumn("seq", lit(0L))
    // the same PK delivered twice in one batch (a cursor re-fetch overlap):
    // the row with the higher ingest sequence must survive, deterministically
    val incoming = Seq(
      (msTs(1000L), "BTC", "1m", 50.0, 1L),
      (msTs(1000L), "BTC", "1m", 99.0, 2L),
      (msTs(2000L), "BTC", "1m", 7.0, 1L))
      .toDF("ts", "symbol", "timeframe", "close", "seq")
    val out = Store.upsert(existing, incoming, Store.pk, Some("seq"))
      .orderBy("ts").collect()
    assert(out.map(_.getAs[Double]("close")).toSeq == Seq(99.0, 7.0))
  }

  test("save/scan roundtrip with partition pruning layout (S12/S4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    val df = mk((1000L, "BTC", "1m", 1.0), (2000L, "BTC", "1m", 2.0),
      (3000L, "BTC", "5m", 9.0), (1000L, "ETH", "1m", 7.0))
    Store.save(df, s"$dir/ohlcv")
    val got = Store.scan(spark, s"$dir/ohlcv", "BTC", "1m", msTs(0), msTs(5000))
    assert(got.count() == 2)
    assert(got.select("close").as[Double].collect().toSeq == Seq(1.0, 2.0))
    // partition pruning visible in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("ETH"))
  }

  test("upsertSave rewrites only touched partitions (rename swap)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dyn").toString
    val path = s"$dir/ohlcv"
    Store.save(mk((1000L, "BTC", "1m", 1.0), (2000L, "ETH", "1m", 2.0)), path)
    def ethFiles() = {
      val d = new java.io.File(s"$path/symbol=ETH/timeframe=1m")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toSeq.sorted
    }
    val before = ethFiles()
    Thread.sleep(1100) // mtime granularity
    // batch touches only BTC: update one row, add one
    Store.upsertSave(spark, path,
      mk((1000L, "BTC", "1m", 9.0), (3000L, "BTC", "1m", 3.0)))
    assert(ethFiles() == before, "untouched ETH partition was rewritten")
    val all = spark.read.parquet(path)
    assert(all.count() == 3)
    assert(all.filter(col("symbol") === "BTC" && col("close") === 9.0).count() == 1)
    assert(all.filter(col("symbol") === "ETH").count() == 1)
  }

  test("upsertSave leaves no scratch dirs and survives a stale backup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ups").toString
    val path = s"$dir/ohlcv"
    Store.save(mk((1000L, "BTC", "1m", 1.0)), path)
    // a crash between backup-rename and cleanup leaves __old populated;
    // the next upsertSave must clear it, not fail or resurrect it
    val stale = new java.io.File(s"${path}__old/symbol=BTC/timeframe=1m")
    assert(stale.mkdirs())
    Store.upsertSave(spark, path, mk((2000L, "BTC", "1m", 2.0)))
    assert(spark.read.parquet(path).count() == 2)
    val siblings = new java.io.File(dir).list().toSeq
    assert(siblings == Seq("ohlcv"),
      s"upsertSave left scratch dirs: $siblings")
  }

  test("partition-swap crash window: the next upsert heals the displaced " +
      "partition from the backup tree before merging") {
    val dir = java.nio.file.Files.createTempDirectory("graft_heal").toString
    val path = s"$dir/ohlcv"
    Store.save(mk((1000L, "BTC", "1m", 1.0), (2000L, "BTC", "1m", 2.0),
      (1000L, "ETH", "1m", 5.0)), path)
    // reconstruct a kill between swapPartitions' two renames for BTC:
    // live partition displaced to the backup tree, nothing at live
    val bakSym = new java.io.File(s"${path}__old/symbol=BTC")
    assert(bakSym.getParentFile.mkdirs() || bakSym.getParentFile.exists())
    assert(new java.io.File(s"$path/symbol=BTC").renameTo(bakSym),
      "fixture: could not displace the live partition")
    // the replayed batch: without the heal, `existing` reads an empty
    // BTC partition and history is silently replaced by just this row
    Store.upsertSave(spark, path, mk((3000L, "BTC", "1m", 3.0)))
    val btc = spark.read.parquet(path).filter(col("symbol") === "BTC")
    assert(btc.count() == 3,
      s"pre-crash BTC history lost: ${btc.collect().toSeq}")
    assert(spark.read.parquet(path).count() == 4)
    assert(!new java.io.File(s"${path}__old").exists(),
      "backup tree must be consumed by the heal")
  }

  test("empty-but-existing store reads as an empty canonical frame, " +
      "not a schema-inference crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val path = s"$dir/ohlcv"
    assert(new java.io.File(path).mkdirs())
    assert(new java.io.File(s"$path/_SUCCESS").createNewFile())
    val out = Store.scan(spark, path, "BTC", "1m", msTs(0L), msTs(1L << 40))
    assert(out.count() == 0)
    assert(out.columns.contains("close"))
  }

  test("null partition keys: upsertSave refuses loudly; deleteSeries " +
      "never deletes unrelated NULL-key rows") {
    val withNull = Seq((msTs(1000L), null.asInstanceOf[String], "1m", 1.0))
      .toDF("ts", "symbol", "timeframe", "close")
    val dir = java.nio.file.Files.createTempDirectory("graft_nullk").toString
    val e = intercept[IllegalArgumentException] {
      Store.upsertSave(spark, s"$dir/ohlcv",
        mk((1000L, "BTC", "1m", 1.0)).unionByName(withNull))
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // deleteSeries: three-valued logic must not drop the NULL-key row
    val table = mk((1000L, "BTC", "1m", 1.0), (2000L, "ETH", "1m", 2.0))
      .unionByName(withNull)
    val left = Store.deleteSeries(table, "BTC", "1m")
    assert(left.count() == 2, "NULL-key row vanished with the delete")
    assert(left.filter(col("symbol").isNull).count() == 1)
  }

  test("upsertSave crash mid-swap rolls back to the pre-call table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val path = s"$dir/ohlcv"
    val original = mk((1000L, "BTC", "1m", 1.0), (2000L, "ETH", "1m", 2.0))
    Store.save(original, path)
    // stage a merged rewrite of BOTH partitions plus a NEW one (SOL),
    // exactly as upsertSave's tmp write would
    val tmp = s"${path}__upserting"
    mk((1000L, "BTC", "1m", 9.0), (2000L, "ETH", "1m", 8.0),
      (3000L, "SOL", "1m", 7.0))
      .write.mode("overwrite").partitionBy("symbol", "timeframe").parquet(tmp)
    val parts = Seq(("BTC", "1m"), ("ETH", "1m"), ("SOL", "1m"))
    // injected rename failure after 2 successful swaps (BTC, ETH done,
    // SOL fails) — the completed swaps must roll back
    val e = intercept[java.io.IOException] {
      Store.swapPartitions(spark, path, tmp, parts, failAfter = 2)
    }
    assert(e.getMessage.contains("rename"))
    val after = spark.read.parquet(path)
      .select("ts", "symbol", "timeframe", "close")
      .collect().map(_.toSeq).toSet
    val expect = original.select("ts", "symbol", "timeframe", "close")
      .collect().map(_.toSeq).toSet
    assert(after == expect, "rollback did not restore the pre-call table")
    // no backup skeleton left; tmp KEPT for retry (merged bytes intact)
    val siblings = new java.io.File(dir).list().toSeq.sorted
    assert(siblings == Seq("ohlcv", "ohlcv__upserting"),
      s"unexpected siblings after rollback: $siblings")
    // and the retry path completes from the kept tmp
    Store.swapPartitions(spark, path, tmp, parts)
    val retried = spark.read.parquet(path)
    assert(retried.count() == 3)
    assert(retried.filter(col("close") === 9.0).count() == 1)
    assert(new java.io.File(dir).list().toSeq == Seq("ohlcv"))
  }

  test("upsertSave escapes path-special partition values (':' in symbol)") {
    // Spark's write path percent-encodes ':' in partition dirs
    // (symbol=BTC%3AUSD); the swap's source paths must match that
    // encoding or the rename fails for any such key
    val dir = java.nio.file.Files.createTempDirectory("graft_esc").toString
    val path = s"$dir/ohlcv"
    Store.save(mk((1000L, "BTC:USD", "1m", 1.0), (2000L, "ETH", "1m", 2.0)), path)
    Store.upsertSave(spark, path,
      mk((1000L, "BTC:USD", "1m", 9.0), (3000L, "BTC:USD", "1m", 3.0)))
    val all = spark.read.parquet(path)
    assert(all.count() == 3)
    assert(all.filter(col("symbol") === "BTC:USD").count() == 2)
    assert(all.filter(col("close") === 9.0).count() == 1)
    assert(new java.io.File(dir).list().toSeq == Seq("ohlcv"),
      "swap left scratch dirs for the escaped partition")
  }

  test("upsertSave falls back to dynamic overwrite on non-atomic-rename stores") {
    val hc = spark.sparkContext.hadoopConfiguration
    // capability probe: local fs is rename-atomic by scheme; the conf
    // override models an object store (and lets tests force the fallback)
    val fs = new org.apache.hadoop.fs.Path("/tmp").getFileSystem(hc)
    assert(Store.atomicRename(spark, fs), "file:// must default to atomic")
    hc.set("graft.store.rename.atomic", "false")
    try {
      assert(!Store.atomicRename(spark, fs))
      val dir = java.nio.file.Files.createTempDirectory("graft_s3ish").toString
      val path = s"$dir/ohlcv"
      Store.save(mk((1000L, "BTC", "1m", 1.0), (2000L, "ETH", "1m", 2.0)), path)
      Store.upsertSave(spark, path,
        mk((1000L, "BTC", "1m", 9.0), (3000L, "BTC", "1m", 3.0)))
      val all = spark.read.parquet(path)
      assert(all.count() == 3)
      assert(all.filter(col("close") === 9.0).count() == 1)
      assert(all.filter(col("symbol") === "ETH" && col("close") === 2.0).count() == 1)
      // the fallback never creates the swap's scratch siblings
      assert(new java.io.File(dir).list().toSeq == Seq("ohlcv"),
        "fallback left swap scratch dirs")
    } finally hc.unset("graft.store.rename.atomic")
  }

  test("numeric-looking partition keys stay strings ('007' vs '7'), both swap paths") {
    // every store read pins symbol/timeframe to STRING: a bare read
    // partition-type-infers "007" and "7" to the SAME IntegerType 7 —
    // the upsert's live read then merges the wrong partitions (and the
    // fallback's tmp re-read would overwrite the wrong live directory).
    // Both consistency paths must keep the two symbols distinct.
    for (atomic <- Seq("true", "false")) {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("graft.store.rename.atomic", atomic)
      try {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_numsym_$atomic").toString
        val path = s"$dir/ohlcv"
        Store.save(mk((1000L, "007", "1m", 1.0), (1000L, "7", "1m", 2.0)), path)
        Store.upsertSave(spark, path,
          mk((1000L, "007", "1m", 9.0), (3000L, "007", "1m", 3.0)))
        val all = Store.readCanonical(spark, path)
        assert(all.schema("symbol").dataType ==
          org.apache.spark.sql.types.StringType)
        // "007" upserted+appended; "7" untouched — no cross-partition bleed
        assert(all.filter(col("symbol") === "007").count() == 2,
          s"atomic=$atomic")
        assert(all.filter(col("symbol") === "007" && col("close") === 9.0)
          .count() == 1, s"atomic=$atomic")
        assert(all.filter(col("symbol") === "7" && col("close") === 2.0)
          .count() == 1, s"atomic=$atomic")
        assert(all.count() == 3, s"atomic=$atomic")
        // S4 scan resolves the string key against the right partition
        val scanned = Store.scan(spark, path, "7", "1m",
          new java.sql.Timestamp(0L), new java.sql.Timestamp(10_000L))
        assert(scanned.count() == 1 &&
          scanned.head.getAs[Double]("close") == 2.0, s"atomic=$atomic")
        // compact must not merge symbol=007 into symbol=7 on disk
        Store.compact(spark, path)
        val after = Store.readCanonical(spark, path)
        assert(after.filter(col("symbol") === "007").count() == 2 &&
          after.filter(col("symbol") === "7").count() == 1,
          s"atomic=$atomic compact collapsed numeric-looking partitions")
      } finally hc.unset("graft.store.rename.atomic")
    }
  }

  test("compact merges small files without changing data (storage maintenance)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val store = s"$dir/ohlcv"
    val rows = (1 to 2000).map(i =>
      (msTs(i * 60000L), if (i % 2 == 0) "BTC" else "ETH", "1m", i.toDouble))
      .toDF("ts", "symbol", "timeframe", "close")
    // simulate many tiny ingest files: 25 shuffled parts per partition dir
    rows.repartition(25).write.mode("overwrite")
      .partitionBy("symbol", "timeframe").parquet(store)
    def parquetFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(store)).filter(_.getName.endsWith(".parquet"))
    }
    val before = spark.read.parquet(store)
      .orderBy("ts", "symbol").collect().toSeq
    val nBefore = parquetFiles().size
    assert(nBefore >= 25, s"fixture not fragmented: $nBefore files")
    Store.compact(spark, store, targetFileBytes = 1L << 30)
    val nAfter = parquetFiles().size
    assert(nAfter <= 2, s"still fragmented after compact: $nAfter files")
    val after = spark.read.parquet(store)
      .orderBy("ts", "symbol").collect().toSeq
    assert(after == before, "compaction changed the data")
    // two-rename swap leaves no scratch dirs behind
    val siblings = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!siblings.contains("ohlcv__compacting") &&
      !siblings.contains("ohlcv__old"),
      s"compact left scratch dirs: $siblings")
  }

  test("compact swap survives a stale backup from a prior crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact2").toString
    val store = s"$dir/ohlcv"
    val rows = (1 to 100).map(i => (msTs(i * 60000L), "BTC", "1m", i.toDouble))
      .toDF("ts", "symbol", "timeframe", "close")
    rows.write.mode("overwrite")
      .partitionBy("symbol", "timeframe").parquet(store)
    // a crash after the first rename of an earlier compact leaves __old
    val stale = new java.io.File(s"$dir/ohlcv__old")
    stale.mkdirs()
    new java.io.File(stale, "junk.txt").createNewFile()
    val before = spark.read.parquet(store).orderBy("ts").collect().toSeq
    Store.compact(spark, store, targetFileBytes = 1L << 30)
    assert(spark.read.parquet(store).orderBy("ts").collect().toSeq == before)
    assert(!stale.exists(), "stale backup not cleared")
  }

  test("compact swap crash window (no live dir): read heals by rolling " +
      "the completed rewrite forward") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact3").toString
    val store = s"$dir/ohlcv"
    val rows = (1 to 100).map(i => (msTs(i * 60000L), "BTC", "1m", i.toDouble))
      .toDF("ts", "symbol", "timeframe", "close")
    rows.write.mode("overwrite")
      .partitionBy("symbol", "timeframe").parquet(store)
    val before = spark.read.parquet(store).orderBy("ts").collect().toSeq
    // reconstruct a kill between compact's two renames: the completed
    // rewrite at __compacting, the pre-compact tree at __old, no live dir
    assert(new java.io.File(store)
      .renameTo(new java.io.File(s"$dir/ohlcv__compacting")))
    new java.io.File(s"$dir/ohlcv__old").mkdirs()
    assert(Store.healInterruptedSwap(spark, store), "heal must run")
    assert(Store.scan(spark, store, "BTC", "1m",
      msTs(0L), msTs(1L << 40)).count() == 100)
    assert(spark.read.parquet(store).orderBy("ts").collect().toSeq == before)
    val siblings = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(siblings == Set("ohlcv"), s"swap leftovers not cleared: $siblings")
    assert(!Store.healInterruptedSwap(spark, store), "healthy tree: no-op")
  }

  test("deriveMeta + storedInfo (S8/S6)") {
    val df = mk((1704067200000L, "BTC", "1m", 1.0),
      (1704153600000L, "BTC", "1m", 2.0))
    val info = Store.storedInfo(df).collect()(0)
    val meta = Store.deriveMeta(df).collect()(0)
    assert(meta.getAs[java.sql.Timestamp]("start_ts") == info.getAs[java.sql.Timestamp]("start_ts") &&
      meta.getAs[java.sql.Timestamp]("end_ts") == info.getAs[java.sql.Timestamp]("end_ts"))
    assert(info.getAs[String]("start_date") == "2024-01-01")
    assert(info.getAs[String]("end_date") == "2024-01-02")
    assert(info.getAs[Long]("n") == 2L)
  }

  test("deleteSeries removes exactly the keyed series (S9)") {
    val df = mk((1000L, "BTC", "1m", 1.0), (2000L, "BTC", "5m", 2.0),
      (3000L, "ETH", "1m", 3.0))
    val out = Store.deleteSeries(df, "BTC", "1m")
    assert(out.count() == 2)
    assert(out.filter(col("symbol") === "BTC" && col("timeframe") === "1m").isEmpty)
  }

  test("csv/parquet export with filename template (S10/S11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    val df = mk((1000L, "BTC", "1m", 1.0))
    val csv = Store.exportCsv(df, dir, "BTCUSDT", "1h", "20240101", "20240201")
    val pq = Store.exportParquet(df, dir, "BTCUSDT", "1h", "20240101", "20240201")
    assert(csv.endsWith("BTCUSDT_1h_20240101_20240201.csv"))
    assert(new java.io.File(csv).exists())
    assert(spark.read.option("header", "true").csv(csv).count() == 1)
    assert(spark.read.parquet(pq).count() == 1)
  }
}
