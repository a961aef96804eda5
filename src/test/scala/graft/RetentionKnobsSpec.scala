package graft

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Commit-coupled partition expiry (reference: operation/PartitionExpire
  * + partition.expiration-* options), the wide-table stats bounds
  * (metadata.stats-keep-first-n-columns, metadata.stats-mode.per.level)
  * and snapshot.clean-empty-directories. */
class RetentionKnobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-rk").toString + "/t"

  private def dtRows(rows: (String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("dt", "k")
  }

  test("partition.expiration-time expires old partitions on commit, oldest-first within max-num") {
    val t = GraftTable.create(spark, tmp(), dtRows("x" -> 1L).schema,
      partitionKeys = Seq("dt"),
      options = Map(
        "partition.expiration-time" -> "7d",
        "partition.expiration-check-interval" -> "0ms",
        "partition.expiration-max-num" -> "1"))
    t.write(dtRows("2020-01-01" -> 1L, "2020-01-02" -> 2L, "2099-01-01" -> 3L))
    // the write's own commit hook ran the expiry: max-num=1 drops ONLY
    // the oldest expired partition
    val live1 = t.read.collect().map(_.getString(0)).toSet
    assert(live1 == Set("2020-01-02", "2099-01-01"), live1)
    // next commit drains the next-oldest
    t.write(dtRows("2099-01-02" -> 4L))
    val live2 = t.read.collect().map(_.getString(0)).toSet
    assert(live2 == Set("2099-01-01", "2099-01-02"), live2)
  }

  test("expiration-batch-size splits one pass into multiple DELETE commits") {
    val t = GraftTable.create(spark, tmp(), dtRows("x" -> 1L).schema,
      partitionKeys = Seq("dt"))
    t.write(dtRows("2020-01-01" -> 1L, "2020-01-02" -> 2L,
      "2020-01-03" -> 3L, "2099-01-01" -> 9L))
    val before = t.sm.snapshotIds.size
    val dropped = t.expirePartitionsByTime(
      7L * 86400000L, batchSize = 1)
    assert(dropped.size == 3)
    assert(t.sm.snapshotIds.size == before + 3) // one commit per batch
    assert(t.read.collect().map(_.getString(0)).toSet == Set("2099-01-01"))
  }

  test("metadata.stats-keep-first-n-columns drops stats past the first N schema columns") {
    import spark.implicits._
    val df = Seq((1L, "aaa", 5.0)).toDF("a", "b", "c")
    val t = GraftTable.create(spark, tmp(), df.schema,
      options = Map("metadata.stats-keep-first-n-columns" -> "1"))
    t.write(df)
    val stats = t.sm.latestSnapshot().map(t.sm.liveEntries).get.head.file.stats
    assert(stats.contains("a"), stats.keySet)
    assert(!stats.contains("b") && !stats.contains("c"), stats.keySet)
  }

  test("metadata.stats-mode.per.level: none at ingest level 0, full after compaction") {
    import spark.implicits._
    val df = Seq((1L, "alpha")).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), df.schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1",
        "metadata.stats-mode.per.level" -> "0:none"))
    t.write(df)
    val l0 = t.sm.latestSnapshot().map(t.sm.liveEntries).get.head.file
    // only USER columns are bounded; the hidden seq/kind stats stay
    // (they drive merge planning, not user-predicate pruning)
    assert(l0.level == 0 &&
      !l0.stats.contains("k") && !l0.stats.contains("v"), l0)
    t.compact()
    val l1 = t.sm.latestSnapshot().map(t.sm.liveEntries).get.head.file
    assert(l1.level > 0 && l1.stats.get("v").exists(_.min.contains("alpha")), l1)

    // append table: exact-value pushdown declines while a live file was
    // written under a non-full LEVEL mode (level 0 here)
    val a = GraftTable.create(spark, tmp(), df.schema,
      options = Map("metadata.stats-mode.per.level" -> "0:counts"))
    a.write(df)
    assert(a.statsMinMax("v").isEmpty, "level-0 counts mode must decline")
  }

  test("num-sorted-run.compaction-trigger fires on run count below the file-num trigger") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), df.schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1",
        "num-sorted-run.compaction-trigger" -> "2"))
    t.write(Seq((1L, "a")).toDF("k", "v"))
    assert(UniversalCompactionSpec.compactIfNeededChecked(t).isEmpty, "one run must not trigger")
    t.write(Seq((2L, "b")).toDF("k", "v"))
    // two level-0 runs >= trigger 2, even though file count (2) is far
    // below the default min.file-num trigger (5)
    assert(UniversalCompactionSpec.compactIfNeededChecked(t).isDefined)
    val files = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    assert(files.forall(_.file.level > 0))
  }

  test("source.split.target-size bounds bin-packed split sizes") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, "v" * 50)).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), df.schema)
    t.write(df.repartition(4)) // four separate data files
    val entries = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    assert(entries.size == 4, entries.size)
    val sch = org.apache.spark.sql.types.StructType(Nil)
    val one = graft.sources.GraftScanUtil.filePartitions(
      spark, t.path, entries, sch, targetSize = Some(1L))
    assert(one.length == 4, "1-byte target → one file per split")
    val all = graft.sources.GraftScanUtil.filePartitions(
      spark, t.path, entries, sch, targetSize = Some(1L << 30))
    assert(all.length < 4, "1gb target packs files together")
    // option resolution: read option wins over table option, sizes parse
    assert(graft.sources.GraftScanUtil.splitTargetSize(
      Map("source.split.target-size" -> "64mb"),
      Map("source.split.target-size" -> "1gb")).contains(64L << 20))
    assert(graft.core.Meta.parseBytes("512") == 512L)
    assert(graft.core.Meta.parseBytes("4 kb") == 4096L)
  }

  test("source.split.open-file-cost packs fewer small files per split") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, "v" * 50)).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), df.schema)
    t.write(df.repartition(8)) // eight small data files
    val entries = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    assert(entries.size == 8, entries.size)
    val sch = org.apache.spark.sql.types.StructType(Nil)
    // generous target, no cost override: everything packs together
    val cheap = graft.sources.GraftScanUtil.filePartitions(
      spark, t.path, entries, sch, targetSize = Some(1L << 30))
    assert(cheap.length < 8)
    // the same target with a cost ≈ half the target: ≤2 files/split
    val costly = graft.sources.GraftScanUtil.filePartitions(
      spark, t.path, entries, sch, targetSize = Some(1L << 20),
      openFileCost = Some((1L << 19) - 1))
    assert(costly.length >= 4, s"open cost must spread: ${costly.length}")
    assert(costly.forall(_.asInstanceOf[
      org.apache.spark.sql.execution.datasources.FilePartition].files.length <= 2))
    // every file still served exactly once
    assert(costly.map(_.asInstanceOf[
      org.apache.spark.sql.execution.datasources.FilePartition].files.length).sum == 8)
    // option resolution mirrors target-size
    assert(graft.sources.GraftScanUtil.splitOpenFileCost(
      Map("source.split.open-file-cost" -> "8mb"),
      Map("source.split.open-file-cost" -> "1kb")).contains(8L << 20))
    // end-to-end: the table option shapes the native scan's partitions
    val t2 = GraftTable.create(spark, tmp(), df.schema,
      options = Map("source.split.target-size" -> "1mb",
        "source.split.open-file-cost" -> "512kb"))
    t2.write(df.repartition(8))
    assert(t2.read.count() == 400)
    assert(t2.read.rdd.getNumPartitions >= 4,
      s"cost option must reach the scan: ${t2.read.rdd.getNumPartitions}")
  }

  test("snapshot.expire.execution-mode=async expires off the commit path") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v").schema,
      options = Map(
        "snapshot.num-retained.max" -> "2",
        "snapshot.num-retained.min" -> "1",
        "snapshot.expire.execution-mode" -> "async"))
    (1 to 5).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    // the walk runs on the daemon thread — poll for it
    val deadline = System.currentTimeMillis() + 30000
    while (t.sm.snapshotIds.size > 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(t.sm.snapshotIds.size <= 2,
      s"async expiry never ran: ${t.sm.snapshotIds}")
    // the tip is always retained and readable
    assert(t.read.count() == 5)
    // sync default still expires inline
    val s = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v").schema,
      options = Map("snapshot.num-retained.max" -> "2",
        "snapshot.num-retained.min" -> "1"))
    (1 to 4).foreach(i => s.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(s.sm.snapshotIds.size <= 2)
  }

  test("snapshot.clean-empty-directories sweeps partition dirs emptied by expiration") {
    val t = GraftTable.create(spark, tmp(), dtRows("x" -> 1L).schema,
      partitionKeys = Seq("dt"),
      options = Map("snapshot.clean-empty-directories" -> "true"))
    t.write(dtRows("2020-01-01" -> 1L, "2020-01-02" -> 2L))
    t.delete(org.apache.spark.sql.functions.col("dt") === "2020-01-01")
    val dir = Paths.get(s"${t.path}/data/dt=2020-01-01")
    assert(Files.isDirectory(dir), s"expected partition dir before expire: $dir")
    t.expireSnapshots(retain = 1)
    assert(!Files.exists(dir), "emptied partition dir should be swept")
    // the surviving partition's directory is untouched
    assert(Files.isDirectory(Paths.get(s"${t.path}/data/dt=2020-01-02")))
    assert(t.read.count() == 1L)
  }

  test("write-only suppresses write-coupled compaction") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), df.schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "commit.force-compact" -> "true",
        "full-compaction.delta-commits" -> "1", "write-only" -> "true"))
    t.write(df); t.write(Seq((2L, "b")).toDF("k", "v"))
    assert(t.sm.snapshotIds.map(t.sm.snapshot(_).commitKind)
      .forall(_ != "COMPACT"), "write-only must skip compaction")
    // explicit maintenance still works
    assert(t.compact().isDefined)
  }

  test("commit.timeout bounds the CAS retry loop in wall time") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    // a generous budget never interferes with a healthy commit
    val ok = GraftTable.create(spark, tmp(), df.schema,
      options = Map("commit.timeout" -> "10m"))
    ok.write(df)
    assert(ok.read.count() == 1)
    // an exhausted budget ends the loop by TIME, not by burning the
    // 20-attempt retry budget (the loop checks the clock per attempt)
    val t = GraftTable.create(spark, tmp(), df.schema,
      options = Map("commit.timeout" -> "0ms"))
    val e = intercept[IllegalStateException](t.write(df))
    assert(e.getMessage.contains("timed out"), e.getMessage)
  }

  test("changelog.num-retained.min floors the time-based changelog trim") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), df.schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "changelog-producer" -> "lookup",
        "changelog.time-retained" -> "1ms",
        "changelog.num-retained.min" -> "2"))
    t.write(df)
    t.write(Seq((1L, "a2")).toDF("k", "v"))
    t.write(Seq((1L, "a3")).toDF("k", "v"))
    Thread.sleep(20) // everything aged past 1ms
    t.expireSnapshots(retain = 1)
    // time cutoff alone would drop all retained changelogs; the min
    // floor keeps the newest two
    assert(t.sm.retainedChangelogs.size >= 2,
      s"kept ${t.sm.retainedChangelogs.size}")
  }

  test("partition.end-input-to-done marks written partitions after a batch write") {
    val t = GraftTable.create(spark, tmp(), dtRows("x" -> 1L).schema,
      partitionKeys = Seq("dt"),
      options = Map("partition.end-input-to-done" -> "true"))
    t.write(dtRows("2024-01-01" -> 1L, "2024-01-02" -> 2L))
    assert(Files.exists(Paths.get(s"${t.path}/data/dt=2024-01-01/_SUCCESS")))
    assert(Files.exists(Paths.get(s"${t.path}/data/dt=2024-01-02/_SUCCESS")))
  }

  test("cross-partition index-ttl drops aged entries at the full fold") {
    import spark.implicits._
    // pk does NOT contain the partition key -> cross-partition upsert
    val df = Seq((1L, "p1", "a")).toDF("k", "dt", "v")
    val t = GraftTable.create(spark, tmp(), df.schema,
      primaryKeys = Seq("k"), partitionKeys = Seq("dt"),
      options = Map("bucket" -> "1",
        "cross-partition-upsert.index-ttl" -> "800ms",
        "global-index.compact-trigger" -> "2"))
    t.write(df)
    assert(t.globalIndexDf.get.count() == 1)
    Thread.sleep(1200) // the k=1 entry ages past the 800ms TTL
    // two more writes cross the compact trigger -> full fold drops it;
    // k=3's own-pass entry is stamped with the pass clock and survives
    t.write(Seq((2L, "p1", "b")).toDF("k", "dt", "v"))
    t.write(Seq((3L, "p1", "c")).toDF("k", "dt", "v"))
    val keys = t.globalIndexDf.get.select("k").collect().map(_.getLong(0)).toSet
    assert(!keys.contains(1L), s"aged entry must drop from the index: $keys")
    assert(keys.contains(3L), s"same-pass entry must survive: $keys")
    // consequence (documented reference caveat): an expired key routes
    // as NEW on its next update; the data itself stays readable
    assert(t.read.count() == 3)
  }

  test("streaming.read.snapshot.delay holds back young snapshots") {
    spark.conf.set("spark.sql.catalog.graftrk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftrk.warehouse",
      Files.createTempDirectory("graft-rk-wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftrk.d")
    spark.sql("CREATE TABLE graftrk.d.t (k BIGINT)")
    spark.sql("INSERT INTO graftrk.d.t VALUES (1)")
    def drained(delay: String): Int = {
      val got = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = spark.readStream
        .option("streaming.read.snapshot.delay", delay)
        .table("graftrk.d.t")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft-rk-ck").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.addAndGet(df.count().toInt): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
      got.get()
    }
    assert(drained("1h") == 0, "a fresh snapshot must be held back")
    assert(drained("0ms") == 1, "zero delay admits it")
  }

  test("manifest knobs: full-compaction-threshold-size, target-file-size, compression, delete-stats drop") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    // bytes threshold folds the list even far below merge-min-count
    val t = GraftTable.create(spark, tmp(), df.schema,
      options = Map("manifest.full-compaction-threshold-size" -> "1b",
        "manifest.target-file-size" -> "1b",
        "manifest.compression" -> "zstd"))
    t.write(df)
    t.write(Seq((2L, "b")).toDF("k", "v"))
    t.write(Seq((3L, "c")).toDF("k", "v"))
    val manifests = t.sm.readManifestList(
      t.sm.latestSnapshot().get.manifestList)
    // every commit folded (1-byte threshold); 1-byte target splits the
    // fold into one manifest per entry
    assert(manifests.size == 3, manifests)
    assert(t.read.count() == 3)
    // folding stays idempotent through the procedure path as well
    assert(t.sm.compactManifests().isEmpty ||
      t.read.count() == 3)

    // delete-file-drop-stats strips stats from DELETE entries only
    val d = GraftTable.create(spark, tmp(), dtRows("x" -> 1L).schema,
      partitionKeys = Seq("dt"),
      options = Map("manifest.delete-file-drop-stats" -> "true"))
    d.write(dtRows("p1" -> 1L, "p2" -> 2L))
    d.delete(org.apache.spark.sql.functions.col("dt") === "p1")
    val delta = d.sm.latestSnapshot().get.deltaManifest
      .map(d.sm.readManifest).get
    val dels = delta.filter(_.kind == "DELETE")
    assert(dels.nonEmpty)
    assert(dels.forall(_.file.stats.isEmpty), dels)
    assert(d.read.count() == 1)
  }

  test("consumer-id read option: stream progress mirrors to a consumer file and resumes") {
    spark.conf.set("spark.sql.catalog.graftci", "graft.sources.GraftCatalog")
    val wh = Files.createTempDirectory("graft-ci-wh").toString
    spark.conf.set("spark.sql.catalog.graftci.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftci.d")
    spark.sql("CREATE TABLE graftci.d.t (k BIGINT)")
    spark.sql("INSERT INTO graftci.d.t VALUES (1)")
    def drain(ck: String): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.option("consumer-id", "ci1")
        .table("graftci.d.t").writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0))): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }
    val ck1 = Files.createTempDirectory("graft-ci-ck").toString
    assert(drain(ck1) == Seq(1L))
    // Spark reports a batch's commit at the NEXT batch's cleanup, so
    // the mirror trails by one batch: the second drain (processing
    // row 2) flushes batch 0's progress
    spark.sql("INSERT INTO graftci.d.t VALUES (2)")
    assert(drain(ck1) == Seq(2L))
    val gt = graft.table.GraftTable.load(spark, s"$wh/d/t")
    assert(Files.exists(java.nio.file.Paths.get(s"$wh/d/t/consumer/consumer-ci1")))
    assert(graft.streaming.GraftStreaming.consumerOffset(gt, "ci1").contains(0L))
    // a FRESH checkpoint with the same consumer-id resumes after the
    // mirrored progress: row 2 is re-served (the mirror trails),
    // row 1 is not
    val ck2 = Files.createTempDirectory("graft-ci-ck2").toString
    assert(drain(ck2) == Seq(2L))

    // stored consumer progress takes PRECEDENCE over scan.mode on a
    // fresh start (reference: ConsumerManager startup) — scan.mode=
    // latest alone would jump past row 2 and silently skip it
    val ck3 = Files.createTempDirectory("graft-ci-ck3").toString
    val got3 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q3 = spark.readStream.option("consumer-id", "ci1")
      .option("scan.mode", "latest")
      .table("graftci.d.t").writeStream
      .option("checkpointLocation", ck3)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => got3.add(r.getLong(0))): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q3.awaitTermination(120000))
    import scala.jdk.CollectionConverters._
    assert(got3.asScala.toSeq == Seq(2L),
      s"consumer progress must beat scan.mode=latest: ${got3.asScala.toSeq}")

    // a consumer-id with NO stored progress still honors scan.mode
    val ck4 = Files.createTempDirectory("graft-ci-ck4").toString
    val got4 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q4 = spark.readStream.option("consumer-id", "ci-fresh")
      .option("scan.mode", "latest")
      .table("graftci.d.t").writeStream
      .option("checkpointLocation", ck4)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => got4.add(r.getLong(0))): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q4.awaitTermination(120000))
    assert(got4.asScala.isEmpty,
      s"fresh consumer + scan.mode=latest starts at latest: ${got4.asScala.toSeq}")
  }
}
