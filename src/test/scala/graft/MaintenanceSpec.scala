package graft

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Maintenance operators: sort-compact (z-order/order), rollback,
  * schema evolution. */
class MaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-maint").toString + "/t"

  private val xy = StructType(Seq(
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false)))

  private def grid(n: Int): DataFrame = {
    import spark.implicits._
    // row-major order: x-runs are clustered, y is scattered
    (0 until n).flatMap(y => (0 until n).map(x => (x.toLong, y.toLong)))
      .toDF("x", "y")
  }

  test("z-order edge inputs: dates cluster, NaN/Inf don't poison ranks, 4-dim stays unsigned") {
    import spark.implicits._
    // DATE column: Spark has no date→double cast — a bare cast threw
    // before any data was processed
    val dd = (0 until 20).map(i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d")))
      .toDF("k", "d")
    assert(graft.operators.ZOrder.cluster(dd, Seq("d", "k"), 4).count() == 20)

    // one NaN must not collapse every finite row onto one rank (a NaN
    // multiplier ranks ALL rows MaxRank and clustering does nothing)
    val nd = Seq((1L, 0.0), (2L, 10.0), (3L, 20.0), (4L, Double.NaN),
      (5L, Double.PositiveInfinity)).toDF("k", "x")
    val zs = nd.select(graft.operators.ZOrder.zvalue(nd, Seq("x")).as("z"))
      .collect().map(_.getLong(0))
    assert(zs.distinct.length >= 3,
      s"finite rows must keep distinct ranks despite NaN/Inf: ${zs.toSeq}")

    // 4 dimensions: 16×4 bits would reach the SIGN bit and wrap half
    // the z-space negative — the all-max corner must stay above the
    // all-min corner in SIGNED order
    val corners = Seq((0L, 0L, 0L, 0L), (1000L, 1000L, 1000L, 1000L),
      (500L, 500L, 500L, 500L)).toDF("a", "b", "c", "d")
    val z4 = corners.select(
      graft.operators.ZOrder.zvalue(corners, Seq("a", "b", "c", "d")).as("z"))
      .collect().map(_.getLong(0))
    assert(z4.forall(_ >= 0L), s"4-dim z must stay non-negative: ${z4.toSeq}")
    assert(z4(0) < z4(2) && z4(2) < z4(1), s"corner order: ${z4.toSeq}")
    // hilbert too
    assert(graft.operators.ZOrder.clusterByHilbert(
      corners, Seq("a", "b", "c", "d"), 2).count() == 3)

    // CJK first chars clamp into the rank byte instead of overflowing
    // 16 bits (mod-65536 leftovers are not order-preserving)
    val sd = Seq((1L, "apple"), (2L, "zebra"), (3L, "你好"))
      .toDF("k", "s")
    val zsStr = sd.orderBy("k")
      .select(graft.operators.ZOrder.zvalue(sd, Seq("s")).as("z"))
      .collect().map(_.getLong(0))
    assert(zsStr(0) < zsStr(1) && zsStr(1) <= zsStr(2),
      s"latin < CJK rank order must hold: ${zsStr.toSeq}")
  }

  test("manifest compaction fires the post-commit hook like any other commit") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), xy)
    t.write((0L until 5L).map(i => (i, i)).toDF("x", "y"))
    t.write((5L until 10L).map(i => (i, i)).toDF("x", "y"))
    var seen = Vector.empty[Long]
    t.sm.onCommit(id => seen :+= id)
    val r = t.sm.compactManifests()
    assert(r.isDefined, "two manifests must fold")
    // commit-coupled exports (iceberg metadata, auto-tags, HMS sync)
    // hang off this hook — a snapshot that skips it leaves them one
    // commit behind, possibly forever on a read-mostly table
    assert(seen == Vector(r.get),
      s"manifest compaction must fire the post-commit hook, saw $seen")
  }

  test("migrate adopts a plain partitioned parquet dir without rewriting data") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-mig-src").toString + "/src"
    (0L until 60L).map(i => (i, s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("k", "v", "p")
      .write.partitionBy("p").parquet(srcDir)
    val t = GraftTable.migrate(spark, srcDir, tmp())
    assert(t.schema.partitionKeys == Seq("p"))
    assert(t.read.count() == 60L)
    assert(t.countRows() == 60L) // footer stats committed
    // partition + stats pruning work on the adopted files
    val a = t.scan(col("p") === "a")
    assert(a.count() == 30L)
    assert(a.inputFiles.forall(_.contains("p=a")))
    val got = t.read.filter(col("k") === 7L).collect()
    assert(got.length == 1 && got.head.getAs[String]("v") == "v7")
    // source untouched
    assert(spark.read.parquet(srcDir).count() == 60L)
  }

  test("migrateHudi adopts a COW table: latest base per file group, inflight skipped") {
    import spark.implicits._
    import java.nio.file.Paths
    def writeOne(df: DataFrame, target: java.nio.file.Path): Unit = {
      val tmpd = Files.createTempDirectory("graft-hudi-one").toString + "/d"
      df.coalesce(1).write.parquet(tmpd)
      val part = graft.core.FsUtil.walkAll(Paths.get(tmpd)).iterator
        .find(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).get
      Files.createDirectories(target.getParent)
      Files.move(part, target)
    }
    def mkTimeline(root: java.nio.file.Path, names: Seq[String],
        tableType: String = "COPY_ON_WRITE"): Unit = {
      val hoodie = root.resolve(".hoodie")
      Files.createDirectories(hoodie)
      Files.write(hoodie.resolve("hoodie.properties"),
        s"hoodie.table.type=$tableType\nhoodie.table.name=src\n".getBytes)
      names.foreach(n => Files.write(hoodie.resolve(n), Array.emptyByteArray))
    }
    val src = Paths.get(Files.createTempDirectory("graft-hudi-src").toString, "src")
    mkTimeline(src, Seq("20240101000000.commit", "20240102000000.commit"))
    // file group fg1 has TWO completed versions — only the newer counts
    writeOne((0L until 10L).map(i => (i, s"old$i")).toDF("k", "v"),
      src.resolve("p=a/fg1-0_1-0-1_20240101000000.parquet"))
    writeOne((0L until 10L).map(i => (i, s"new$i")).toDF("k", "v"),
      src.resolve("p=a/fg1-0_1-0-2_20240102000000.parquet"))
    writeOne((10L until 20L).map(i => (i, s"b$i")).toDF("k", "v"),
      src.resolve("p=a/fg2-0_1-0-1_20240101000000.parquet"))
    writeOne((20L until 30L).map(i => (i, s"c$i")).toDF("k", "v"),
      src.resolve("p=b/fg3-0_1-0-1_20240102000000.parquet"))
    // an INFLIGHT instant's base file must be skipped (crashed writer)
    writeOne(Seq((99L, "uncommitted")).toDF("k", "v"),
      src.resolve("p=b/fg4-0_1-0-1_20240103000000.parquet"))
    val t = GraftTable.migrateHudi(spark, src.toString, tmp())
    assert(t.schema.partitionKeys == Seq("p"))
    val got = t.read.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 30, s"latest-per-group + committed-only, got ${got.size}")
    assert(got(3L) == "new3", "newer completed base file must supersede")
    assert(!got.contains(99L), "inflight base file must be skipped")
    // partition pruning works on the adopted layout
    val b = t.scan(col("p") === "b")
    assert(b.count() == 10L && b.inputFiles.forall(_.contains("p=b")))
    // source untouched
    assert(Files.exists(src.resolve("p=a/fg1-0_1-0-1_20240101000000.parquet")))

    // rejections mirror the reference: MOR type, log deltas, replacecommit
    val mor = Paths.get(Files.createTempDirectory("graft-hudi-mor").toString, "src")
    mkTimeline(mor, Seq("20240101000000.commit"), tableType = "MERGE_ON_READ")
    val e1 = intercept[IllegalArgumentException](
      GraftTable.migrateHudi(spark, mor.toString, tmp()))
    assert(e1.getMessage.contains("COPY_ON_WRITE"), e1.getMessage)
    val rc = Paths.get(Files.createTempDirectory("graft-hudi-rc").toString, "src")
    mkTimeline(rc, Seq("20240101000000.commit", "20240102000000.replacecommit"))
    val e2 = intercept[IllegalArgumentException](
      GraftTable.migrateHudi(spark, rc.toString, tmp()))
    assert(e2.getMessage.contains("replacecommit"), e2.getMessage)
    val lg = Paths.get(Files.createTempDirectory("graft-hudi-lg").toString, "src")
    mkTimeline(lg, Seq("20240101000000.commit"))
    writeOne(Seq((1L, "x")).toDF("k", "v"),
      lg.resolve("fg1-0_1-0-1_20240101000000.parquet"))
    Files.write(lg.resolve(".fg1-0_20240101000000.log.1_1-0-1"), Array[Byte](1))
    val e3 = intercept[IllegalArgumentException](
      GraftTable.migrateHudi(spark, lg.toString, tmp()))
    assert(e3.getMessage.contains("log deltas"), e3.getMessage)
  }

  test("rescale re-buckets a PK table once; reads, lookups and upserts follow") {
    val kv = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def df(rows: (Long, String)*) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2)).asJava, kv)
    val t = GraftTable.create(spark, tmp(), kv,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.write(df((0L until 40L).map(i => (i, s"a$i")): _*))
    assert(t.rescale(2).isEmpty) // no-op
    t.rescale(8)
    val t2 = GraftTable.load(spark, t.path)
    assert(t2.schema.numBuckets == 8)
    assert(t2.read.count() == 40L)
    // data landed in the new bucket layout, hashed with the new count
    val buckets = t2.systemFiles.select("bucket").collect().map(_.getInt(0)).toSet
    assert(buckets.exists(_ >= 2), s"expected buckets beyond 0-1, got $buckets")
    // lookup hash-prunes with the new count
    assert(t2.lookup(Map("k" -> 7L)).head.getString(1) == "a7")
    // post-rescale upserts keep merging correctly
    t2.write(df((7L, "updated")))
    assert(t2.read.filter(col("k") === 7L).head.getString(1) == "updated")
    assert(t2.read.count() == 40L)
  }

  test("rewrite_file_index builds sidecars for pre-existing files after option change") {
    val kv = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    def df(rows: Seq[(Long, Double)]) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2)).asJava, kv).coalesce(1)
    val t = GraftTable.create(spark, tmp(), kv)
    // interleaved keys: min/max can't prune, only an index can
    (0 until 4).foreach { i =>
      t.write(df((0L until 100L).filter(_ % 4 == i).map(x => (x, x.toDouble))))
    }
    assert(t.scan(col("k") === 42L).inputFiles.length == 4) // nothing to prune with
    t.setOption("file-index.bloom-filter.columns", "k")
    val t2 = GraftTable.load(spark, t.path)
    t2.rewriteFileIndex()
    val hit = t2.scan(col("k") === 42L)
    assert(hit.inputFiles.length < 4, "rebuilt bloom sidecars must prune")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(42L))
    assert(t2.read.count() == 100L)
  }

  test("z-order sort-compact tightens file stats on both dimensions") {
    val t = GraftTable.create(spark, tmp(), xy)
    // write row-major in 8 slices: y is clustered per file, x is not
    val g = grid(64)
    (0 until 8).foreach(i => t.write(g.filter(col("y") % 8 === i)))
    val filesBefore = t.scan(col("x") < 8 && col("y") < 8).inputFiles.length
    t.sortCompact("zorder", Seq("x", "y"), targetFiles = 8)
    // data preserved
    assert(t.read.count() == 64L * 64)
    assert(t.read.agg(sum(col("x") + col("y") * 64)).head.getLong(0) ==
      (0L until 64L * 64L).sum)
    // a corner-box query must now touch fewer files than dimensions × slices
    val filesAfter = t.scan(col("x") < 8 && col("y") < 8).inputFiles.length
    assert(filesAfter < filesBefore,
      s"expected pruning to improve: before=$filesBefore after=$filesAfter")
    assert(t.scan(col("x") < 8 && col("y") < 8).count() == 64)
  }

  test("clustering.columns range-clusters every append write") {
    // zorder at write time: a corner-box scan prunes files from the
    // FIRST write, without any sort-compact
    val t = GraftTable.create(spark, tmp(), xy, options = Map(
      "clustering.columns" -> "x,y")) // auto → zorder for 2 columns
    t.write(grid(64).repartition(8)) // scattered input partitions
    assert(t.read.count() == 64L * 64)
    val total = t.read.inputFiles.length
    val corner = t.scan(col("x") < 8 && col("y") < 8)
    assert(corner.inputFiles.length < total,
      s"write-time clustering must prune: ${corner.inputFiles.length}/$total")
    assert(corner.count() == 64)
    // single column → auto picks plain order
    val t2 = GraftTable.create(spark, tmp(), xy, options = Map(
      "clustering.columns" -> "x"))
    t2.write(grid(32).repartition(4))
    assert(t2.scan(col("x") === 5).inputFiles.length == 1)
    assert(t2.read.count() == 32L * 32)
    // an unknown strategy fails loudly, a missing column fails loudly
    val t3 = GraftTable.create(spark, tmp(), xy, options = Map(
      "clustering.columns" -> "x", "clustering.strategy" -> "bogus"))
    intercept[IllegalArgumentException](t3.write(grid(4)))
    val t4 = GraftTable.create(spark, tmp(), xy, options = Map(
      "clustering.columns" -> "nope"))
    intercept[IllegalArgumentException](t4.write(grid(4)))
  }

  test("order sort-compact clusters lexicographically") {
    val t = GraftTable.create(spark, tmp(), xy)
    (0 until 4).foreach(i => t.write(grid(32).filter(col("x") % 4 === i)))
    t.sortCompact("order", Seq("x"), targetFiles = 4)
    assert(t.read.count() == 32L * 32)
    assert(t.scan(col("x") === 5).inputFiles.length == 1)
  }

  test("rollback discards later snapshots and their files") {
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    def df(v: Long*) = spark.createDataFrame(v.map(Row(_)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df(1, 2))
    t.write(df(3))
    t.write(df(4))
    assert(t.read.count() == 4)
    t.rollback(0L)
    assert(t.read.count() == 2)
    assert(t.sm.latestSnapshotId.contains(0L))
    // a new write continues from the rolled-back state
    t.write(df(9))
    assert(t.read.count() == 3)
    assert(t.sm.latestSnapshotId.contains(1L))
  }

  test("hilbert sort-compact clusters both dimensions; index is a true Hilbert walk") {
    // property: the curve visits every cell of a 2^b × 2^b grid exactly
    // once, and consecutive index values are grid NEIGHBORS (the
    // locality property z-order lacks at octant boundaries)
    val bits = 4
    val side = 1 << bits
    val cells = for (x <- 0 until side; y <- 0 until side)
      yield (x, y, graft.operators.ZOrder.hilbertIndex(
        Array(x.toLong, y.toLong), bits))
    assert(cells.map(_._3).distinct.size == side * side, "must be a bijection")
    val walk = cells.sortBy(_._3)
    walk.sliding(2).foreach { case Seq((x1, y1, _), (x2, y2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step ($x1,$y1)->($x2,$y2)")
    }
    // end-to-end through sort-compact
    val t = GraftTable.create(spark, tmp(), xy)
    val g = grid(64)
    (0 until 8).foreach(i => t.write(g.filter(col("y") % 8 === i)))
    val before = t.scan(col("x") < 8 && col("y") < 8).inputFiles.length
    t.sortCompact("hilbert", Seq("x", "y"), targetFiles = 8)
    assert(t.read.count() == 64L * 64)
    val after = t.scan(col("x") < 8 && col("y") < 8).inputFiles.length
    assert(after < before, s"expected pruning to improve: $before -> $after")
  }

  test("compactIfNeeded rewrites only over-threshold buckets") {
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true),
      StructField("seq", LongType, nullable = true)))
    def df(rows: (Long, Long, Long)*) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"), options = Map("sequence.field" -> "seq", "bucket" -> "2"))
    // key 0 and key 3 land in different buckets; hammer only key 0's
    val hotKey = 0L
    (1 to 7).foreach(i => t.write(df((hotKey, i.toLong, i.toLong))))
    t.write(df((3L, 1L, 1L)))
    val before = t.systemFiles.collect().map(r => (r.getInt(2), r.getString(0)))
    val hotBucket = before.groupBy(_._1).maxBy(_._2.length)._1
    assert(before.count(_._1 == hotBucket) > 5)
    assert(UniversalCompactionSpec.compactIfNeededChecked(t, 5).isDefined)
    val after = t.systemFiles.collect().map(r => (r.getInt(2), r.getString(0)))
    assert(after.count(_._1 == hotBucket) == 1, "hot bucket compacted to one file")
    // cool buckets' files untouched (same physical files)
    val coolBefore = before.filterNot(_._1 == hotBucket).map(_._2).toSet
    val coolAfter = after.filterNot(_._1 == hotBucket).map(_._2).toSet
    assert(coolBefore == coolAfter)
    // data intact; second call is a no-op
    assert(t.read.filter(col("k") === hotKey).head.getLong(1) == 7L)
    assert(UniversalCompactionSpec.compactIfNeededChecked(t, 5).isEmpty)
  }

  test("snapshot.expire.limit bounds one expire pass; later passes drain the rest") {
    import scala.jdk.CollectionConverters._
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("snapshot.expire.limit" -> "2"))
    def df(v: Long*) = spark.createDataFrame(v.map(Row(_)).asJava, sch)
    (0 until 6).foreach(i => t.write(df(i.toLong)))
    // 6 snapshots, retain 1 -> 5 to drop, capped at 2 per pass
    assert(t.expireSnapshots(retain = 1).size == 2)
    assert(t.sm.snapshotIds.size == 4)
    assert(t.expireSnapshots(retain = 1).size == 2)
    assert(t.expireSnapshots(retain = 1).size == 1)
    assert(t.sm.snapshotIds.size == 1)
    assert(t.read.count() == 6L) // data never affected
  }

  test("compaction.max-size-amplification-percent: few huge level-0 runs " +
    "compact on SIZE even below the count trigger; min.file-num overrides") {
    import scala.jdk.CollectionConverters._
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def df(n: Range, tag: String) = spark.createDataFrame(
      n.map(i => Row(i.toLong, s"$tag-$i-${"x" * 50}")).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"), options = Map("bucket" -> "1"))
    t.write(df(0 until 10, "seed"))
    t.compact() // small merged level-1 state
    // ONE giant level-0 run: count (2 files) is far below trigger=5,
    // but un-merged bytes >> 2x merged bytes -> amplification fires
    t.write(df(0 until 5000, "big"))
    val entriesBefore = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    assert(entriesBefore.size == 2)
    assert(UniversalCompactionSpec.compactIfNeededChecked(t, 5).isDefined,
      "size amplification must trigger despite low file count")
    val after = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    assert(after.forall(_.file.level > 0) && t.read.count() == 5000L)
    // small churn on the merged state: neither count nor size fires
    t.write(df(0 until 3, "tiny"))
    assert(UniversalCompactionSpec.compactIfNeededChecked(t, 5).isEmpty)
    // compaction.min.file-num overrides the caller's count trigger
    val t2 = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "compaction.min.file-num" -> "2"))
    (0 until 3).foreach(i => t2.write(df(i * 10 until i * 10 + 5, s"w$i")))
    assert(UniversalCompactionSpec.compactIfNeededChecked(t2, 10).isDefined,
      "3 files > min.file-num=2 must fire even with caller trigger 10")
  }

  test("file.compression.per.level picks the codec by commit level") {
    import scala.jdk.CollectionConverters._
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1",
        "file.compression.per.level" -> "0:snappy,1:zstd"))
    t.write(spark.createDataFrame((0L until 50L).map(Row(_)).asJava, sch))
    def codecs(): Set[String] = {
      val es = t.sm.latestSnapshot().map(t.sm.liveEntries).get
      es.map { e =>
        val p = s"${t.path}/${e.file.fileName}"
        val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          new org.apache.hadoop.conf.Configuration(),
          new org.apache.hadoop.fs.Path(p))
        footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .map(_.getCodec.toString).toSet
      }.reduce(_ ++ _)
    }
    assert(codecs() == Set("SNAPPY"), codecs().toString)
    t.compact() // level-1 output switches to zstd
    assert(codecs() == Set("ZSTD"), codecs().toString)
  }

  test("snapshot.expire.limit: malformed value is rejected at CREATE and " +
    "degrades to unlimited (never wedges the expire path) if set later") {
    import scala.jdk.CollectionConverters._
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    // CREATE validates up front — a typo fails here, not on every commit
    assertThrows[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), sch,
        options = Map("snapshot.expire.limit" -> "10s"))
    }
    // smuggled in via a later option change: the commit-coupled expire
    // path must WARN + expire unbounded instead of throwing forever
    val t = GraftTable.create(spark, tmp(), sch)
    def df(v: Long*) = spark.createDataFrame(v.map(Row(_)).asJava, sch)
    (0 until 4).foreach(i => t.write(df(i.toLong)))
    t.setOption("snapshot.expire.limit", "10s")
    assert(t.expireSnapshots(retain = 1).nonEmpty) // no NumberFormatException
    assert(t.sm.snapshotIds.size == 1, "unbounded: one pass drained all")
    assert(t.read.count() == 4L)
  }

  test("consumer.expiration-time expires stale consumers at commit; fresh ones pinned") {
    import scala.jdk.CollectionConverters._
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("consumer.expiration-time" -> "1 h"))
    def df(v: Long*) = spark.createDataFrame(v.map(Row(_)).asJava, sch)
    t.write(df(1L))
    val dir = java.nio.file.Paths.get(s"${t.path}/consumer")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("consumer-stale"), "0".getBytes)
    java.nio.file.Files.setLastModifiedTime(dir.resolve("consumer-stale"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 3600 * 1000))
    java.nio.file.Files.write(dir.resolve("consumer-fresh"), "0".getBytes)
    t.write(df(2L)) // the commit hook expires the stale one
    assert(!java.nio.file.Files.exists(dir.resolve("consumer-stale")))
    assert(java.nio.file.Files.exists(dir.resolve("consumer-fresh")))
    // liveness heartbeat: a CAUGHT-UP consumer that keeps polling an
    // idle table refreshes its mtime, so it never looks abandoned
    val caughtUp = dir.resolve("consumer-caughtup")
    java.nio.file.Files.write(caughtUp,
      t.sm.latestSnapshotId.get.toString.getBytes)
    java.nio.file.Files.setLastModifiedTime(caughtUp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 3600 * 1000))
    // nothing new to drain — but the poll must refresh the heartbeat
    assert(graft.streaming.GraftStreaming.processChangelog(
      t, caughtUp.toString, (_, _) => ()).isEmpty)
    assert(java.nio.file.Files.getLastModifiedTime(caughtUp).toMillis >
      System.currentTimeMillis() - 60000, "poll must refresh mtime")
    t.write(df(3L))
    assert(java.nio.file.Files.exists(caughtUp), "live consumer expired")
  }

  test("expirePartitions drops old partitions metadata-only") {
    val sch = StructType(Seq(
      StructField("dt", StringType, nullable = false),
      StructField("k", LongType, nullable = false)))
    def df(rows: (String, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("dt"))
    t.write(df(("2024-01-01", 1L), ("2024-02-01", 2L), ("2024-03-01", 3L)))
    val dropped = t.expirePartitions("dt", "2024-02-01")
    assert(dropped.map(_("dt")) == Seq("2024-01-01"))
    assert(t.read.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 3L))
    assert(t.expirePartitions("dt", "2024-01-15").isEmpty) // nothing older
  }

  test("expirePartitionsByTime: values-time parses partition values, update-time uses last write") {
    val sch = StructType(Seq(
      StructField("dt", StringType, nullable = false),
      StructField("k", LongType, nullable = false)))
    def df(rows: (String, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)
    val day = 86400000L

    // values-time: the partition VALUE is the clock
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("dt"))
    t.write(df(("2024-01-01", 1L), ("2024-03-01", 2L), ("not-a-date", 3L)))
    val now = java.sql.Timestamp.valueOf("2024-03-05 00:00:00").getTime
    val dropped = t.expirePartitionsByTime(
      expirationMillis = 30 * day, strategy = "values-time", now = now)
    assert(dropped.map(_("dt")) == Seq("2024-01-01"), dropped.toString)
    // unparseable partitions are skipped, never silently expired
    assert(t.read.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 3L))

    // update-time: a partition whose last WRITE is outside the window
    // expires regardless of its value
    val t2 = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("dt"))
    t2.write(df(("old", 1L)))
    Thread.sleep(60)
    t2.write(df(("fresh", 2L)))
    val mid = t2.sm.latestSnapshot().get.timeMillis - 25
    val dropped2 = t2.expirePartitionsByTime(
      expirationMillis = 0L, strategy = "update-time",
      now = mid) // cutoff = mid: 'old' written before, 'fresh' after
    assert(dropped2.map(_("dt")) == Seq("old"), dropped2.toString)
    assert(t2.read.collect().map(_.getString(0)).toSeq == Seq("fresh"))
    // multi-column pattern composes ($k substitution)
    val sch3 = StructType(Seq(
      StructField("y", StringType, nullable = false),
      StructField("m", StringType, nullable = false),
      StructField("k", LongType, nullable = false)))
    val t3 = GraftTable.create(spark, tmp(), sch3, partitionKeys = Seq("y", "m"))
    t3.write(spark.createDataFrame(Seq(
      Row("2024", "01", 1L), Row("2024", "03", 2L)).asJava, sch3))
    val dropped3 = t3.expirePartitionsByTime(30 * day, "values-time",
      timestampFormatter = "yyyy-MM", timestampPattern = Some("$y-$m"), now = now)
    assert(dropped3.map(p => (p("y"), p("m"))) == Seq(("2024", "01")))
  }

  test("update-time expiry after history trim never drops a recently-written partition") {
    val sch = StructType(Seq(
      StructField("dt", StringType, nullable = false),
      StructField("k", LongType, nullable = false)))
    def df(rows: (String, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("dt"))
    t.write(df(("p", 1L)))
    // churn OTHER partitions, then expire snapshots so p's ADD snapshot
    // is gone from retained history
    (1 to 4).foreach(i => t.write(df((s"q$i", i.toLong))))
    t.expireSnapshots(retain = 2)
    // p has no ADD in retained history; with a 7-day window and 'now'
    // minutes after the writes, p must be KEPT (its last touch bounds
    // at the earliest retained snapshot, not 0)
    val day = 86400000L
    val dropped = t.expirePartitionsByTime(7 * day, "update-time")
    assert(dropped.isEmpty, s"history-trimmed partition dropped: $dropped")
    assert(t.read.filter(col("dt") === "p").count() == 1L)
  }

  test("partition.idle-time-to-done marks quiet partitions with _SUCCESS") {
    val sch = StructType(Seq(
      StructField("dt", StringType, nullable = false),
      StructField("k", LongType, nullable = false)))
    def df(rows: (String, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("dt"),
      options = Map("partition.idle-time-to-done" -> "1 h"))
    t.write(df(("old", 1L)))
    Thread.sleep(30)
    t.write(df(("fresh", 2L)))
    // 'old' idle for >1h at now+1h-after-its-write; 'fresh' is not
    val mid = t.sm.snapshot(1L).timeMillis + 3600L * 1000 - 10
    val marked = t.markIdlePartitionsDone(now = mid)
    assert(marked.map(_("dt")) == Seq("old"), marked.toString)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${t.path}/data/dt=old/_SUCCESS")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${t.path}/data/dt=fresh/_SUCCESS")))
    // idempotent: a second call marks nothing new
    assert(t.markIdlePartitionsDone(now = mid).isEmpty)
    // a re-activated partition SHEDS its marker: new data landed, so
    // downstream must stop treating it as done (re-marks once idle)
    t.write(df(("old", 9L)))
    t.markIdlePartitionsDone(now = t.sm.latestSnapshot().get.timeMillis + 10)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${t.path}/data/dt=old/_SUCCESS")),
      "stale marker must be removed when the partition becomes active")
    // without the option the call is a no-op
    val c = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("dt"))
    c.write(df(("p", 1L)))
    assert(c.markIdlePartitionsDone(now = Long.MaxValue / 2).isEmpty)
    // the marker is referenced by no manifest — remove_orphan_files
    // must still NEVER sweep it (it would silently un-mark 'done'
    // partitions downstream schedulers poll)
    t.markIdlePartitionsDone(
      now = t.sm.latestSnapshot().get.timeMillis + 3600L * 1000 + 10)
    val marker = java.nio.file.Paths.get(s"${t.path}/data/dt=old/_SUCCESS")
    assert(java.nio.file.Files.exists(marker))
    val removed = t.removeOrphanFiles(graceMillis = -1000)
    assert(java.nio.file.Files.exists(marker),
      s"orphan sweep deleted the partition-done marker (removed=$removed)")
  }

  test("changelog retention outlives snapshot expiration; caps trim it") {
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def df(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"), options = Map(
        "changelog-producer" -> "lookup",
        "changelog.num-retained.max" -> "10"))
    t.write(df((1L, "a")))
    t.write(df((1L, "a2"), (2L, "b")))
    t.write(df((2L, "b2")))
    val before = t.incrementalRead(0L, 2L)
      .select("k", "v", "_row_kind").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(before.nonEmpty)
    // expire everything but the head: the persisted changelog outlives
    t.expireSnapshots(retain = 1)
    assert(t.sm.retainedChangelogs.map(_.snapshotId).toSeq == Seq(0L, 1L))
    val after = t.incrementalRead(0L, 2L)
      .select("k", "v", "_row_kind").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(after == before, s"retained changelog must serve the expired range\n$after\nvs\n$before")
    // a lagging streaming consumer drains the retained ids
    val cp = s"${Files.createTempDirectory("graft-clret")}/off"
    java.nio.file.Files.write(java.nio.file.Paths.get(cp), "0".getBytes)
    var seen = Vector.empty[Long]
    graft.streaming.GraftStreaming.processChangelog(t, cp, (_, id) => seen :+= id)
    assert(seen == Vector(1L, 2L), seen.toString)
    // a tighter cap trims the oldest retained entries and their files
    t.setOption("changelog.num-retained.max", "1")
    val t2 = GraftTable.load(spark, t.path)
    t2.write(df((3L, "c")))
    t2.expireSnapshots(retain = 1)
    assert(t2.sm.retainedChangelogs.size <= 1,
      t2.sm.retainedChangelogs.toString)
    // control: WITHOUT the options, expiration removes changelogs
    val c = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"), options = Map("changelog-producer" -> "lookup"))
    c.write(df((1L, "a"))); c.write(df((1L, "a2")))
    c.expireSnapshots(retain = 1)
    assert(c.sm.retainedChangelogs.isEmpty)
  }

  test("automatic snapshot retention: num-retained.max caps history at commit") {
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    def df(v: Long) = spark.createDataFrame(Seq(Row(v)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch, options = Map(
      "snapshot.num-retained.max" -> "3",
      "snapshot.num-retained.min" -> "2"))
    (1L to 8L).foreach(i => t.write(df(i)))
    // the per-commit hook kept only the newest 3 snapshots
    val ids = t.sm.snapshotIds
    assert(ids.size == 3, s"got $ids")
    assert(ids.max == 7L) // 8 commits → ids 0..7, newest retained
    // data intact: expiration drops history, never current rows
    assert(t.read.count() == 8)
    // without retention options nothing ever auto-expires
    val t2 = GraftTable.create(spark, tmp(), sch)
    (1L to 5L).foreach(i => t2.write(df(i)))
    assert(t2.sm.snapshotIds.size == 5)
    // time-retained keeps at least num-retained.min even when the
    // window would drop everything
    val t3 = GraftTable.create(spark, tmp(), sch, options = Map(
      "snapshot.time-retained" -> "1 ms",
      "snapshot.num-retained.min" -> "2"))
    (1L to 5L).foreach { i => t3.write(df(i)); Thread.sleep(3) }
    assert(t3.sm.snapshotIds.size == 2, t3.sm.snapshotIds.toString)
  }

  test("record-level TTL: compaction drops expired rows, keeps fresh and null-timed ones") {
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("event_sec", LongType, nullable = true)))
    def df(rows: (Long, String, java.lang.Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, sch)
    val farFuture = 4102444800L // 2100-01-01 epoch seconds
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"), options = Map(
        "record-level.expire-time" -> "7 d",
        "record-level.time-field" -> "event_sec",
        "bucket" -> "2"))
    t.write(df((1L, "ancient", 1000L), (2L, "fresh", farFuture),
      (3L, "unknown-time", null)))
    // no strong timeliness guarantee: pre-compaction reads still see all
    assert(t.read.count() == 3)
    t.compact()
    // compaction expired the ancient row; fresh + null-timed survive
    assert(t.read.orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("fresh", "unknown-time"))
    // timestamp-typed time field works the same way
    val sch2 = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = true)))
    val t2 = GraftTable.create(spark, tmp(), sch2,
      primaryKeys = Seq("k"), options = Map(
        "record-level.expire-time" -> "1 d",
        "record-level.time-field" -> "ts"))
    t2.write(spark.createDataFrame(Seq(
      Row(1L, java.sql.Timestamp.valueOf("1999-01-01 00:00:00")),
      Row(2L, java.sql.Timestamp.valueOf("2099-01-01 00:00:00"))).asJava, sch2))
    t2.compact()
    assert(t2.read.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // duration parser shapes
    assert(GraftTable.parseDurationMillis("500 ms") == 500L)
    assert(GraftTable.parseDurationMillis("45s") == 45000L)
    assert(GraftTable.parseDurationMillis("12 h") == 43200000L)
    intercept[IllegalArgumentException](GraftTable.parseDurationMillis("1 week"))
  }

  test("removeOrphanFiles deletes staged debris but never live data") {
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    def df(v: Long*) = spark.createDataFrame(v.map(Row(_)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df(1, 2))
    // crash debris: an unreferenced file in the data dir
    val orphan = java.nio.file.Paths.get(s"${t.path}/data/orphan-debris.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    // within grace: nothing deleted
    assert(t.removeOrphanFiles(graceMillis = 3600 * 1000).isEmpty)
    // past grace: only the orphan goes
    val deleted = t.removeOrphanFiles(graceMillis = -1000)
    assert(deleted == Seq("data/orphan-debris.parquet"))
    assert(t.read.count() == 2)
  }

  test("tags survive snapshot expiration; consumers block it") {
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    def df(v: Long*) = spark.createDataFrame(v.map(Row(_)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df(1))
    t.createTag("v1")
    t.write(df(2))
    t.write(df(3))
    t.write(df(4))
    t.expireSnapshots(retain = 1)
    // snapshot 0 is gone but the tag still reads its content
    assert(t.sm.snapshotIds.head > 0L)
    assert(t.readTag("v1").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a registered consumer at offset 1 prevents dropping snapshots > 1
    val t2 = GraftTable.create(spark, tmp(), sch)
    t2.write(df(1)); t2.write(df(2)); t2.write(df(3))
    graft.core.Json // keep import-free; write consumer offset directly
    t2.sm.io.writeString(s"${t2.path}/consumer/consumer-a", "0")
    val dropped = t2.expireSnapshots(retain = 1)
    assert(dropped == Seq(0L), s"only snapshots <= consumer offset may drop, got $dropped")
    assert(t2.sm.snapshotIds == Seq(1L, 2L))
  }

  test("schema evolution: added column reads null from old files") {
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def df(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df((1L, "a")))
    t.addColumn("score", DoubleType)
    val t2 = GraftTable.load(spark, t.path)
    // new writes carry the new column; old files surface null
    t2.write(spark.createDataFrame(
      Seq(Row(2L, "b", 0.5)).asJava, t2.schema.toStruct))
    val got = t2.read.orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq == Seq((1L, None), (2L, Some(0.5))))
    assert(t2.schema.id == 1L)
  }

  private val kv = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))
  private def kvDf(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, kv)

  test("purge_files empties the table but keeps its definition; history, tags, branches, consumers go") {
    val t = GraftTable.create(spark, tmp(), kv, options = Map("bucket" -> "2"))
    t.write(kvDf((1L, "a"), (2L, "b")))
    t.write(kvDf((3L, "c")))
    t.createTag("keep-me")
    t.createBranch("b1")
    t.sm.io.writeString(s"${t.path}/consumer/consumer-c1", "1")

    val snapId = t.purgeFiles()
    assert(snapId > 0)
    assert(t.read.count() == 0)
    assert(t.sm.tags.isEmpty)
    assert(t.branches.isEmpty)
    assert(t.sm.snapshotIds.size == 1) // only the truncation snapshot
    // old data files physically gone
    val dataDir = java.nio.file.Paths.get(s"${t.path}/data")
    val leftover = if (!java.nio.file.Files.exists(dataDir)) Seq.empty
      else graft.core.FsUtil.walkAll(dataDir)
        .filter(_.toString.endsWith(".parquet"))
    assert(leftover.isEmpty, s"data files survived purge: $leftover")
    // definition survives: the next write goes through normally
    t.write(kvDf((9L, "z")))
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("compactWhere rewrites only matching partitions; non-partition predicates refused") {
    val sch = StructType(Seq(
      StructField("p", StringType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    def df(rows: (String, Long, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch,
      partitionKeys = Seq("p"), primaryKeys = Seq("p", "k"),
      options = Map("bucket" -> "1"))
    (1 to 3).foreach(i => t.write(df(("a", 1L, i.toLong), ("b", 1L, i.toLong))))
    def filesPer: Map[String, Set[String]] = t.sm.latestSnapshot().map(s =>
      t.sm.liveEntries(s).groupBy(_.partition("p")).view
        .mapValues(_.map(_.file.fileName).toSet).toMap).get
    val before = filesPer
    assert(before("a").size == 3 && before("b").size == 3)

    assert(t.compactWhere(col("p") === "a").isDefined)
    val after = filesPer
    assert(after("a").size == 1, s"partition a not compacted: $after")
    assert(after("b") == before("b"), s"partition b was touched: $after")
    // merged state intact (last write wins per key)
    assert(t.read.orderBy("p").collect().map(_.getLong(2)).toSeq == Seq(3L, 3L))

    intercept[IllegalArgumentException](t.compactWhere(col("v") > 1))
    // no matching partitions → no-op
    assert(t.compactWhere(col("p") === "zzz").isEmpty)
  }

  test("purge_files with auto-tags enabled: the truncate commit's hook cannot resurrect old history") {
    val t = GraftTable.create(spark, tmp(), kv, options = Map(
      GraftTable.TagAutoMode -> "watermark",
      "tag.creation-period" -> "daily"))
    val day = 86400000L
    t.writeWatermarked(kvDf((1L, "a")), 1L, Some(5L))
    t.writeWatermarked(kvDf((2L, "b")), 2L, Some(day + 7L))
    assert(t.sm.tags.nonEmpty) // auto tags exist pre-purge

    t.purgeFiles()
    assert(t.sm.tags.isEmpty, s"tags survived purge: ${t.sm.tags.keys}")
    assert(t.sm.snapshotIds.size == 1)
    val dataDir = java.nio.file.Paths.get(s"${t.path}/data")
    val leftover = if (!java.nio.file.Files.exists(dataDir)) Seq.empty
      else graft.core.FsUtil.walkAll(dataDir)
        .filter(_.toString.endsWith(".parquet"))
    assert(leftover.isEmpty, s"files survived purge: $leftover")
  }

  test("cloneTo copies the latest state into an independent table") {
    val t = GraftTable.create(spark, tmp(), kv,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.write(kvDf((1L, "a"), (2L, "b"), (3L, "c")))
    t.write(kvDf((2L, "b2"))) // upsert → multi-snapshot history
    t.delete(col("k") === 3L)

    val target = tmp()
    val c = t.cloneTo(target)
    assert(c.read.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b2")))
    // fresh single-entry history
    assert(c.sm.snapshotIds == Seq(1L))
    // independence: writes to the clone don't touch the source
    c.write(kvDf((7L, "g")))
    assert(t.read.count() == 2)
    assert(c.read.count() == 3)
    // and vice versa
    t.write(kvDf((8L, "h")))
    assert(c.read.count() == 3)
  }

  test("tag auto-creation: watermark mode tags each crossed period; retention caps auto tags") {
    val t = GraftTable.create(spark, tmp(), kv, options = Map(
      GraftTable.TagAutoMode -> "watermark",
      "tag.creation-period" -> "daily",
      "tag.num-retained-max" -> "2"))
    val day = 86400000L
    // epoch day 0, 1, 3 watermarks: three periods crossed
    t.writeWatermarked(kvDf((1L, "a")), 1L, Some(5L))
    t.writeWatermarked(kvDf((2L, "b")), 2L, Some(day + 7L))
    t.writeWatermarked(kvDf((3L, "c")), 3L, Some(3 * day + 11L))

    // the per-commit hook created tags named for the period each
    // snapshot COMPLETED (normalizeToPreviousTag: truncate minus one
    // period); the oldest was evicted by retain=2
    val tags = t.sm.tags.keys.toSeq.sorted
    assert(tags == Seq("1970-01-01", "1970-01-03"), s"got $tags")
    // tag 1970-01-01 = snapshot whose watermark crossed INTO Jan 2,
    // i.e. the one holding all of Jan 1's data (snapshots 1+2 merged)
    assert(t.readTag("1970-01-01").count() == 2)
    // a manual re-trigger is a no-op (cursor derives from existing tags)
    assert(t.tagAutoCreate().isEmpty)
  }

  test("tag auto-creation: a daily tag contains its named day's data") {
    val t = GraftTable.create(spark, tmp(), kv, options = Map(
      GraftTable.TagAutoMode -> "watermark",
      "tag.creation-period" -> "daily"))
    val day = 86400000L
    // two epochs inside day 1970-01-01, then one crossing into Jan 2
    t.writeWatermarked(kvDf((1L, "jan1-a")), 1L, Some(5 * 3600000L))
    t.writeWatermarked(kvDf((2L, "jan1-b")), 2L, Some(23 * 3600000L))
    t.writeWatermarked(kvDf((3L, "jan2-a")), 3L, Some(day + 3600000L))
    // the tag named 1970-01-01 must pin the snapshot that COMPLETES
    // Jan 1 (the first one whose watermark crossed into Jan 2) — so a
    // reader of tag D sees all of day D's rows, never a day-D tag with
    // only the first minutes of day D
    val tagged = t.readTag("1970-01-01").orderBy("k")
      .collect().map(_.getString(1)).toSeq
    assert(tagged.contains("jan1-a") && tagged.contains("jan1-b"),
      s"daily tag 1970-01-01 is missing its own day's data: $tagged")
  }

  test("tag auto-creation: process-time mode tags on first extractable snapshot") {
    val t = GraftTable.create(spark, tmp(), kv, options = Map(
      GraftTable.TagAutoMode -> "process-time",
      "tag.creation-period" -> "hourly"))
    t.write(kvDf((1L, "a")))
    // snapshot wall-time falls in the current hour → exactly one tag
    val tags = t.sm.tags.keys.toSeq
    assert(tags.size == 1, s"got $tags")
    assert(tags.head.matches("\\d{4}-\\d{2}-\\d{2}-\\d{2}"), s"got $tags")
  }
}
