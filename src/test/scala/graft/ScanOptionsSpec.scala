package graft

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Read-option surfaces added for reference parity: scan.watermark,
  * scan.file-creation-time-millis, the incremental-between family
  * (reference: CoreOptions SCAN_WATERMARK,
  * SCAN_FILE_CREATION_TIME_MILLIS, INCREMENTAL_BETWEEN*), and the
  * ignore-update-before write option (RowKindFilter.java). */
class ScanOptionsSpec extends AnyFunSuite {

  private val warehouse =
    Files.createTempDirectory("graft-scanopt-wh").toString

  // UNIQUE catalog name: suites share the JVM and catalog instances
  // cache per name — reusing "graft" would hijack SqlCatalogSpec's
  // warehouse (or be hijacked by it) depending on suite order
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.graftso", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftso.warehouse", warehouse)
    s
  }

  private def kv(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("batch from-snapshot pin: resolving id time-travels, missing id errors") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.pin (k BIGINT, v STRING)")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/pin")
    gt.write(kv(1L -> "a"))
    gt.write(kv(2L -> "b"))
    // a resolving id is a batch time-travel pin
    assert(spark.read.option("scan.mode", "from-snapshot")
      .option("scan.snapshot-id", "0")
      .table("graftso.dbso.pin").count() == 1L)
    // a missing id must ERROR on the batch surface — silently reading
    // latest would substitute wrong data for expired/mistyped ids
    // (streams degrade instead: SqlCatalogSpec covers that side)
    val e = intercept[Exception] {
      spark.read.option("scan.mode", "from-snapshot")
        .option("scan.snapshot-id", "99")
        .table("graftso.dbso.pin").count()
    }
    assert(e.getMessage != null && e.getMessage.contains("does not resolve"),
      s"unexpected error: $e")
    val e2 = intercept[Exception] {
      spark.read.option("scan.mode", "from-snapshot-full")
        .option("scan.snapshot-id", "99")
        .table("graftso.dbso.pin").collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("does not resolve"))
    // agg pushdown (batch-only surface) errors the same way
    val e3 = intercept[Exception] {
      spark.read.option("scan.mode", "from-snapshot")
        .option("scan.snapshot-id", "99")
        .table("graftso.dbso.pin").groupBy().count().collect()
    }
    assert(e3.getMessage != null && e3.getMessage.contains("does not resolve"))
  }

  test("scan.watermark pins the first snapshot at or past the watermark") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.wm (k BIGINT, v STRING)")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/wm")
    gt.writeWatermarked(kv(1L -> "a"), -1L, Some(100L))
    gt.writeWatermarked(kv(2L -> "b"), -1L, Some(200L))
    gt.writeWatermarked(kv(3L -> "c"), -1L, Some(300L))
    // watermark 150 → first snapshot with wm >= 150 is the second one
    assert(spark.read.option("scan.watermark", "150")
      .table("graftso.dbso.wm").count() == 2L)
    assert(spark.read.option("scan.watermark", "300")
      .table("graftso.dbso.wm").count() == 3L)
    val e = intercept[Exception](spark.read.option("scan.watermark", "999")
      .table("graftso.dbso.wm").count())
    assert(e.toString.contains("watermark"), e.toString)
  }

  test("scan.file-creation-time-millis keeps only files written after the cutoff") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.fct (k BIGINT, v STRING)")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/fct")
    gt.write(kv(1L -> "a", 2L -> "b"))
    Thread.sleep(15)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(15)
    gt.write(kv(3L -> "c"))
    assert(spark.read.table("graftso.dbso.fct").count() == 3L)
    val late = spark.read
      .option("scan.file-creation-time-millis", cutoff.toString)
      .table("graftso.dbso.fct")
    assert(late.collect().map(_.getLong(0)).toSet == Set(3L))

    // PK table → V1 merge path honors the same cutoff
    spark.sql("CREATE TABLE graftso.dbso.fctpk (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    val pk = GraftTable.load(spark, s"$warehouse/dbso/fctpk")
    pk.write(kv(1L -> "a"))
    Thread.sleep(15)
    val cut2 = System.currentTimeMillis()
    Thread.sleep(15)
    pk.write(kv(2L -> "b"))
    val latePk = spark.read
      .option("scan.file-creation-time-millis", cut2.toString)
      .table("graftso.dbso.fctpk")
    assert(latePk.collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("incremental-between via ids, tags, and timestamps (delta mode)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.inc (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/inc")
    gt.write(kv(1L -> "a"))           // snapshot 0
    gt.createTag("start")
    gt.write(kv(2L -> "b", 1L -> "a2")) // snapshot 1
    gt.write(kv(3L -> "c"))           // snapshot 2
    gt.createTag("end")

    val byId = spark.read.option("incremental-between", "0,2")
      .table("graftso.dbso.inc")
    assert(byId.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    val byTag = spark.read.option("incremental-between", "start,end")
      .table("graftso.dbso.inc")
    assert(byTag.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    val t0 = gt.sm.snapshot(0L).timeMillis
    val t2 = gt.sm.snapshot(2L).timeMillis
    val byTs = spark.read
      .option("incremental-between-timestamp", s"$t0,$t2")
      .table("graftso.dbso.inc")
    assert(byTs.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    // projection + filter still apply on top of the incremental rows
    assert(spark.sql(
      "SELECT v FROM graftso.dbso.inc /* opts below */").columns.sameElements(Array("v")))
    val filtered = spark.read.option("incremental-between", "0,2")
      .table("graftso.dbso.inc").filter("k > 2").select("v")
    assert(filtered.collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("incremental-between-scan-mode diff and changelog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.dif (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/dif")
    gt.write(kv(1L -> "a", 2L -> "b"))
    gt.write(kv(2L -> "b2", 3L -> "c")) // 2 changed, 3 added
    val diff = spark.read.option("incremental-between", "0,1")
      .option("incremental-between-scan-mode", "diff")
      .table("graftso.dbso.dif")
    assert(diff.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "b2"), (3L, "c")))
    val e = intercept[Exception](
      spark.read.option("incremental-between", "0,1")
        .option("incremental-between-scan-mode", "changelog")
        .table("graftso.dbso.dif").count())
    assert(e.toString.contains("incremental_query"), e.toString)
  }

  test("incremental-to-auto-tag read option serves the preceding-tag diff") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.iat (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
      "'tag.automatic-creation'='watermark')")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/iat")
    val day = 86400000L
    gt.writeWatermarked(kv(1L -> "a"), -1L, Some(day * 5 + 1))
    gt.writeWatermarked(kv(2L -> "b"), -1L, Some(day * 6 + 1))
    gt.writeWatermarked(kv(3L -> "c"), -1L, Some(day * 7 + 1))
    val tags = gt.sm.tags.keySet
    assert(tags.contains("1970-01-06") && tags.contains("1970-01-07"), tags)
    val rows = spark.read.option("incremental-to-auto-tag", "1970-01-07")
      .table("graftso.dbso.iat")
    assert(rows.collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("ignore-update-before drops -U rows but keeps -D") {
    val dir = Files.createTempDirectory("graft-iub").toString + "/t"
    val gt = GraftTable.create(spark, dir,
      kv(1L -> "a").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "ignore-update-before" -> "true",
        "rowkind.field" -> "rk"))
    import spark.implicits._
    gt.write(Seq((1L, "a", "+I"), (2L, "b", "+I")).toDF("k", "v", "rk"))
    // a -U alone must not retract (it is ignored); -D must
    gt.write(Seq((1L, "a", "-U"), (2L, "b", "-D")).toDF("k", "v", "rk"))
    val rows = gt.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a")))
  }

  test("scan.version and scan.timestamp read options") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.sv (k BIGINT)")
    spark.sql("INSERT INTO graftso.dbso.sv VALUES (1)")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/sv")
    gt.createTag("rel1")
    Thread.sleep(1100) // scan.timestamp is second-granular: keep the
    // two snapshots in distinct wall seconds so the probe is exact
    spark.sql("INSERT INTO graftso.dbso.sv VALUES (2)")
    assert(spark.read.option("scan.version", "0")
      .table("graftso.dbso.sv").count() == 1L)
    assert(spark.read.option("scan.version", "rel1")
      .table("graftso.dbso.sv").count() == 1L)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    // second-granularity timestamps floor; round up so the wall second
    // covers snapshot 0
    val ts = fmt.format(new java.util.Date(gt.sm.snapshot(0L).timeMillis + 1000))
    assert(spark.read.option("scan.timestamp", ts)
      .table("graftso.dbso.sv").count() == 1L)
  }

  test("target-file-size rolls compaction output; data-file.prefix names files") {
    import spark.implicits._
    // incompressible payloads: the target bounds COMPRESSED bytes, so
    // repetitive strings would legitimately fit one file
    val rnd = new scala.util.Random(42)
    val df = (1 to 3000).map(i =>
      (i.toLong, rnd.alphanumeric.take(100).mkString)).toDF("k", "v")
    val dir = Files.createTempDirectory("graft-tfs").toString + "/t"
    val gt = GraftTable.create(spark, dir, df.schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "target-file-size" -> "64kb",
        "data-file.prefix" -> "dta-"))
    gt.write(df)
    gt.write(Seq((1L, "u")).toDF("k", "v"))
    gt.compact()
    val files = gt.sm.latestSnapshot().map(gt.sm.liveEntries).get
    assert(files.size > 1, s"64kb target should split ~300kb of rows: ${files.size}")
    assert(files.forall(_.file.fileName.split('/').last.startsWith("dta-")),
      files.map(_.file.fileName))
    assert(files.forall(_.file.fileSize < 200 * 1024), files.map(_.file.fileSize))
    assert(gt.read.count() == 3000)
  }

  test("compaction triggers: total-size-threshold and delete-ratio-threshold") {
    import spark.implicits._
    val small = GraftTable.create(spark,
      Files.createTempDirectory("graft-ct").toString + "/t",
      Seq((1L, "a")).toDF("k", "v").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1",
        "compaction.total-size-threshold" -> "10mb"))
    small.write(Seq((1L, "a")).toDF("k", "v"))
    small.write(Seq((2L, "b")).toDF("k", "v"))
    // 2 tiny files, far below count triggers -> total-size fires
    assert(UniversalCompactionSpec.compactIfNeededChecked(small).isDefined)

    // append table: DELETE takes the deletion-vector tier, so the
    // dv-cardinality ratio is observable (PK deletes write -D rows)
    val dv = GraftTable.create(spark,
      Files.createTempDirectory("graft-cd").toString + "/t",
      Seq((1L, "a")).toDF("k", "v").schema,
      options = Map(
        "deletion-vectors.enabled" -> "true",
        "compaction.delete-ratio-threshold" -> "0.3"))
    dv.write((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    dv.delete(org.apache.spark.sql.functions.expr("k <= 4")) // 40% via DV
    assert(UniversalCompactionSpec.compactIfNeededChecked(dv).isDefined, "40% > 0.3 must trigger")
    val after = dv.sm.latestSnapshot().map(dv.sm.liveEntries).get
    assert(after.forall(_.file.dvFile.isEmpty), "rewrite drops the DVs")
    assert(dv.read.count() == 6)
  }

  test("incremental-between-scan-mode=changelog serves via $audit_log") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.alc (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
      "'changelog-producer'='lookup')")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/alc")
    gt.write(kv(1L -> "a", 2L -> "b"))   // snapshot 0
    gt.write(kv(2L -> "b2", 3L -> "c"))  // snapshot 1: -U/+U for 2, +I for 3

    val chg = spark.read.option("incremental-between", "0,1")
      .option("incremental-between-scan-mode", "changelog")
      .table("graftso.dbso.`alc$audit_log`")
    val rows = chg.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((2L, "b", "-U"), (2L, "b2", "+U"), (3L, "c", "+I")),
      rows)

    // exactly what CALL sys.incremental_query serves
    spark.sql("CALL graftso.sys.incremental_query('dbso.alc', 0, 1, 'alc_iq')")
    val viaProc = spark.table("alc_iq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(viaProc == rows, viaProc)

    // delta mode on $audit_log keeps the _row_kind column, +I/+U only
    val delta = spark.read.option("incremental-between", "0,1")
      .option("incremental-between-scan-mode", "delta")
      .table("graftso.dbso.`alc$audit_log`")
    assert(delta.columns.contains("_row_kind"))
    assert(delta.collect().map(_.getString(2)).toSet == Set("+U", "+I"))

    val e = intercept[Exception](
      spark.read.option("incremental-between", "0,1")
        .option("incremental-between-scan-mode", "diff")
        .table("graftso.dbso.`alc$audit_log`").count())
    assert(e.toString.contains("diff"), e.toString)
    // without incremental options the relation still serves the full log
    assert(spark.read.table("graftso.dbso.`alc$audit_log`").count() >= 3)
  }

  test("incremental-to-auto-tag changelog rows via $audit_log") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.iatcl (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
      "'changelog-producer'='lookup', 'tag.automatic-creation'='watermark')")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/iatcl")
    val day = 86400000L
    gt.writeWatermarked(kv(1L -> "a"), -1L, Some(day * 5 + 1))
    gt.writeWatermarked(kv(1L -> "a2", 2L -> "b"), -1L, Some(day * 6 + 1))
    gt.writeWatermarked(kv(3L -> "c"), -1L, Some(day * 7 + 1))
    assert(gt.sm.tags.keySet.contains("1970-01-07"), gt.sm.tags.keySet)
    // the changelog between the two auto tags, with exact kinds
    val rows = spark.read.option("incremental-to-auto-tag", "1970-01-07")
      .option("incremental-between-scan-mode", "changelog")
      .table("graftso.dbso.`iatcl$audit_log`").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((3L, "c", "+I")), rows)
  }

  test("changelog-file.compression/prefix/stats-mode shape persisted changelogs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-clf").toString + "/t"
    val gt = GraftTable.create(spark, dir,
      kv(1L -> "a").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1",
        "changelog-producer" -> "lookup",
        "changelog-file.compression" -> "gzip",
        "changelog-file.prefix" -> "cl-",
        "changelog-file.stats-mode" -> "none"))
    gt.write(kv(1L -> "a", 2L -> "b"))
    gt.write(kv(1L -> "a2", 3L -> "c"))
    val clManifest = gt.sm.snapshot(1L).changelogManifest
    assert(clManifest.isDefined, "lookup producer must persist a changelog")
    val entries = gt.sm.readManifest(clManifest.get)
    assert(entries.nonEmpty)
    // prefix on every changelog file name
    assert(entries.forall(_.file.fileName.split('/').last.startsWith("cl-")),
      entries.map(_.file.fileName))
    // stats-mode=none drops the per-column stats entries
    assert(entries.forall(_.file.stats.isEmpty), entries.map(_.file.stats))
    // compression reached the parquet writer: footer codec is GZIP
    import org.apache.hadoop.fs.Path
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new Path(s"$dir/${entries.head.file.fileName}"))
    val codec = footer.getBlocks.get(0).getColumns.get(0).getCodec.toString
    assert(codec == "GZIP", codec)
    // and the changelog still serves exactly
    val rows = gt.incrementalRead(0L, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "a", "-U"), (1L, "a2", "+U"), (3L, "c", "+I")),
      rows)
  }

  test("agg pushdown declines under narrowing/incremental read options") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.aggd (k BIGINT, v STRING)")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/aggd")
    gt.write(kv(1L -> "a", 2L -> "b"))
    Thread.sleep(15)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(15)
    gt.write(kv(3L -> "c"))
    // whole-table COUNT pushes down (sanity)
    assert(spark.table("graftso.dbso.aggd").count() == 3L)
    // with a file-creation cutoff the manifest-stats answer (3) would
    // be wrong: the count must reflect only the post-cutoff file
    val cut = spark.read
      .option("scan.file-creation-time-millis", cutoff.toString)
      .table("graftso.dbso.aggd")
    assert(cut.count() == 1L)
    assert(cut.agg(org.apache.spark.sql.functions.max("k")).head.getLong(0) == 3L)
    assert(cut.agg(org.apache.spark.sql.functions.min("k")).head.getLong(0) == 3L)
    // incremental reads likewise answer from the incremental rows, not
    // full-table stats (and must not claim complete pushdown)
    val inc = spark.read.option("incremental-between", "0,1")
      .table("graftso.dbso.aggd")
    assert(inc.count() == 1L)
    assert(inc.agg(org.apache.spark.sql.functions.min("k")).head.getLong(0) == 3L)
  }

  test("_ROW_ID projection honors scan.file-creation-time-millis") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.dbso")
    spark.sql("CREATE TABLE graftso.dbso.ridc (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('row-tracking.enabled'='true')")
    val gt = GraftTable.load(spark, s"$warehouse/dbso/ridc")
    gt.write(kv(1L -> "a", 2L -> "b"))
    Thread.sleep(15)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(15)
    gt.write(kv(3L -> "c"))
    val all = spark.sql("SELECT k, _ROW_ID FROM graftso.dbso.ridc")
    assert(all.count() == 3L)
    val late = spark.read
      .option("scan.file-creation-time-millis", cutoff.toString)
      .table("graftso.dbso.ridc")
      .select("k", "_ROW_ID")
    assert(late.collect().map(_.getLong(0)).toSet == Set(3L), "pre-cutoff " +
      "rows must not leak into the row-id read path")
  }
}
