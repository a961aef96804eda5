package graft

import graft.sources.IcebergCompat
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-compatible metadata export (reference:
  * IcebergCommitCallback.java:102 + the public Iceberg table spec).
  * With no Iceberg runtime in the sandbox, the check is a strict
  * stand-in for an external reader: walk version-hint → metadata json
  * → manifest list (avro) → manifest (avro) → data files EXACTLY the
  * way a spec-compliant reader does, with independent parsers (avro
  * java lib + json), and require the reconstructed content to equal
  * the table's own read. */
class IcebergCompatSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-ice").toString + "/t"

  private def readAvro(path: String): (org.apache.avro.Schema, Seq[org.apache.avro.generic.GenericRecord]) = {
    val r = new org.apache.avro.file.DataFileReader(
      new java.io.File(path),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try (r.getSchema, r.iterator().asScala.toVector) finally r.close()
  }

  /** Follow the metadata tree like an external reader and return the
    * data-file paths the current snapshot exposes. */
  private def icebergDataFiles(tablePath: String): Seq[String] = {
    val metaDir = s"$tablePath/metadata"
    val version = new String(Files.readAllBytes(
      Paths.get(s"$metaDir/version-hint.text"))).trim
    val md = new String(Files.readAllBytes(
      Paths.get(s"$metaDir/v$version.metadata.json")))
    val listPath = """"manifest-list":"file://([^"]+)"""".r
      .findFirstMatchIn(md).get.group(1)
    val (_, manifests) = readAvro(listPath)
    manifests.flatMap { m =>
      val mPath = m.get("manifest_path").toString.stripPrefix("file://")
      val (_, entries) = readAvro(mPath)
      entries.map(_.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("file_path").toString.stripPrefix("file://"))
    }
  }

  private val sch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("part", StringType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  private def df(rows: (Long, String, Double)*): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, sch)

  test("append table: external walk reconstructs exact content") {
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("part"))
    t.write(df((1L, "a", 1.0), (2L, "b", 2.0)))
    t.write(df((3L, "a", 3.0)))
    val md = IcebergCompat.sync(t)
    assert(md.isDefined)
    val files = icebergDataFiles(t.path)
    assert(files.nonEmpty)
    val external = spark.read.parquet(files: _*)
      .withColumn("part", regexp_extract(input_file_name(), "part=([^/]+)", 1))
      .select("k", "part", "v")
    val own = t.read.select("k", "part", "v")
    assert(external.exceptAll(own).count() == 0)
    assert(own.exceptAll(external).count() == 0)
  }

  test("metadata json carries the spec's required v2 fields") {
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("part"))
    t.write(df((1L, "a", 1.0)))
    val md = new String(Files.readAllBytes(Paths.get(IcebergCompat.sync(t).get)))
    Seq("\"format-version\":2", "\"table-uuid\"", "\"last-sequence-number\"",
      "\"schemas\"", "\"current-schema-id\"", "\"partition-specs\"",
      "\"default-spec-id\"", "\"sort-orders\"", "\"current-snapshot-id\"",
      "\"snapshots\"", "schema.name-mapping.default").foreach(f =>
      assert(md.contains(f), s"metadata json missing $f"))
    // partition spec: identity transform on `part` with spec field id 1000
    assert(md.contains(""""transform":"identity""""))
    assert(md.contains(""""field-id":1000"""))
    // resync after another commit bumps the version, same table uuid
    t.write(df((2L, "b", 2.0)))
    val md2 = new String(Files.readAllBytes(Paths.get(IcebergCompat.sync(t).get)))
    val uuid = """"table-uuid":"([^"]+)"""".r
    assert(uuid.findFirstMatchIn(md).get.group(1) ==
      uuid.findFirstMatchIn(md2).get.group(1))
  }

  test("avro schemas carry Iceberg reserved field ids") {
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("part"))
    t.write(df((1L, "a", 1.0)))
    IcebergCompat.sync(t)
    val metaDir = s"${t.path}/metadata"
    val listFile = new java.io.File(metaDir).listFiles()
      .find(_.getName.startsWith("snap-")).get
    val (listSchema, lists) = readAvro(listFile.getPath)
    assert(listSchema.getField("manifest_path").getObjectProp("field-id") == 500)
    assert(listSchema.getField("content").getObjectProp("field-id") == 517)
    val mPath = lists.head.get("manifest_path").toString.stripPrefix("file://")
    val (mSchema, entries) = readAvro(mPath)
    assert(mSchema.getField("status").getObjectProp("field-id") == 0)
    val dfSchema = mSchema.getField("data_file").schema()
    assert(dfSchema.getField("file_path").getObjectProp("field-id") == 100)
    assert(dfSchema.getField("content").getObjectProp("field-id") == 134)
    // partition struct field uses the spec's 1000+ id space
    assert(dfSchema.getField("partition").schema()
      .getField("part").getObjectProp("field-id") == 1000)
    // typed partition value round-trips (not a string of a string)
    val dataFile = entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(dataFile.get("partition")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("part").toString == "a")
    // bounds follow the spec's single-value serialization: k (field 1
    // → iceberg id 2... the k column is field id 0 → iceberg 1) min=1
    // as 8-byte little-endian long
    val lower = dataFile.get("lower_bounds")
      .asInstanceOf[java.util.List[org.apache.avro.generic.GenericRecord]]
      .asScala.map(r => r.get("key").asInstanceOf[Int] ->
        r.get("value").asInstanceOf[java.nio.ByteBuffer]).toMap
    val kMin = lower(1) // column `k` has graft id 0 → iceberg id 1
    assert(kMin.order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0) == 1L)
    val counts = dataFile.get("null_value_counts")
      .asInstanceOf[java.util.List[org.apache.avro.generic.GenericRecord]]
    // both DATA columns (k, v) carry null counts; the partition column
    // `part` is covered by the partition tuple, not per-file stats
    assert(counts.size() == 2)
  }

  test("primary-key table: only compacted merged state is exposed") {
    val psch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    def pdf(rows: (Long, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, psch)
    val t = GraftTable.create(spark, tmp(), psch,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.write(pdf((1L, 10L), (2L, 20L)))
    t.write(pdf((1L, 11L), (3L, 30L))) // upsert k=1
    // un-compacted: nothing exposed (level-0 files carry unmerged rows)
    IcebergCompat.sync(t)
    assert(icebergDataFiles(t.path).isEmpty)
    t.compact()
    IcebergCompat.sync(t)
    val files = icebergDataFiles(t.path)
    assert(files.nonEmpty)
    // raw read of exposed files (logical columns only, the way an
    // Iceberg reader projects via name-mapping) == merged table state
    val external = spark.read.parquet(files: _*).select("k", "v")
    val own = t.read.select("k", "v")
    assert(external.exceptAll(own).count() == 0)
    assert(own.exceptAll(external).count() == 0)
  }

  test("primary-key table: partial compaction runs stay unexposed, stamped by the last full compaction") {
    val psch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    def pdf(rows: (Long, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, psch)
    val t = GraftTable.create(spark, tmp(), psch,
      primaryKeys = Seq("k"), options = Map("bucket" -> "1"))
    t.write(pdf((1L to 300L).map(i => (i, i)): _*))
    val full = t.compact().get
    def live = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    val level1 = live.map(_.file.fileName).toSet
    t.write(pdf((1L, 100L)))
    t.write(pdf((2L, 200L)))
    assert(t.compactIfNeeded(trigger = 1).isDefined)
    assert(live.exists(_.file.level >= 2), "expected a partial run")
    IcebergCompat.sync(t)
    val exposed = icebergDataFiles(t.path).map(p => p.substring(p.lastIndexOf("/data/") + 1))
    assert(exposed.toSet == level1)
    val metaDir = s"${t.path}/metadata"
    val version = new String(Files.readAllBytes(
      Paths.get(s"$metaDir/version-hint.text"))).trim
    val md = new String(Files.readAllBytes(Paths.get(s"$metaDir/v$version.metadata.json")))
    assert(md.contains(s""""current-snapshot-id":$full,"""), md)
  }

  test("partitioned PK table after schema evolution exports merged state") {
    val psch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("part", StringType, nullable = false),
      StructField("v", LongType, nullable = true)))
    def pdf(rows: (Long, String, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, psch)
    val t = GraftTable.create(spark, tmp(), psch,
      partitionKeys = Seq("part"), primaryKeys = Seq("k", "part"),
      options = Map("bucket" -> "2"))
    t.write(pdf((1L, "a", 10L), (2L, "b", 20L)))
    t.addColumn("extra", StringType) // old files predate this column
    val t2 = GraftTable.load(spark, t.path)
    t2.compact()
    IcebergCompat.sync(t2)
    val files = icebergDataFiles(t2.path)
    assert(files.nonEmpty)
    // exported schema carries the evolved column; readers project old
    // files to null through the name mapping
    val md = new String(Files.readAllBytes(Paths.get(
      s"${t2.path}/metadata/v${t2.sm.latestSnapshotId.get}.metadata.json")))
    assert(md.contains("\"extra\""))
    // external read (name-based projection incl. missing column → null,
    // partition value from the directory) matches the table's own read
    val external = spark.read.parquet(files: _*)
      .withColumn("part", regexp_extract(input_file_name(), "part=([^/]+)", 1))
      .select(col("k"), col("part"), col("v"),
        (if (files.exists(f => spark.read.parquet(f).columns.contains("extra")))
          col("extra") else lit(null).cast("string")).as("extra"))
    val own = t2.read.select("k", "part", "v", "extra")
    assert(external.exceptAll(own).count() == 0)
    assert(own.exceptAll(external).count() == 0)
  }

  test("deletion vectors export as v2 position-delete files") {
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("deletion-vectors.enabled" -> "true"))
    // two files, partial deletes → deletion vectors, NO compaction
    t.write(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).coalesce(1))
    t.write(df((4L, "b", 4.0), (5L, "a", 5.0)).coalesce(1))
    t.delete(col("k") === 2L)
    t.delete(col("k") === 5L) // second wave: DV on the other file
    IcebergCompat.sync(t)
    val (dataFiles, posDeletes) = IcebergCompat.externalState(t.path)
    assert(dataFiles.size == 2)
    assert(posDeletes.size == 2) // one marked row per file
    // delete files are Avro with the spec's reserved field ids
    val metaDir = new java.io.File(s"${t.path}/metadata")
    val delAvro = metaDir.listFiles().filter(_.getName.startsWith("delete-"))
    assert(delAvro.nonEmpty)
    val (dSchema, dRows) = readAvro(delAvro.head.getPath)
    assert(dSchema.getField("file_path").getObjectProp("field-id") == 2147483546L ||
      dSchema.getField("file_path").getObjectProp("field-id") == 2147483546)
    assert(dRows.nonEmpty)
    // external read (generic walk + anti-join) == the table's own read
    val external = IcebergCompat.externalRead(spark, t.path).select("k", "v")
    val own = t.read.select("k", "v")
    assert(external.exceptAll(own).count() == 0)
    assert(own.exceptAll(external).count() == 0)
    // DV growth on the same file re-exports: delete another row
    t.delete(col("k") === 1L)
    IcebergCompat.sync(t)
    val external2 = IcebergCompat.externalRead(spark, t.path).select("k", "v")
    val own2 = t.read.select("k", "v")
    assert(own2.count() == 2)
    assert(external2.exceptAll(own2).count() == 0)
    assert(own2.exceptAll(external2).count() == 0)
  }

  test("metadata.iceberg.enabled=true syncs on every commit incl. DV deletes") {
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("metadata.iceberg.enabled" -> "true",
        "deletion-vectors.enabled" -> "true"))
    t.write(df((1L, "a", 1.0), (2L, "b", 2.0)).coalesce(1))
    // no explicit sync() call — the commit hook wrote the tree
    val hint = Paths.get(s"${t.path}/metadata/version-hint.text")
    assert(Files.exists(hint))
    val v1 = new String(Files.readAllBytes(hint)).trim
    t.write(df((3L, "a", 3.0)))
    val v2 = new String(Files.readAllBytes(hint)).trim
    assert(v2.toLong > v1.toLong)
    assert(icebergDataFiles(t.path).size == 2)
    // a DV delete exports position deletes through the hook too
    t.delete(col("k") === 1L)
    assert(t.read.count() == 2L)
    assert(new String(Files.readAllBytes(hint)).trim.toLong > v2.toLong)
    val external = IcebergCompat.externalRead(spark, t.path).select("k", "v")
    assert(external.count() == 2L)
  }

  test("incremental sync: unchanged manifest is reused, EXISTING status, cleanup") {
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("part"))
    t.write(df((1L, "a", 1.0), (2L, "b", 2.0)))
    IcebergCompat.sync(t)
    val metaDir = new java.io.File(s"${t.path}/metadata")
    def manifests() = metaDir.listFiles()
      .filter(f => f.getName.startsWith("graft-") && f.getName.endsWith(".avro"))
      .map(_.getName).toSet
    val m1 = manifests()
    assert(m1.size == 1)
    // sync again with NO data change: the manifest avro is reused
    // byte-for-byte (same file), no new manifest appears
    IcebergCompat.sync(t)
    assert(manifests() == m1)
    // a new commit writes a NEW manifest where the old files carry
    // status=EXISTING with their ORIGINAL snapshot id
    val snap1 = t.sm.latestSnapshotId.get
    t.write(df((3L, "a", 3.0)))
    IcebergCompat.sync(t)
    val m2 = manifests()
    assert(m2.size == 1 && m2 != m1, "superseded manifest must be cleaned up")
    val (_, entries) = readAvro(s"$metaDir/${m2.head}")
    val byStatus = entries.groupBy(_.get("status").asInstanceOf[Int])
    assert(byStatus(0).size == 2, "two prior files EXISTING")
    assert(byStatus(1).size == 1, "one new file ADDED")
    assert(byStatus(0).forall(_.get("snapshot_id").asInstanceOf[Long] == snap1))
    // metadata dir holds exactly one generation: one metadata json,
    // one manifest list, one manifest (+ hint + state)
    assert(metaDir.listFiles().count(_.getName.endsWith(".metadata.json")) == 1)
    assert(metaDir.listFiles().count(_.getName.startsWith("snap-")) == 1)
  }

  test("manifest list carries partition bound summaries") {
    val t = GraftTable.create(spark, tmp(), sch, partitionKeys = Seq("part"))
    t.write(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    IcebergCompat.sync(t)
    val metaDir = s"${t.path}/metadata"
    val listFile = new java.io.File(metaDir).listFiles()
      .find(_.getName.startsWith("snap-")).get
    val (_, lists) = readAvro(listFile.getPath)
    val parts = lists.head.get("partitions")
      .asInstanceOf[java.util.List[org.apache.avro.generic.GenericRecord]]
    assert(parts != null && parts.size() == 1)
    val p = parts.get(0)
    assert(p.get("contains_null") == false)
    def str(b: AnyRef) = {
      val bb = b.asInstanceOf[java.nio.ByteBuffer]
      val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr)
      new String(arr, "UTF-8")
    }
    assert(str(p.get("lower_bound")) == "a")
    assert(str(p.get("upper_bound")) == "c")
  }

  test("decimal columns export Appendix-D bounds; unmappable columns skip with WARN") {
    val dsch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("price", DecimalType(10, 2), nullable = true)))
    val t = GraftTable.create(spark, tmp(), dsch)
    t.write(spark.createDataFrame(
      Seq(Row(1L, new java.math.BigDecimal("12.34")),
        Row(2L, new java.math.BigDecimal("99.99"))).asJava, dsch).coalesce(1))
    IcebergCompat.sync(t)
    val metaDir = s"${t.path}/metadata"
    val mFile = new java.io.File(metaDir).listFiles()
      .find(f => f.getName.startsWith("graft-") && f.getName.endsWith(".avro")).get
    val (_, entries) = readAvro(mFile.getPath)
    val dataFile = entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    val lower = dataFile.get("lower_bounds")
      .asInstanceOf[java.util.List[org.apache.avro.generic.GenericRecord]]
      .asScala.map(r => r.get("key").asInstanceOf[Int] ->
        r.get("value").asInstanceOf[java.nio.ByteBuffer]).toMap
    // price (graft id 1 → iceberg 2): unscaled 1234 big-endian minimal
    val bb = lower(2)
    val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr)
    assert(new java.math.BigInteger(arr).intValue() == 1234)
    // schema json declares the decimal type
    val md = new String(Files.readAllBytes(Paths.get(
      s"$metaDir/v${t.sm.latestSnapshotId.get}.metadata.json")))
    assert(md.contains("decimal(10, 2)"))
  }

  test("SQL surface: CALL sys.iceberg_sync") {
    val wh = Files.createTempDirectory("graft-ice-wh").toString
    spark.conf.set("spark.sql.catalog.graft_ice", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ice.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_ice.db")
    spark.sql("CREATE TABLE graft_ice.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_ice.db.t VALUES (1, 'x'), (2, 'y')")
    val res = spark.sql("CALL graft_ice.sys.iceberg_sync('db.t')").head.getString(0)
    assert(res.contains("metadata"), res)
    assert(icebergDataFiles(s"$wh/db/t").nonEmpty)
    // ...and the exported metadata migrates back in through SQL
    spark.sql(s"CALL graft_ice.sys.migrate_iceberg_table('db.back', '$wh/db/t')")
    assert(spark.sql("SELECT count(*) FROM graft_ice.db.back").head.getLong(0) == 2L)
  }

  test("migrateIceberg roundtrip: position deletes become DV sidecars") {
    // source: a DV-carrying table exported as Iceberg metadata
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("deletion-vectors.enabled" -> "true"))
    t.write(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).coalesce(1))
    t.write(df((4L, "b", 4.0), (5L, "a", 5.0)).coalesce(1))
    t.delete(col("k") === 2L)
    t.delete(col("k") === 5L)
    IcebergCompat.sync(t)
    // migrate the ICEBERG metadata (not the graft metadata) into a new
    // table — reference IcebergMigrator rejects delete files; here the
    // position deletes convert into native DV sidecars
    val m = GraftTable.migrateIceberg(spark, t.path, tmp())
    val got = m.read.select("k", "part").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (3L, "a"), (4L, "b")), got.toString)
    // the DVs are real sidecars, not rewritten files: entries carry dvFile
    val live = m.sm.latestSnapshot().map(m.sm.liveEntries).getOrElse(Seq.empty)
    assert(live.size == 2 && live.forall(_.file.dvFile.isDefined))
    // a fully-deleted file is not adopted at all
    t.delete(col("k") === 1L); t.delete(col("k") === 3L) // file 1 now empty
    IcebergCompat.sync(t)
    val m2 = GraftTable.migrateIceberg(spark, t.path, tmp())
    assert(m2.read.select("k").collect().map(_.getLong(0)).toSet == Set(4L))
    assert(m2.sm.latestSnapshot().map(m2.sm.liveEntries).get.size == 1)
    // the migrated table is a full citizen: writes and deletes work
    m2.write(df((9L, "z", 9.0)))
    assert(m2.read.count() == 2)
  }
}
