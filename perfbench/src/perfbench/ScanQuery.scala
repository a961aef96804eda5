package perfbench

import graft.table.GraftTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** scan_query: the analytic read side, a fixed round-robin mix of SQL
  * shapes through `graft.sources.GraftCatalog`. Nothing commits during
  * the timed loop: planning and pruning (core, sources) and decode
  * (spark) do the work, and `MergeEngine` runs in the PK shapes only.
  *
  * Set-up builds three tables:
  *  - `wide`: append table in BASELINE's row shape, keys in seeded
  *    random order, bloom index on the key;
  *  - `part`: partitioned append table built from many small commits,
  *    each commit's values in its own range (stats can prune);
  *  - `pk`: primary-key table left with several uncompacted level-0
  *    runs per bucket (reads merge on read). */
final class ScanQuery extends Workload {
  val WideRows = 40000
  val PartCommits = 6
  val PartRowsPerCommit = 300
  val PartDays = 6
  val PkRows = 8000
  val PkRuns = 3
  val PkBuckets = 2
  val Variants = 4

  /** One query shape: its table and its SQL variants, with `%s` for the
    * table name. */
  final case class Shape(name: String, table: String, sql: Seq[String],
      fullScan: Boolean = false, merged: Boolean = false)

  private var catalog: String = _
  private var shapes: Seq[Shape] = Nil
  private var round = 0
  /** rows returned by each executed query: (shape, variant) -> results */
  private val results = mutable.LinkedHashMap.empty[(String, Int), ArrayBuffer[Seq[String]]]
  private val scanRates = ArrayBuffer.empty[Double]
  private val planStats = mutable.LinkedHashMap.empty[String, ArrayBuffer[Array[Double]]]
  private var paths = Map.empty[String, String]

  override def atBoundary: Boolean = round % shapes.size == 0

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val parts = spark.sparkContext.defaultParallelism
    catalog = ctx.catalogAt(dir)
    def at(t: String) = s"$dir/warehouse/bench/$t"
    paths = Seq("wide", "part", "pk").map(t => t -> at(t)).toMap

    GraftTable.create(spark, at("wide"), Gen.wideSchema,
      options = Map("file-index.bloom-filter.columns" -> "k"))
      .write(Gen.wideFrame(spark, seed, Gen.permutedKeys(spark, seed, WideRows, parts)))

    val part = GraftTable.create(spark, at("part"), ScanQuery.partSchema,
      partitionKeys = Seq("dt"))
    (0 until PartCommits).foreach { c =>
      part.write(spark.createDataFrame(ScanQuery.partRows(seed, c, PartRowsPerCommit, PartDays).asJava,
        ScanQuery.partSchema))
    }

    val pk = GraftTable.create(spark, at("pk"), Gen.wideSchema, primaryKeys = Seq("k"),
      options = Map("bucket" -> PkBuckets.toString))
    (0 until PkRuns).foreach { v =>
      pk.write(Gen.wideFrame(spark, seed, ScanQuery.pkKeys(spark, seed, PkRows, v, parts)))
    }

    val r = Gen.rng(seed, 0x7363616eL, 0L)
    def keys(n: Int) = Seq.fill(Variants)(r.nextInt(n))
    val hashAll = Gen.wideHash.mkString(", ")
    val hash4 = Seq("count(*) AS n", "sum(xxhash64(k, c1, c2, c3) & 4294967295) AS h").mkString(", ")
    val days = Seq.fill(Variants)(r.nextInt(PartDays))
    // the full scan runs twice per pass: it alone gives scan_rows_per_s
    val fullScan = Shape("full_scan", "wide", Seq(s"SELECT $hashAll FROM %s"), fullScan = true)
    shapes = Seq(
      fullScan,
      Shape("projection", "wide", Seq(s"SELECT $hash4 FROM %s")),
      Shape("point_filter", "wide", keys(WideRows).map(k => s"SELECT * FROM %s WHERE k = $k")),
      Shape("count", "wide", Seq("SELECT count(*) FROM %s")),
      fullScan,
      Shape("min_max", "wide", Seq("SELECT min(k), max(k) FROM %s")),
      Shape("top_n", "wide", Seq("SELECT k, c1 FROM %s ORDER BY k DESC LIMIT 10")),
      Shape("part_filter", "part", days.zipWithIndex.map { case (d, i) =>
        // the window covers a few commits' value ranges of one day
        val lo = (i * PartCommits / Variants) * 1000L
        s"SELECT count(*) AS n, sum(v) AS s FROM %s WHERE dt = '${ScanQuery.day(d)}' " +
          s"AND v BETWEEN $lo AND ${lo + 8000}"
      }),
      Shape("pk_scan", "pk", Seq(s"SELECT $hashAll FROM %s"), merged = true),
      Shape("pk_point", "pk", keys(PkRows).map(k => s"SELECT * FROM %s WHERE k = $k"), merged = true))
    round = 0
    results.clear()
    ctx.inputs ++= Seq(
      "wide_rows" -> WideRows, "row_bytes" -> Gen.RowBytes,
      "part_commits" -> PartCommits, "part_rows_per_commit" -> PartRowsPerCommit,
      "part_days" -> PartDays, "pk_rows" -> PkRows, "pk_level0_runs" -> PkRuns,
      "pk_buckets" -> PkBuckets, "shape_mix" -> shapes.map(_.name).mkString(","))
  }

  private def tableName(t: String) = s"$catalog.bench.$t"

  def round(ctx: Ctx): Unit = {
    val s = shapes(round % shapes.size)
    val variant = (round / shapes.size) % s.sql.size
    val sql = s.sql(variant).format(tableName(s.table))
    round += 1
    val t0 = System.nanoTime()
    val out = ctx.op(s.name) {
      val df = ctx.span("sources.analyze")(ctx.spark.sql(sql))
      ctx.span("sources.plan")(df.queryExecution.executedPlan)
      val rows = ctx.span(if (s.merged) "table.merged_read" else "sources.exec")(df.collect())
      (df, rows)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    out.foreach { case (df, rows) =>
      results.getOrElseUpdate((s.name, variant), ArrayBuffer.empty) +=
        rows.toSeq.map(_.toSeq.mkString("|")).sorted
      if (ctx.measuring && s.fullScan) scanRates += rows.head.getLong(0) / (ms / 1e3)
      if (ctx.tracing) planStats.getOrElseUpdate(s.name, ArrayBuffer.empty) +=
        ScanQuery.planMetrics(df.queryExecution.executedPlan, rows.length)
    }
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val parts = spark.sparkContext.defaultParallelism
    // plain Spark over the same generated rows answers every query the
    // loop ran; each executed query whose answer differs counts failed
    val plain = Map(
      "wide" -> Gen.wideFrame(spark, seed, Gen.permutedKeys(spark, seed, WideRows, parts)),
      "part" -> spark.createDataFrame((0 until PartCommits).flatMap(c =>
        ScanQuery.partRows(seed, c, PartRowsPerCommit, PartDays)).asJava, ScanQuery.partSchema),
      "pk" -> Gen.wideFrame(spark, seed, ScanQuery.pkKeys(spark, seed, PkRows, PkRuns - 1, parts)))
    plain.foreach { case (t, df) => df.createOrReplaceTempView(s"plain_$t") }
    results.foreach { case ((name, variant), runs) =>
      val s = shapes.find(_.name == name).get
      val want = spark.sql(s.sql(variant).format(s"plain_${s.table}")).collect()
        .toSeq.map(_.toSeq.mkString("|")).sorted
      runs.zipWithIndex.foreach { case (got, i) =>
        ctx.expect(got == want, s"$name variant $variant run $i: got ${got.take(2)} want ${want.take(2)}")
      }
    }
    val all = shapes.map(_.name).distinct.flatMap(s => ctx.untracedMs(s))
    ctx.put("query_p50_ms", Stats.median(all), "ms")
    ctx.put("query_p90_ms", Stats.p90(all), "ms")
    ctx.put("scan_rows_per_s", Stats.median(scanRates.toSeq), "rows/s")
    ctx.inputs("baseline.parquet_full_scan_rows_per_s") = "975.4K (BASELINE.md, Apple M1 Pro; reference only)"
    ctx.inputs("samples.query") = all.size
    ctx.inputs("samples.full_scan") = scanRates.size
    val live = paths.map { case (t, p) => t -> GraftTable.load(spark, p).systemFiles.count().toDouble }
    shapes.distinct.foreach { s =>
      ctx.extra(s"${s.name}.sources.files_live") = live(s.table)
      planStats.get(s.name).foreach { xs =>
        val names = Seq("files_planned", "bytes_planned", "rows_read_per_row_returned")
        names.zipWithIndex.foreach { case (n, i) =>
          ctx.extra(s"${s.name}.sources.$n") = xs.map(_(i)).sum / xs.size
        }
      }
    }
  }
}

object ScanQuery extends AdaptiveSparkPlanHelper {
  val partSchema: StructType = StructType(Seq(
    StructField("dt", StringType), StructField("id", LongType),
    StructField("v", LongType), StructField("s", StringType)))

  def day(d: Int): String = f"2024-01-${d + 1}%02d"

  /** Commit `c` of the partitioned table: one day's rows with values in
    * [c * 1000, c * 1000 + 1000). */
  def partRows(seed: Long, c: Int, n: Int, days: Int): Seq[Row] = {
    val r = Gen.rng(seed, 0x70617274L, c.toLong)
    val dt = day(c % days)
    (0 until n).map { i =>
      Row(dt, c.toLong * n + i, c * 1000L + r.nextInt(1000), f"s${r.nextInt(1 << 20)}%07d")
    }
  }

  /** Write `v` of the PK table: every key, at version v. */
  def pkKeys(spark: SparkSession, seed: Long, n: Int, v: Int, parts: Int)
      : org.apache.spark.rdd.RDD[(Int, Int)] =
    Gen.permutedKeys(spark, seed + v, n, parts).map { case (k, _) => (k, v) }

  /** (files planned, bytes planned, rows the scans emitted per row
    * returned) from the executed plan's SQL metrics. */
  def planMetrics(plan: SparkPlan, returned: Int): Array[Double] = {
    val nodes = collect(plan) { case p => p }
    def sum(metric: String) = nodes.flatMap(_.metrics.get(metric)).map(_.value).sum.toDouble
    val scanned = nodes.filter(_.nodeName.contains("Scan"))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble
    Array(sum("filesPlanned"), sum("bytesPlanned"), scanned / math.max(1, returned))
  }
}
