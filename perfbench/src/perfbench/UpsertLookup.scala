package perfbench

import graft.table.GraftTable
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** upsert_lookup: continuous primary-key upserts with point lookups
  * interleaved, on a fixed-bucket PK table in BASELINE's row shape.
  *
  * Each round commits one upsert batch and compacts the way a writer
  * does, with `compactIfNeeded()` right after the commit (its time
  * counts in the commit), then serves `localLookup`s. Recent lookups
  * probe keys the latest commit inserted: they sit in small level-0
  * files under the lookup cache's row cap. Cold lookups probe set-up
  * keys, whose compacted bucket files are above the cap. A round's time
  * (kind `round`) is its commit's time plus its lookups'. */
final class UpsertLookup extends Workload {
  /** One bucket, as BASELINE's micro-benchmark table, loaded just above
    * the lookup cache's default 65,536-row file cap. */
  val Mix = Gen.UpsertMix(initialKeys = 70000, batchRows = 1000, uniform = 0.5,
    lookupsPerCommit = 4, recentLookups = 0.75)
  val Buckets = 1

  private var path: String = _
  private var gt: GraftTable = _
  private var model: Gen.UpsertModel = _
  /** every file ever seen under the table directory -> its size */
  private val seen = mutable.HashMap.empty[String, Long]
  private var bytesWritten = 0L
  private var rowsUpserted = 0L
  private val recentMs = ArrayBuffer.empty[Double]
  private val coldMs = ArrayBuffer.empty[Double]
  private var measuredRows = 0L
  private var liveLevelled = Set.empty[String]
  private var compactions = 0
  private var compactBytes = 0L
  private var sortedRunsMax = 0
  private var lastCompacted = false
  private var measuredCompactions = 0

  /** a compaction cycle ends with the commit that compacted */
  override def atBoundary: Boolean = lastCompacted

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    path = s"$dir/pk"
    val t = GraftTable.create(spark, path, Gen.wideSchema, primaryKeys = Seq("k"),
      options = Map("bucket" -> Buckets.toString))
    t.write(Gen.wideFrame(spark, ctx.seed,
      spark.sparkContext.range(0L, Mix.initialKeys.toLong, 1L, spark.sparkContext.defaultParallelism)
        .map(k => (k.toInt, 0))))
    model = new Gen.UpsertModel(ctx.seed, Mix)
    gt = if (ctx.args.trace) GraftTable.load(spark, path, new CountingFileIO(ctx.tracer))
      else GraftTable.load(spark, path)
    seen.clear(); walk()
    bytesWritten = 0L; rowsUpserted = 0L
    liveLevelled = liveFiles().filter(_._3 > 0).map(_._1).toSet
    ctx.inputs ++= Seq(
      "initial_rows" -> Mix.initialKeys, "buckets" -> Buckets,
      "row_bytes" -> Gen.RowBytes, "batch_rows" -> Mix.batchRows,
      "upsert_key_mix.uniform_share" -> Mix.uniform,
      "upsert_key_mix.recent_window_share" -> (1 - Mix.uniform),
      "lookups_per_commit" -> Mix.lookupsPerCommit,
      "lookup_key_mix.recent_share" -> Mix.recentLookups,
      "lookup_key_mix.cold_share" -> (1 - Mix.recentLookups),
      "compaction" -> "compactIfNeeded() after each commit (default trigger)",
      "lookup.cache-max-file-rows" -> "65536 (default)")
  }

  /** Sizes of new files under the table directory since the last walk. */
  private def walk(): Long = {
    var added = 0L
    graft.core.FsUtil.walkAll(java.nio.file.Paths.get(path))
      .filter(p => java.nio.file.Files.isRegularFile(p)).foreach { p =>
        val k = p.toString
        if (!seen.contains(k)) {
          val sz = try java.nio.file.Files.size(p) catch { case _: java.io.IOException => 0L }
          seen(k) = sz
          added += sz
        }
      }
    added
  }

  /** Live data files: (name, bucket, level, bytes). */
  private def liveFiles(): Seq[(String, Int, Int, Long)] =
    gt.systemFiles.select("file_name", "bucket", "level", "file_size").collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))

  def round(ctx: Ctx): Unit = {
    val (keys, version) = model.nextBatch()
    val rows = keys.map(k => Gen.wideRow(ctx.seed, k, version)).toSeq
    val df = ctx.spark.createDataFrame(rows.asJava, Gen.wideSchema)
    var written = false
    val compacted = ctx.op("commit") {
      ctx.span("table.write")(gt.write(df))
      written = true
      ctx.tracer.spanAs(gt.compactIfNeeded())(c =>
        if (c.isDefined) "table.compact" else "table.compact_check").isDefined
    }
    var roundMs = ctx.lastMs
    lastCompacted = compacted.contains(true)
    if (lastCompacted && ctx.measuring) measuredCompactions += 1
    if (written) {
      model.commit(keys, version)
      rowsUpserted += keys.length
      if (ctx.measuring) measuredRows += keys.length
    }
    bytesWritten += walk()
    if (ctx.args.trace) traceFiles(ctx, compacted.contains(true))

    model.lookupKeys().foreach { case (key, recent) =>
      val got = ctx.op("lookup") {
        ctx.span(if (recent) "table.lookup_recent" else "table.lookup_cold")(
          gt.localLookup(Map("k" -> key)))
      }
      roundMs += ctx.lastMs
      if (ctx.measuring && got.isDefined) (if (recent) recentMs else coldMs) += ctx.lastMs
      got.foreach { found =>
        val want = Gen.wideRow(ctx.seed, key, model.version(key)).toSeq
        ctx.expect(found.size == 1 && found.head.toSeq == want,
          s"lookup k=$key: got ${found.map(_.toSeq.take(2))} want version ${model.version(key)}")
      }
    }
    ctx.record("round", roundMs)
  }

  /** Per-layer file counts after a commit (traced runs): bytes the
    * compaction wrote and the most sorted runs any bucket holds. */
  private def traceFiles(ctx: Ctx, compacted: Boolean): Unit = {
    val live = liveFiles()
    val levelled = live.filter(_._3 > 0)
    if (compacted && ctx.tracing) {
      compactions += 1
      compactBytes += levelled.filterNot(f => liveLevelled.contains(f._1)).map(_._4).sum
    }
    liveLevelled = levelled.map(_._1).toSet
    if (ctx.tracing) sortedRunsMax = math.max(sortedRunsMax, live.groupBy(_._2).values.map { fs =>
      fs.count(_._3 == 0) + fs.filter(_._3 > 0).map(_._3).distinct.size
    }.maxOption.getOrElse(0))
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // final merged read: row count and order-independent hash against
    // the last-write-wins model
    ctx.finalCheck("merged read matches the last-write-wins model") {
      val got = gt.read.selectExpr(Gen.wideHash: _*).head()
      val want = Gen.wideFrame(spark, ctx.seed,
        spark.sparkContext.parallelize(model.live, spark.sparkContext.defaultParallelism))
        .selectExpr(Gen.wideHash: _*).head()
      got.getLong(0) == want.getLong(0) && got.getLong(1) == want.getLong(1)
    }
    val rounds = ctx.untracedMs("round")
    val commits = ctx.untracedMs("commit")
    val lookups = ctx.untracedMs("lookup")
    val commitSec = ctx.ms("commit").sum / 1e3
    ctx.put("upsert_rows_per_s", measuredRows / commitSec, "rows/s")
    ctx.put("commit_p50_ms", Stats.median(commits), "ms")
    ctx.put("commit_p90_ms", Stats.p90(commits), "ms")
    ctx.put("lookup_p50_ms", Stats.median(lookups), "ms")
    ctx.put("lookup_p90_ms", Stats.p90(lookups), "ms")
    ctx.put("lookup_recent_p50_ms", Stats.median(recentMs.toSeq), "ms")
    ctx.put("lookup_cold_p50_ms", Stats.median(coldMs.toSeq), "ms")
    ctx.put("write_amp", bytesWritten.toDouble / (rowsUpserted * Gen.RowBytes), "ratio")
    val liveBytes = liveFiles().map(_._4).sum
    ctx.put("space_amp", liveBytes.toDouble / (model.nextKey.toLong * Gen.RowBytes), "ratio")
    ctx.put("round_p50_ms", Stats.median(rounds), "ms")
    ctx.put("round_p90_ms", Stats.p90(rounds), "ms")
    ctx.inputs("baseline.parquet_upsert_rows_per_s") = "64.8K (BASELINE.md, i7-9750H; reference only)"
    ctx.inputs("samples.round") = rounds.size
    ctx.inputs("samples.commit") = commits.size
    ctx.inputs("samples.compacting_commit") = measuredCompactions
    ctx.inputs("samples.lookup") = lookups.size
    ctx.extra("compact.table.compactions") = compactions
    ctx.extra("compact.table.compact_bytes_rewritten") =
      if (compactions == 0) 0.0 else compactBytes.toDouble / compactions
    ctx.extra("commit.table.sorted_runs_max") = sortedRunsMax
  }
}
