package perfbench

import graft.operators.{Components, Dedup}
import graft.table.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** dedup_corpus: the training-data half. Set-up writes a seeded corpus
  * with stated shares of exact duplicates, near-duplicates and unique
  * documents to a graft table. Each round is one pass: read the corpus
  * back with SQL through `GraftCatalog`, `Dedup.exact`,
  * `Dedup.minhashDedupPairs`,
  * `Components.dedupByPairs`, and `overwrite` the kept set into a second
  * table. Each stage's output is materialised before the next stage so
  * that its time is its own; the materialisation counts in the stage.
  * A whole pass is timed as kind `pass`. */
final class DedupCorpus extends Workload {
  /** 2 substituted tokens of 60 (3.3%): with 16 bands of 2 rows the
    * LSH misses such a pair with probability below 1e-7, so the kept
    * count is exact for the model, not a matter of luck. */
  val Mix = Gen.CorpusMix(docs = 5000, tokens = 60, vocab = 20000,
    exactShare = 0.2, nearShare = 0.2, edits = 2)
  val Threshold = 0.7
  val Signature = 32
  val Bands = 16

  /** A pass kept getting faster for its first three or four runs, the
    * first taking about 10 s: C2 compiles the operators' paths late. */
  override def warmupSeconds: Double = 25.0

  private var corpus: Gen.Corpus = _
  private var corpusTable: String = _
  private var corpusPath: String = _
  private var kept: GraftTable = _
  private var recalls = Seq.empty[Double]

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    corpus = new Gen.Corpus(ctx.seed, Mix)
    corpusTable = s"${ctx.catalogAt(dir)}.bench.corpus"
    corpusPath = s"$dir/warehouse/bench/corpus"
    GraftTable.create(spark, corpusPath, corpus.schema).write(corpus.frame(spark))
    GraftTable.create(spark, s"$dir/kept", corpus.schema)
    kept = if (ctx.args.trace) GraftTable.load(spark, s"$dir/kept", new CountingFileIO(ctx.tracer))
      else GraftTable.load(spark, s"$dir/kept")
    recalls = Nil
    ctx.inputs ++= Seq(
      "docs" -> Mix.docs, "tokens_per_doc" -> Mix.tokens, "vocab" -> Mix.vocab,
      "corpus.exact_share" -> Mix.exactShare, "corpus.near_share" -> Mix.nearShare,
      "corpus.unique_share" -> f"${Mix.uniqueShare}%.2f",
      "corpus.edit_rate" -> f"${Mix.editRate}%.4f (${Mix.edits} of ${Mix.tokens} tokens)",
      "originals" -> corpus.originals,
      "minhash" -> s"k=$Signature bands=$Bands threshold=$Threshold")
  }

  private def materialise(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  def round(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    var frames = List.empty[DataFrame]
    def keep(df: DataFrame) = { frames ::= df; df }
    var deduped: DataFrame = null
    var read: DataFrame = null
    val ok = for {
      docs <- ctx.op("read") {
        read = ctx.span("sources.analyze")(ctx.spark.sql(s"SELECT id, text FROM $corpusTable"))
        ctx.span("sources.plan")(read.queryExecution.executedPlan)
        ctx.span("sources.exec")(keep(materialise(read)))
      }
      exact <- ctx.op("exact")(ctx.span("operators.exact") {
        val canon = Dedup.exact(docs, "id", col("text")).select(col("canonical_id").as("id"))
        deduped = keep(materialise(docs.join(canon, "id")))
        deduped
      })
      pairs <- ctx.op("minhash")(ctx.span("operators.minhash")(
        keep(materialise(Dedup.minhashDedupPairs(exact, "id", "text", Threshold, Signature, Bands)))))
      out <- ctx.op("components")(ctx.span("operators.components")(
        keep(materialise(Components.dedupByPairs(exact, "id", pairs).select("id", "text")))))
      _ <- ctx.op("overwrite")(ctx.span("table.overwrite")(kept.overwrite(out)))
    } yield pairs
    if (ok.isDefined) ctx.record("pass", (System.nanoTime() - t0) / 1e6)
    if (ctx.tracing) ok.foreach { pairs =>
      // the read ran as the cache's own plan, so its scan metrics are there
      val scan = ctx.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.lookupCachedData(read.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .get.cachedRepresentation.cacheBuilder.cachedPlan
      val Array(files, bytes, rowsRead) = ScanQuery.planMetrics(scan, Mix.docs)
      ctx.extra("read.sources.files_planned") = files
      ctx.extra("read.sources.bytes_planned") = bytes
      ctx.extra("read.sources.rows_read_per_row_returned") = rowsRead
      // candidate pairs cost a second LSH pass: counted after the op,
      // outside every timed span
      ctx.extra("minhash.operators.candidate_pairs") =
        Dedup.minhashCandidates(deduped, "id", "text", Signature, Bands).count().toDouble
      ctx.extra("minhash.operators.verified_pairs") = pairs.count().toDouble
    }
    frames.foreach(_.unpersist())
    if (ok.isDefined) checkKept(ctx)
  }

  /** The kept table against the model: no two kept docs from one
    * exact-duplicate group, and one kept doc per planted cluster. */
  private def checkKept(ctx: Ctx): Unit = {
    val ids = kept.read.select("id").collect().map(_.getLong(0))
    val index = new Array[Int](Mix.docs)
    corpus.id.zipWithIndex.foreach { case (id, i) => index(id.toInt) = i }
    val clusters = ids.map(id => corpus.cluster(index(id.toInt)))
    val exactGroups = ids.map { id =>
      val i = index(id.toInt)
      (corpus.cluster(i), corpus.kind(i) == 2, if (corpus.kind(i) == 2) i else -1)
    }
    ctx.expect(exactGroups.distinct.length == exactGroups.length,
      "an exact duplicate survived")
    ctx.expect(ids.length == corpus.originals && clusters.distinct.length == ids.length,
      s"kept ${ids.length} docs in ${clusters.distinct.length} clusters, model keeps ${corpus.originals}")
    val planted = Mix.docs - corpus.originals
    recalls :+= (Mix.docs - ids.length).toDouble / planted
  }

  def finish(ctx: Ctx): Unit = {
    val passes = ctx.untracedMs("pass")
    ctx.put("pass_p50_ms", Stats.median(passes), "ms")
    ctx.put("pass_p90_ms", Stats.p90(passes), "ms")
    ctx.put("dedup_docs_per_s", Mix.docs / (Stats.median(passes) / 1e3), "docs/s")
    ctx.put("dedup_recall", if (recalls.isEmpty) Double.NaN else recalls.min, "ratio")
    ctx.inputs("samples.pass") = passes.size
    ctx.extra("read.sources.files_live") =
      GraftTable.load(ctx.spark, corpusPath).systemFiles.count().toDouble
    for (c <- ctx.extra.get("minhash.operators.candidate_pairs");
         v <- ctx.extra.get("minhash.operators.verified_pairs") if c > 0)
      ctx.extra("minhash.operators.useful_share") = v / c
  }
}
