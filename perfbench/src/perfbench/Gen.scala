package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator shared by the three workloads.
  *
  * Every generated value is a pure function of the run seed and a small
  * coordinate (key and version for table rows, document index for the
  * corpus). Bulk loads therefore generate on the executors, and the
  * output checks regenerate exactly the expected rows on the driver,
  * without shipping any data. graft only ever sees the generated rows.
  */
object Gen {

  /** BASELINE's micro-benchmark row: an int key plus 20 random 10-char
    * strings (here hex, as lower-case [0-9a-f]). */
  val StrCols = 20
  val StrLen = 10
  val RowBytes: Long = 4L + StrCols * StrLen
  val wideSchema: StructType = StructType(
    StructField("k", IntegerType, nullable = false) +:
      (1 to StrCols).map(i => StructField(s"c$i", StringType)))
  val strCols: Seq[String] = (1 to StrCols).map(i => s"c$i")

  /** splitmix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, a: Long, b: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(mix(seed) ^ a) ^ (b * 0x632be59bd9b4e019L)))

  private val hex = "0123456789abcdef".toCharArray

  /** The row stored under `key` by the write numbered `version` (0 is
    * the set-up load). */
  def wideRow(seed: Long, key: Int, version: Int): Row = {
    val r = rng(seed, key.toLong, version.toLong)
    val vals = new Array[Any](StrCols + 1)
    vals(0) = key
    var i = 1
    while (i <= StrCols) {
      var bits = r.nextLong()
      val cs = new Array[Char](StrLen)
      var j = 0
      while (j < StrLen) { cs(j) = hex((bits & 0xf).toInt); bits >>>= 4; j += 1 }
      vals(i) = new String(cs)
      i += 1
    }
    Row.fromSeq(vals.toSeq)
  }

  /** Wide rows for (key, version) pairs, generated on the executors. */
  def wideFrame(spark: SparkSession, seed: Long,
      keys: org.apache.spark.rdd.RDD[(Int, Int)]): DataFrame =
    spark.createDataFrame(keys.map { case (k, v) => wideRow(seed, k, v) }, wideSchema)

  /** Keys 0 until n in a seeded pseudo-random order (an affine bijection
    * mod n), so no file's key range is narrower than the table's. */
  def permutedKeys(spark: SparkSession, seed: Long, n: Int, parts: Int)
      : org.apache.spark.rdd.RDD[(Int, Int)] = {
    val m = n.toLong
    var a = (mix(seed) & 0x7fffffffL) % m
    while (a == 0 || gcd(a, m) != 1) a = (a + 1) % m
    val b = (mix(seed + 1) & 0x7fffffffL) % m
    spark.sparkContext.range(0L, m, 1L, parts).map(i => (((a * i + b) % m).toInt, 0))
  }

  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)

  /** Order-independent content hash of a frame with the wide row shape:
    * the row count and the sum of 32-bit row hashes, as SQL text so the
    * same expressions run over graft and over plain Spark. */
  val wideHash: Seq[String] = Seq("count(*) AS n",
    s"sum(xxhash64(k, ${strCols.mkString(", ")}) & 4294967295) AS h")

  // ---- upsert_lookup -------------------------------------------------

  /** The key mix of upsert_lookup. Each batch row is an update of a key
    * drawn uniformly from every key written so far (share `uniform`) or
    * an insert of the next new key (the recent window, the rest).
    * After each commit, `lookupsPerCommit` lookups probe keys that
    * commit inserted (share `recentLookups`, rounded) or keys of the
    * set-up load (cold). */
  final case class UpsertMix(
      initialKeys: Int, batchRows: Int, uniform: Double,
      lookupsPerCommit: Int, recentLookups: Double)

  /** Driver-side last-write-wins model of an upsert_lookup table plus
    * the seeded stream of batches and lookup keys. */
  final class UpsertModel(seed: Long, val mix: UpsertMix) {
    private val r = rng(seed, 0x75707365L, 0L)
    private var versions = new Array[Int](mix.initialKeys * 2)
    var nextKey: Int = mix.initialKeys
    var commits = 0
    private var lastInserted: Array[Int] = Array.empty

    def version(key: Int): Int = versions(key)

    /** The next batch's keys, distinct, and its version number. */
    def nextBatch(): (Array[Int], Int) = {
      val keys = scala.collection.mutable.LinkedHashSet.empty[Int]
      var base = nextKey
      while (keys.size < mix.batchRows) {
        if (r.nextDouble() < mix.uniform) keys += r.nextInt(nextKey)
        else { keys += base; base += 1 }
      }
      (keys.toArray, commits + 1)
    }

    /** Record a committed batch. */
    def commit(keys: Array[Int], version: Int): Unit = {
      val top = keys.max + 1
      if (top > versions.length)
        versions = java.util.Arrays.copyOf(versions, math.max(top, versions.length * 2))
      keys.foreach(k => versions(k) = version)
      lastInserted = keys.filter(_ >= nextKey)
      nextKey = math.max(nextKey, top)
      commits = version
    }

    /** Lookup keys after a commit: (key, recent?). */
    def lookupKeys(): Seq[(Int, Boolean)] = {
      val recent = math.round(mix.lookupsPerCommit * mix.recentLookups).toInt
      (0 until mix.lookupsPerCommit).map { i =>
        if (i < recent && lastInserted.nonEmpty)
          (lastInserted(r.nextInt(lastInserted.length)), true)
        else (r.nextInt(mix.initialKeys), false)
      }
    }

    /** (key, version) of every live key. */
    def live: Seq[(Int, Int)] = (0 until nextKey).map(k => (k, versions(k)))
  }

  // ---- dedup_corpus ---------------------------------------------------

  /** Corpus mix: shares of the documents that are exact copies and
    * near-duplicates (each with `edits` token substitutions) of an
    * original; the remaining share are the originals themselves. */
  final case class CorpusMix(docs: Int, tokens: Int, vocab: Int,
      exactShare: Double, nearShare: Double, edits: Int) {
    def editRate: Double = edits.toDouble / tokens
    def uniqueShare: Double = 1.0 - exactShare - nearShare
  }

  /** The corpus: doc i has text `text(i)` and belongs to duplicate
    * cluster `cluster(i)` (the index of its original). Document ids are a seeded shuffle of 0 until docs,
    * so a cluster's minimum id is as often a copy as the original. */
  final class Corpus(seed: Long, val mix: CorpusMix) extends Serializable {
    val originals: Int = mix.docs - (mix.docs * mix.exactShare).toInt -
      (mix.docs * mix.nearShare).toInt
    private def originalText(o: Int): Array[Int] = {
      val g = rng(seed, 0x6f726967L, o.toLong)
      Array.fill(mix.tokens)(g.nextInt(mix.vocab))
    }
    /** For each doc index: its cluster, its kind (0 original, 1 exact
      * copy, 2 near-duplicate) and its id (a seeded permutation). */
    val (cluster, kind, id): (Array[Int], Array[Byte], Array[Long]) = {
      val r = rng(seed, 0x636f7270L, 0L)
      val c = new Array[Int](mix.docs)
      val k = new Array[Byte](mix.docs)
      val nExact = (mix.docs * mix.exactShare).toInt
      var i = 0
      while (i < mix.docs) {
        if (i < originals) { c(i) = i; k(i) = 0 }
        else { c(i) = r.nextInt(originals); k(i) = if (i < originals + nExact) 1 else 2 }
        i += 1
      }
      val ids = Array.tabulate(mix.docs)(_.toLong)
      i = ids.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1
      }
      (c, k, ids)
    }
    def text(i: Int): String = {
      val t = originalText(cluster(i))
      if (kind(i) == 2) {
        val g = rng(seed, 0x6e656172L, i.toLong)
        // `edits` distinct positions, each swapped for a token no
        // original contains (vocab is the exclusive upper bound)
        val pos = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (pos.size < mix.edits) pos += g.nextInt(mix.tokens)
        pos.foreach(p => t(p) = mix.vocab + g.nextInt(mix.vocab))
      }
      t.map(w => s"w$w").mkString(" ")
    }
    val schema: StructType = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType)))
    def frame(spark: SparkSession): DataFrame = {
      val me = this
      spark.createDataFrame(
        spark.sparkContext.range(0L, mix.docs.toLong, 1L,
          spark.sparkContext.defaultParallelism)
          .map(i => Row(me.id(i.toInt), me.text(i.toInt))), schema)
    }
  }
}
