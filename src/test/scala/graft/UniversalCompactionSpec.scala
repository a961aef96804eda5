package graft

import graft.core.Meta
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

object UniversalCompactionSpec {
  /** `compactIfNeeded(trigger)`, first checking that `$compact_buckets`
    * predicts whether it compacts. */
  def compactIfNeededChecked(t: GraftTable, trigger: Int = 5): Option[Long] = {
    val predicted = t.systemCompactBuckets(trigger).filter("compaction_needed").count() > 0
    val ran = t.compactIfNeeded(trigger)
    assert(ran.isDefined == predicted,
      s"compact_buckets predicted $predicted, compactIfNeeded ran: $ran")
    ran
  }
}

/** Universal compaction of primary-key buckets: partial merges of the
  * newest runs onto levels 2..N, level 1 rewritten only by a full
  * merge, and the readers that rely on level 1 being fully merged. */
class UniversalCompactionSpec extends AnyFunSuite {
  import UniversalCompactionSpec.compactIfNeededChecked

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-uc").toString + "/t"

  private val sch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("ts", LongType, nullable = true)))

  private def rows(rs: Seq[(Long, java.lang.Long, String, Long, Byte)]): DataFrame =
    spark.createDataFrame(rs.map { case (k, v, s, ts, kind) =>
      Row(k, v, s, ts, kind) }.asJava,
      sch.add(StructField(Meta.KindCol, ByteType, nullable = false)))

  private def live(t: GraftTable) = t.sm.latestSnapshot().map(t.sm.liveEntries).get

  private def sorted(df: DataFrame): Seq[Row] =
    df.select("k", "v", "s", "ts").collect().toSeq.sortBy(_.getLong(0))

  test("pick: size-ratio picks walk the partial levels; full-merge rules and options") {
    import graft.table.UniversalCompaction.{Pick, Policy, policy}
    def pick(es: Seq[Meta.ManifestEntry], p: Policy) =
      graft.table.UniversalCompaction.pick(es, p, forceFull = false)
    var seq = 0L
    def f(level: Int, bytes: Long) = {
      seq += 1
      Meta.ManifestEntry("ADD", Map.empty, 0, Meta.DataFileMeta(
        s"f$seq", bytes, bytes / 100, seq, seq, level, Map.empty))
    }
    def l0s = (1 to 5).map(_ => f(0, 1000))
    def levels(p: Option[Pick]) = p.map(x => (x.files.map(_.file.level).sorted, x.outputLevel))
    val p5 = Policy(minFiles = 5, maxSizeAmpPct = 200, sortedRunTrigger = None,
      totalSizeBelow = None, deleteRatio = None, fullOnly = false)
    val bottom = f(1, 75000)
    // the benchmark's cycle: 5k, then 10k, 5k and 20k rows merged
    assert(levels(pick(bottom +: l0s, p5)) == Some((Seq(0, 0, 0, 0, 0), 5)))
    assert(levels(pick(Seq(bottom, f(5, 5000)) ++ l0s, p5)) ==
      Some((Seq(0, 0, 0, 0, 0, 5), 5)))
    assert(levels(pick(Seq(bottom, f(5, 10000)) ++ l0s, p5)) ==
      Some((Seq(0, 0, 0, 0, 0), 4)))
    assert(levels(pick(Seq(bottom, f(4, 5000), f(5, 10000)) ++ l0s, p5)) ==
      Some((Seq(0, 0, 0, 0, 0, 4, 5), 5)))
    // right above level 2 no level is free: level 2 joins the pick
    assert(levels(pick(Seq(bottom, f(2, 50000), f(3, 60000)) ++ l0s, p5)) ==
      Some((Seq(0, 0, 0, 0, 0, 2), 2)))
    assert(levels(pick(Seq(bottom, f(2, 50000)) ++ l0s, p5)) ==
      Some((Seq(0, 0, 0, 0, 0, 2), 5)))
    // a pick that reaches level 1 is a full merge
    assert(levels(pick(Seq(f(1, 5000)) ++ l0s, p5)).map(_._2) == Some(1))
    // levels 2..N do not count toward the file-count trigger
    assert(pick(Seq(bottom, f(2, 900), f(3, 900), f(0, 10), f(0, 10), f(0, 10), f(0, 10)), p5)
      .isEmpty)
    // size amplification: un-merged bytes > 200% of level 1
    assert(levels(pick(Seq(f(1, 1000), f(3, 2500), f(0, 10)), p5.copy(minFiles = 9)))
      .map(_._2) == Some(1))
    assert(levels(pick(bottom +: l0s, p5.copy(fullOnly = true))).map(_._2) == Some(1))
    // a fired run trigger merges enough runs to end below it
    val runs = Seq(f(2, 100), f(3, 50000), f(4, 60000), f(1, 500000))
    assert(levels(pick(runs, p5.copy(sortedRunTrigger = Some(3)))) ==
      Some((Seq(2, 3, 4), 5)))
    // one non-level-0 run alone is never copied to another level
    assert(pick(Seq(f(1, 75000), f(1, 75000), f(2, 10)), p5.copy(minFiles = 1)).isEmpty)
    // options under which a partial merge is no step of the full merge
    def sch(opts: (String, String)*) = Meta.TableSchema(0L,
      Seq(Meta.FieldDef(0, "k", "BIGINT", nullable = false)), Nil, Seq("k"), opts.toMap)
    assert(!policy(sch(), 5).fullOnly)
    Seq("changelog-producer" -> "full-compaction", "record-level.expire-time" -> "1 d",
      "partial-update.remove-record-on-delete" -> "true",
      "aggregation.remove-record-on-delete" -> "true", "bucket" -> "-2")
      .foreach(o => assert(policy(sch(o), 5).fullOnly, o))
    assert(policy(sch().copy(primaryKeys = Nil), 5).fullOnly, "append tables")
  }

  test("hot bucket: the 5 newest runs merge onto one partial level, level 1 stays") {
    val t = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1"))
    t.write(spark.range(0, 3000).select(col("id").as("k"), col("id").as("v"),
      concat(lit("s"), col("id")).as("s"), lit(0L).as("ts")))
    t.compact()
    val bottom = live(t).map(_.file.fileName)
    assert(live(t).map(_.file.level) == Seq(1))
    (1 to 5).foreach { i =>
      t.write(spark.range(i * 10, i * 10 + 20).select(col("id").as("k"),
        (col("id") + i * 1000).as("v"), lit(s"w$i").as("s"), lit(i.toLong).as("ts")))
    }
    val before = sorted(t.read)
    val l1State = sorted(t.systemReadOptimized)
    assert(compactIfNeededChecked(t).isDefined, "6 files > 5 must trigger")
    val after = live(t)
    assert(after.filter(_.file.level == 1).map(_.file.fileName) == bottom,
      "the level-1 file is untouched")
    val partial = after.filter(_.file.level >= 2)
    assert(partial.size == 1 && partial.head.file.level == 5, after.map(_.file))
    assert(partial.head.file.rowCount == 5 * 20 - 4 * 10, "5 runs merged by key")
    assert(!after.exists(_.file.level == 0))
    assert(sorted(t.read) == before)
    // readers that want merged data without a merge see level 1 only
    assert(sorted(t.systemReadOptimized) == l1State)
    assert(t.countRowsFast().isEmpty, "a partial run may hold retractions")
    assert(t.countRows() == 3000L)
    // a full compaction merges everything back into one level-1 run
    t.compact()
    assert(live(t).forall(_.file.level == 1))
    assert(t.countRowsFast().contains(3000L))
    assert(sorted(t.read) == before)
  }

  test("full-compaction.delta-commits counts commits since the last FULL compaction") {
    val t = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "full-compaction.delta-commits" -> "3"))
    def one(k: Long) = t.write(spark.range(k, k + 1).select(col("id").as("k"),
      col("id").as("v"), lit("x").as("s"), lit(0L).as("ts")))
    t.write(spark.range(0, 500).select(col("id").as("k"), col("id").as("v"),
      lit("seed").as("s"), lit(0L).as("ts")))
    t.compact()
    val full0 = t.sm.latestSnapshotId.get
    one(1000L)
    assert(t.compactIfNeeded(trigger = 1).isDefined)
    assert(live(t).exists(_.file.level >= 2), "partial compaction expected")
    one(1001L)
    assert(t.compactIfNeeded(trigger = 1).isDefined)
    assert(t.sm.snapshotIds.filter(_ > full0).map(t.sm.snapshot)
      .count(s => s.commitKind == Meta.KindCompact && !t.isFullCompaction(s)) == 2)
    // third delta commit since the full compaction: the partial
    // compactions in between do not reset the count
    one(1002L)
    val last = t.sm.latestSnapshot().get
    assert(last.commitKind == Meta.KindCompact && t.isFullCompaction(last))
    assert(live(t).forall(_.file.level == 1))
    assert(t.read.count() == 503L)
  }

  /** One merge-engine configuration of the differential spec. */
  private case class Engine(name: String, options: Map[String, String])

  private val engines = Seq(
    Engine("deduplicate", Map.empty),
    Engine("deduplicate+sequence.field", Map("sequence.field" -> "ts")),
    Engine("partial-update", Map("merge-engine" -> "partial-update")),
    Engine("aggregation(sum)", Map("merge-engine" -> "aggregation",
      "fields.v.aggregate-function" -> "sum")),
    Engine("first-row", Map("merge-engine" -> "first-row")))

  engines.zipWithIndex.foreach { case (engine, ei) =>
    test(s"differential: partial compaction after every commit equals an " +
      s"uncompacted twin (${engine.name})") {
      val rnd = new scala.util.Random(7919L * (ei + 1))
      val opts = Map("bucket" -> "2") ++ engine.options
      val t = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"), options = opts)
      val twin = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"), options = opts)
      def both(rs: Seq[(Long, java.lang.Long, String, Long, Byte)]): Unit = {
        t.writeKinded(rows(rs)); twin.writeKinded(rows(rs))
      }
      // keys 0..999 live only in the level-1 run until touched
      val seedRows = (0L until 1000L).map(k =>
        (k, java.lang.Long.valueOf(k), s"seed$k", 10L, Meta.KindInsert))
      both(seedRows)
      t.compact()
      var nextKey = 1000L
      var partialRetraction = false
      var partialWithBottom = false
      (1 to 14).foreach { step =>
        val batch = (1 to 6).map { _ =>
          val r = rnd.nextInt(10)
          val key =
            if (r < 3) { nextKey += 1; nextKey } // fresh key
            else if (r < 6) rnd.nextInt(1000).toLong // often level-1 only
            else 990L + rnd.nextInt(nextKey.toInt - 989).toLong
          val kind =
            if (r == 7 || r == 4) Meta.KindDelete
            else if (r == 8) Meta.KindUpdateBefore
            else if (r == 9) Meta.KindUpdateAfter
            else Meta.KindInsert
          val v: java.lang.Long =
            if (rnd.nextInt(4) == 0) null else java.lang.Long.valueOf(rnd.nextInt(1000))
          val s = if (rnd.nextInt(4) == 0) null else s"s$step-${rnd.nextInt(100)}"
          (key, v, s, rnd.nextInt(30).toLong, kind)
        }.groupBy(_._1).values.map(_.head).toSeq
        both(batch)
        compactIfNeededChecked(t, trigger = 3)
        val es = live(t)
        val partial = es.filter(_.file.level >= 2)
        if (partial.nonEmpty && es.exists(_.file.level == 1)) partialWithBottom = true
        if (partial.nonEmpty && t.readRaw(partial)
            .filter(col(Meta.KindCol).isin(Meta.KindDelete, Meta.KindUpdateBefore))
            .count() > 0) partialRetraction = true
        val want = sorted(twin.read)
        assert(sorted(t.read) == want, s"step $step read")
        val wantByKey = want.map(r => r.getLong(0) -> r).toMap
        val probes = batch.map(_._1).take(2) ++ Seq(rnd.nextInt(1000).toLong)
        probes.foreach { k =>
          val exp = wantByKey.get(k).toSeq
          assert(sorted(t.lookup(Map("k" -> k))) == exp, s"step $step lookup k=$k")
          assert(t.localLookup(Map("k" -> k)).map(r =>
            Row(r.getLong(0), r.get(1), r.get(2), r.get(3))) == exp,
            s"step $step localLookup k=$k")
        }
      }
      assert(partialWithBottom, "some step must hold partial runs above level 1")
      // first-row ignores retractions, and the engines that fold
      // retractions into +I state leave none to keep
      if (engine.name.startsWith("deduplicate"))
        assert(partialRetraction, "a partial run must keep -D/-U winners")
      t.compact()
      assert(sorted(t.read) == sorted(twin.read))
    }
  }
}
