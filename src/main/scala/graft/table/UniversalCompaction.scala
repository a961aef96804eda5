package graft.table

import graft.core.Meta
import graft.core.Meta.{ManifestEntry, TableSchema}

/** When a (partition, bucket) compacts and which of its files merge:
  * universal compaction (reference: paimon-core .../mergetree/compact/
  * UniversalCompaction.java, plus MergeTreeCompactManager's rule that
  * only the bottom level drops deletes).
  *
  * Levels of a primary-key bucket:
  *  - 0: one sorted run per file, as commits wrote them;
  *  - 1: the fully merged bottom run. Retractions are dropped, so every
  *    reader that wants merged data without a merge ($ro, the COUNT
  *    pushdown, the Iceberg export, the full-compaction changelog's
  *    before-state) reads level 1 alone;
  *  - 2..N: partial merges of the newest runs, one run per level, level
  *    2 the newest (the reference's levels 1..maxLevel-1; its maxLevel
  *    is level 1 here). They keep -D/-U winners with their kind, since
  *    an older run may still hold the key.
  *
  * A sorted run is a key-sorted, non-overlapping set of files; a merged
  * read merges one stream per run. Runs order newest first: level-0
  * files, levels 2..N ascending, level 1. Each compaction merges a
  * newest-first prefix into one run that sits just above the next older
  * run, so every row of a newer run carries a higher `_graft_seq` than
  * every row of an older one. That keeps a partial merge a valid step
  * of the full merge for every merge function whose state combines
  * associatively ([[Policy.fullOnly]] names the ones that do not).
  *
  * Append tables have no merge order: any trigger rewrites the whole
  * bucket at level 1. */
private[graft] object UniversalCompaction {

  /** Merge `files` (all of one bucket, or of a whole table for a full
    * compaction) into a single run at `outputLevel`; level 1 is a full
    * merge. */
  final case class Pick(files: Seq[ManifestEntry], outputLevel: Int)

  /** A table's compaction triggers (reference: CoreOptions). */
  final case class Policy(
      /** `compaction.min.file-num`, else the caller's trigger: more
        * level-0 plus level-1 files than this fire. Levels 2..N do not
        * count, their number is bounded by N already. */
      minFiles: Int,
      /** `compaction.max-size-amplification-percent`: un-merged bytes
        * beyond this share of the level-1 bytes force a full merge — a
        * bucket fed by few HUGE runs compacts on size, not count: read
        * amplification is bytes re-merged per read, and a count
        * trigger alone would let 4 × 1 GB runs sit forever. */
      maxSizeAmpPct: Long,
      /** `num-sorted-run.compaction-trigger`: fires at this many sorted
        * runs, the merge-read fan-in. Opt-in here (the reference
        * defaults to 5 because its reads always merge every run; the
        * count trigger already bounds fan-in). */
      sortedRunTrigger: Option[Int],
      /** `compaction.total-size-threshold` (reference: "if the total
        * size ... is less than this threshold, full compaction will be
        * triggered directly"): a fragmented bucket smaller than this
        * merges whole without waiting for count triggers. */
      totalSizeBelow: Option[Long],
      /** `compaction.delete-ratio-threshold` (reference default 0.2 in
        * its DV mode): when deletion vectors hide more than this share
        * of a bucket's rows, a full rewrite reclaims the space and
        * drops the DV overhead. */
      deleteRatio: Option[Double],
      /** Every compaction must be full (see [[policy]]). */
      fullOnly: Boolean) {
    /** N, the highest partial level. */
    def maxLevel: Int = math.max(2, minFiles)
  }

  def policy(sch: TableSchema, trigger: Int): Policy = {
    val o = sch.options
    def on(key: String) = o.get(key).contains("true")
    Policy(
      minFiles = o.get("compaction.min.file-num").map(_.toInt).getOrElse(trigger),
      maxSizeAmpPct = o.getOrElse("compaction.max-size-amplification-percent", "200").toLong,
      sortedRunTrigger = o.get("num-sorted-run.compaction-trigger").map(_.toInt),
      totalSizeBelow = o.get("compaction.total-size-threshold").map(Meta.parseBytes),
      deleteRatio = o.get("compaction.delete-ratio-threshold").map(_.toDouble),
      fullOnly = sch.primaryKeys.isEmpty || sch.isPostponeBucket ||
        // the changelog is the diff against the level-1 state, and
        // record-level TTL drops rows only where a rewrite sees them all
        sch.changelogProducer == "full-compaction" ||
        o.contains("record-level.expire-time") ||
        // a -D that resets a key folds into a partial run as a +I, and
        // the next merge would revive the older runs' fields under it
        on("partial-update.remove-record-on-delete") ||
        on("aggregation.remove-record-on-delete") ||
        o.contains("partial-update.remove-record-on-sequence-group"))
  }

  /** One bucket's sorted runs, newest first. */
  private def sortedRuns(es: Seq[ManifestEntry]): IndexedSeq[Seq[ManifestEntry]] = {
    val (l0, levelled) = es.partition(_.file.level == 0)
    l0.sortBy(-_.file.maxSeq).map(Seq(_)).toIndexedSeq ++
      levelled.groupBy(_.file.level).toSeq
        .sortBy { case (l, _) => if (l == 1) Int.MaxValue else l }
        .map(_._2)
  }

  private def bytes(fs: Seq[ManifestEntry]): Long = fs.map(_.file.fileSize).sum

  /** What compacting one bucket's live files `es` does, or None when no
    * trigger fires. `forceFull` asks for a full merge (files written
    * under another bucket layout re-route their rows, so no run order
    * holds for them). */
  def pick(es: Seq[ManifestEntry], p: Policy, forceFull: Boolean): Option[Pick] = {
    val bottom = bytes(es.filter(_.file.level == 1))
    val rows = es.map(_.file.rowCount).sum
    val fullTrigger =
      (bottom > 0 && (bytes(es) - bottom) * 100 > bottom * p.maxSizeAmpPct) ||
        p.totalSizeBelow.exists(th => es.size > 1 && bytes(es) < th) ||
        p.deleteRatio.exists(r => rows > 0 &&
          es.map(_.file.dvCardinality.getOrElse(0L)).sum.toDouble / rows > r)
    val runs = sortedRuns(es)
    val runTrigger = p.sortedRunTrigger.filter(runs.size >= _)
    val countTrigger = es.count(_.file.level <= 1) > p.minFiles
    if (!fullTrigger && runTrigger.isEmpty && !countTrigger) None
    else if (fullTrigger || forceFull || p.fullOnly) Some(Pick(es, 1))
    else pickRuns(runs, runTrigger, p.maxLevel)
  }

  /** Size-ratio pick (reference: UniversalCompaction.pickForSizeRatio +
    * createUnit, size ratio 1%): every level-0 run, extended by the next
    * older run while the picked bytes × 1.01 reach its bytes. */
  private def pickRuns(
      runs: IndexedSeq[Seq[ManifestEntry]], runTrigger: Option[Int],
      maxLevel: Int): Option[Pick] = {
    def level(i: Int) = runs(i).head.file.level
    // a fired run trigger takes enough runs to end up below it
    var n = (runs.count(_.head.file.level == 0) +:
      runTrigger.map(t => runs.size - t + 2).toSeq).max.max(1).min(runs.size)
    var size = bytes(runs.take(n).flatten)
    while (n < runs.size && size * 1.01 >= bytes(runs(n))) {
      size += bytes(runs(n)); n += 1
    }
    // the output sits just above the next older run; right above level
    // 2 there is no free level, so level 2 joins the pick
    if (n < runs.size && level(n) == 2) n += 1
    if (n == runs.size) Some(Pick(runs.flatten, 1))
    // one non-level-0 run alone would only be copied to another level
    else if (n == 1 && level(0) != 0) None
    else Some(Pick(runs.take(n).flatten, level(n) match {
      case 1 => (maxLevel +: runs.take(n).map(_.head.file.level)).max
      case next => next - 1
    }))
  }
}
