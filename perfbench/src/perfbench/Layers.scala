package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced ops, from the spans, the listener's
  * jobs and stages, and the counting FileIO's calls.
  *
  * A unit is one op span, or one compacting `table.compact` span (op
  * kind `compact`). Each metric is the mean over the units of a kind and
  * is keyed `<kind>.<layer>.<metric>`; kind `all` pools every op. */
object Layers {

  /** Layer spans the workloads record, named `<layer>.<what>`. */
  private val LayerPrefixes = Seq("table.", "sources.", "operators.")

  def compute(ctx: Ctx): mutable.LinkedHashMap[String, Double] = {
    val tracer = ctx.tracer
    val l = ctx.listener.get
    l.settle()
    val spans = tracer.spans.synchronized(tracer.spans.filter(_.end >= 0).toList)
    val children = spans.groupBy(_.parent)
    def descendants(s: Span): List[Span] =
      children.getOrElse(s.id, Nil).flatMap(c => c :: descendants(c))
    val jobsBySpan = l.jobs.values.asScala.toSeq.filter(_.end >= 0).groupBy(_.span)

    /** sums and sample counts: per-op metrics count every unit, layer
      * span times only the units the span occurred in */
    final class Acc {
      val m = mutable.LinkedHashMap.empty[String, Double]
      val n = mutable.HashMap.empty[String, Int]
      def add(k: String, v: Double, count: Int = 1): Unit = {
        m(k) = m.getOrElse(k, 0.0) + v
        n(k) = n.getOrElse(k, 0) + count
      }
    }
    val perKind = mutable.LinkedHashMap.empty[String, (Int, Acc)]

    def unitOf(kind: String, u: Span): Unit = {
      val ds = descendants(u)
      val inUnit = (u :: ds).map(_.id).toSet
      val jobs = inUnit.toSeq.flatMap(id => jobsBySpan.getOrElse(id, Nil))
      val stages = jobs.flatMap(j => l.stagesOf(j.id))
      val a = new Acc
      def clip(lo: Long, hi: Long): Option[(Long, Long)] = {
        val s = math.max(lo, u.start); val e = math.min(hi, u.end)
        if (e > s) Some((s, e)) else None
      }
      def union(iv: Seq[(Long, Long)]): Double = {
        var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        iv.sortBy(_._1).foreach { case (s, e) =>
          if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
        if (curE > curS) total += curE - curS
        total / 1e6
      }
      val jobIv = jobs.flatMap(j => clip(tracer.nanoOf(j.start), tracer.nanoOf(j.end)))
      a.add("wall_ms", u.ms)
      // per-op metrics: every unit counts, zeros included
      a.add("spark.jobs", jobs.size)
      a.add("spark.stages", stages.size)
      a.add("spark.tasks", stages.map(_.tasks).sum)
      a.add("spark.driver_gap_ms", math.max(0.0, u.ms - union(jobIv)))
      a.add("spark.task_ms", stages.map(_.taskMs).sum)
      a.add("spark.input_bytes", stages.map(_.inputBytes).sum)
      a.add("spark.input_records", stages.map(_.inputRecords).sum)
      a.add("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum)
      a.add("spark.shuffle_read_bytes", stages.map(_.shuffleRead).sum)
      a.add("spark.spill_bytes", stages.map(_.spill).sum)
      a.add("spark.gc_ms", stages.map(_.gcMs).sum)
      a.add("spark.output_bytes", stages.map(_.outputBytes).sum)
      val core = ds.filter(_.name.startsWith("core."))
      def calls(n: String*) = core.filter(s => n.contains(s.name))
      a.add("core.meta_reads", calls("core.read").size)
      a.add("core.meta_read_bytes", calls("core.read").map(_.bytes).sum)
      a.add("core.meta_writes", calls("core.write", "core.cas").size)
      a.add("core.meta_write_bytes", calls("core.write", "core.cas").map(_.bytes).sum)
      a.add("core.meta_lists", calls("core.list").size)
      a.add("core.meta_io_ms", union(core.flatMap(s => clip(s.start, s.end))))
      a.add("core.cas_attempts", calls("core.cas").size)
      a.add("core.cas_conflicts", calls("core.cas").count(!_.ok))
      // layer spans: total and self time (minus core IO and Spark jobs
      // inside them)
      val isOp = u.parent == -1
      val layerSpans = (if (isOp) ds else u :: ds).filter(s => LayerPrefixes.exists(s.name.startsWith))
      layerSpans.foreach { s =>
        val sub = descendants(s)
        val subIds = (s :: sub).map(_.id).toSet
        val inner = sub.filter(_.name.startsWith("core.")).flatMap(c => clip(c.start, c.end)) ++
          subIds.toSeq.flatMap(id => jobsBySpan.getOrElse(id, Nil))
            .flatMap(j => clip(tracer.nanoOf(j.start), tracer.nanoOf(j.end)))
        a.add(s"${s.name}_ms", s.ms)
        a.add(s"${s.name}_self_ms", math.max(0.0, s.ms - union(inner)))
      }
      if (isOp) {
        val direct = children.getOrElse(u.id, Nil)
          .filter(s => LayerPrefixes.exists(s.name.startsWith))
          .flatMap(s => clip(s.start, s.end))
        a.add("unattributed_ms", math.max(0.0, u.ms - union(direct)))
      }
      val (n, acc) = perKind.getOrElseUpdate(kind, (0, new Acc))
      perKind(kind) = (n + 1, acc)
      // a span occurring twice in one op counts once, with its summed time
      a.m.foreach { case (k, v) => acc.add(k, v) }
    }

    spans.filter(_.parent == -1).foreach { op =>
      unitOf(op.name, op)
      unitOf("all", op)
    }
    spans.filter(_.name == "table.compact").foreach(s => unitOf("compact", s))

    val out = mutable.LinkedHashMap.empty[String, Double]
    perKind.foreach { case (kind, (n, acc)) =>
      out(s"$kind.ops") = n
      acc.m.foreach { case (k, v) => out(s"$kind.$k") = v / acc.n(k) }
    }
    // tracing overhead: traced minus untraced median op wall time,
    // rounds alternating between the two
    val kinds = ctx.lat.keys.toSeq
    def overhead(ks: Seq[String], prefix: String): Unit = {
      val t = ks.flatMap(k => ctx.ms(k, Some(true)))
      val u = ks.flatMap(k => ctx.ms(k, Some(false)))
      if (t.nonEmpty && u.nonEmpty) {
        val d = Stats.median(t) - Stats.median(u)
        out(s"$prefix.trace_overhead_ms") = d
        out(s"$prefix.trace_overhead_pct") = 100.0 * d / Stats.median(u)
      }
    }
    kinds.foreach(k => overhead(Seq(k), k))
    overhead(kinds.filterNot(ctx.composites), "all")
    ctx.extra.foreach { case (k, v) => out(k) = v }
    out
  }
}
