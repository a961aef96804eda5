package perfbench

import org.apache.spark.sql.SparkSession

/** Harness entry point: one workload, one JVM, one client thread.
  *
  * Set-up runs [[SetupReps]] times (the last copy is kept), a warm-up
  * of the workload's own length JITs the loop's paths, then the closed
  * loop runs for the requested seconds. Untraced runs report the
  * end-to-end metrics; traced runs alternate traced and untraced rounds,
  * and report the per-layer metrics plus the tracing overhead.
  * The last line of stdout is the result JSON. */
object Main {
  val SetupReps = 3

  /** End-to-end metrics of the result line, common to every workload:
    * name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms", "rows_per_s" -> "rows/s")

  /** The workload's own reported metric each result-line name reads;
    * a name not listed reads the metric of the same name. */
  val Aliases: Map[String, Map[String, String]] = Map(
    "upsert_lookup" -> Map("op_p50_ms" -> "round_p50_ms", "op_p90_ms" -> "round_p90_ms",
      "rows_per_s" -> "upsert_rows_per_s"),
    "scan_query" -> Map("op_p50_ms" -> "query_p50_ms", "op_p90_ms" -> "query_p90_ms",
      "rows_per_s" -> "scan_rows_per_s"),
    "dedup_corpus" -> Map("op_p50_ms" -> "pass_p50_ms", "op_p90_ms" -> "pass_p90_ms",
      "rows_per_s" -> "dedup_docs_per_s"))

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = session(args)
    val code =
      try { run(spark, args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    System.exit(code)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"${a.work}/graft")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String): Workload = name match {
    case "upsert_lookup" => new UpsertLookup
    case "scan_query" => new ScanQuery
    case "dedup_corpus" => new DedupCorpus
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(spark: SparkSession, args: Args): Unit = {
    val ctx = new Ctx(spark, args)
    val w = workload(args.workload)
    for (rep <- 0 until SetupReps) {
      val dir = s"${args.work}/setup$rep"
      val t0 = System.nanoTime()
      w.setup(ctx, dir)
      ctx.setups += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps - 1) deleteTree(new java.io.File(dir))
    }
    val warm = loop(w.warmupSeconds, w)(w.round(ctx))
    ctx.measuring = true
    var round = 0
        val cpu0 = hostCpu
    val measured = loop(args.seconds, w) {
      ctx.tracing = args.trace && round % 2 == 1
      w.round(ctx)
      round += 1
    }
    ctx.tracing = false
    ctx.measuring = false
    ctx.inputs("warmup_s") = f"$warm%.3f"
    ctx.inputs("loop_s") = f"$measured%.3f"
    ctx.inputs("rounds") = round
    // CPU time the hypervisor gave to other guests while this one wanted
    // it: the host's load, which no setting here controls
    val cpu = hostCpu.zip(cpu0).map { case (a, b) => a - b }
    ctx.inputs("host.steal_pct") = f"${100.0 * cpu(7) / math.max(1L, cpu.take(8).sum)}%.2f"
    val t1 = System.nanoTime()
    w.finish(ctx)
    ctx.inputs("finish_s") = f"${(System.nanoTime() - t1) / 1e9}%.3f"
    printReport(ctx)
    val metrics =
      if (args.trace) perLayer(ctx)
      else endToEnd(ctx)
    println(resultJson(ctx, metrics))
  }

  /** Run `body` until `seconds` have passed and the workload is at a
    * cycle boundary (at least once; giving up on the boundary after
    * three times `seconds` plus 20 s); returns the seconds taken. */
  def loop(seconds: Double, w: Workload)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val cap = t0 + ((3 * seconds + 20) * 1e9).toLong
    do body while (System.nanoTime() < cap && (System.nanoTime() < end || !w.atBoundary))
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The machine's CPU time counters (the `cpu` line of /proc/stat). */
  def hostCpu: Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong).padTo(10, 0L)
    finally src.close()
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def endToEnd(ctx: Ctx): Seq[(String, Double, String)] =
    EndToEnd.map { case (name, unit) =>
      val own = Aliases(ctx.args.workload).getOrElse(name, name)
      val v = ctx.report.get(own).map(_._1).getOrElse(
        throw new IllegalStateException(s"workload reported no $own"))
      (name, v, unit)
    }

  def perLayer(ctx: Ctx): Seq[(String, Double, String)] = {
    val all = Layers.compute(ctx)
    println("---- per-layer metrics (traced rounds; mean per op) ----")
    all.foreach { case (k, v) => println(f"layer  $k%-52s $v%.4f") }
    writeTrace(ctx)
    PerLayer.names.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
  }

  /** The span log, written once the run ends, beside the build. */
  def writeTrace(ctx: Ctx): Unit = {
    val dir = new java.io.File(ctx.args.work).getParentFile.getParentFile
    val out = new java.io.File(dir, s"traces/${ctx.args.workload}-seed${ctx.args.seed}.jsonl")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      ctx.tracer.spans.foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
          s""""start_ms":${ctx.tracer.epochMs(s.start)},"end_ms":${ctx.tracer.epochMs(s.end)},""" +
          s""""bytes":${s.bytes},"ok":${s.ok}}""")
      }
      ctx.listener.foreach(_.jobs.values.forEach { j =>
        w.println(s"""{"job":${j.id},"op":${j.op},"span":${j.span},"start_ms":${j.start},"end_ms":${j.end}}""")
      })
    } finally w.close()
    println(s"trace  ${out.getPath}")
  }

  def printReport(ctx: Ctx): Unit = {
    val a = ctx.args
    println(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cpus=${a.cpus}")
    ctx.inputs.foreach { case (k, v) => println(f"input  $k%-40s $v") }
    println(f"setup  reps=${ctx.setups.size} s=${ctx.setups.map(x => f"$x%.3f").mkString(",")}")
    ctx.lat.foreach { case (k, xs) =>
      val ms = xs.map(_._1).toSeq
      println(f"op     $k%-20s n=${ms.size}%4d p50=${Stats.median(ms)}%.2f ms " +
        f"p90=${Stats.p90(ms)}%.2f ms")
      if (ctx.composites(k)) println(f"op     $k%-20s ms=${ms.map(x => f"$x%.0f").mkString(",")}")
    }
    val ratio = if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted
    ctx.put("failed_op_ratio", ratio, "failed/attempted")
    ctx.put("setup_s", Stats.median(ctx.setups.toSeq), "s")
    ctx.put("rss_peak_mb", rssPeakMb, "MB")
    ctx.report.foreach { case (k, (v, unit)) => println(f"metric $k%-28s $v%.4f $unit") }
    println(s"check  attempted=${ctx.attempted} failed=${ctx.failed}")
    ctx.failures.foreach(f => println(s"FAILED $f"))
  }

  def resultJson(ctx: Ctx, metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
