package perfbench

import scala.collection.mutable

/** Turns a run's samples, jobs and spans into its metrics. */
object Report {

  val Slots: Seq[String] = Seq("primary", "secondary")

  /** per-layer metrics that only some workloads produce; the others
    * report them as 0 */
  val PerLayerDefaults: Seq[(String, String)] = Seq(
    "core.layout_files" -> "count", "core.layout_bytes" -> "B",
    "core.generations" -> "count", "core.write_amp" -> "ratio",
    "core.bytes_rewritten_per_compact" -> "B",
    "prep.candidate_pairs" -> "count", "prep.verified_pairs" -> "count",
    "prep.verify_yield" -> "ratio")

  /** The end-to-end metrics every workload prints, by name. */
  def endToEnd(h: Harness, wl: Workload, setups: Seq[Double], heapMb: Double,
      recall: Double): mutable.LinkedHashMap[String, Metric] =
    mutable.LinkedHashMap(
      "setup_s" -> Metric(Stats.median(setups), "s"),
      "primary_ms.p50" -> Metric(p50(h.of("primary")), "ms"),
      "secondary_ms.p50" -> Metric(p50(h.of("secondary")), "ms"),
      "items_per_s" -> Metric(cycleItemsPerS(h, wl.callsPerCycle), "1/s"),
      "recall" -> Metric(recall, "ratio"),
      "heap_retained_mb" -> Metric(heapMb, "MB"))

  private def p50(ss: Seq[OpSample]): Double =
    if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.ms))

  /** Items answered per second of one whole cycle, each call at its median
    * time: the items of the cycle's calls over the sum of their medians.
    * The mix of calls is the cycle's, not whatever the window happened to
    * cut off, so a run that ends mid-cycle weighs the slots the same. */
  def cycleItemsPerS(h: Harness, calls: Map[String, Int]): Double =
    Stats.cycleRate(calls.toSeq.map { case (slot, n) =>
      val ss = h.of(slot)
      (n, if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.items.toDouble)), p50(ss))
    })

  /** The same figures under the engine's own operation names: per call, a
    * median plus the highest percentile with at least ten samples beyond
    * it, each with its sample count. */
  def named(h: Harness, wl: Workload, heapMb: Double,
      setups: Seq[Double]): mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> Stats.median(setups))
    for ((slot, op) <- Seq("primary" -> wl.primaryOp, "secondary" -> wl.secondaryOp)) {
      val ms = h.of(slot).map(_.ms)
      out(s"$op.samples") = ms.size
      if (ms.nonEmpty) {
        out(s"${op}_ms.p50") = Stats.median(ms)
        out(s"${op}_cpu_ms.p50") = Stats.median(h.of(slot).map(_.cpuMs))
        Stats.reportablePercentile(ms.size).foreach { p =>
          out(s"${op}_ms.p$p") = Stats.quantile(ms, p / 100.0) }
        val ss = h.of(slot)
        if (ss.exists(_.items > 0))
          out(s"${op}_items_per_s") = cycleItemsPerS(h, Map(slot -> 1))
        out(s"$op.rows_per_call") = ss.map(_.resultRows).sum.toDouble / ss.size
      }
    }
    out(wl.recallName) = wl.recall
    out("heap_retained_mb") = heapMb
    val cpuS = h.samples.map(_.cpuMs).sum / 1000
    if (cpuS > 0) out("items_per_cpu_s") = h.samples.map(_.items).sum / cpuS
    out
  }

  /** Per-layer metrics of a traced run, and its spans. Each call's span
    * has a construct and an exec child; every Spark job whose start falls
    * inside the call is a child of whichever of the two contains it. */
  def layers(h: Harness, rec: Recorder)
      : (mutable.LinkedHashMap[String, Metric], Seq[Map[String, Any]]) = {
    val jobs = rec.allJobs.filter(_.end >= 0)
    def jobsIn(s: OpSample): Seq[JobRec] =
      jobs.filter(j => j.start >= math.floor(s.start) && j.start <= s.end)
    val out = mutable.LinkedHashMap.empty[String, Metric]
    var pairsAll = 0L
    var taskMsAll = 0L
    for (slot <- Slots) {
      val ss = h.of(slot)
      val n = math.max(1, ss.size).toDouble
      val js = ss.map(jobsIn)
      def per(f: JobRec => Long): Double = js.map(_.map(f).sum).sum / n
      def put(k: String, v: Double, unit: String): Unit = out(s"$k") = Metric(v, unit)
      put(s"spark.$slot.jobs", js.map(_.size).sum / n, "count")
      put(s"spark.$slot.stages", per(_.stages.toLong), "count")
      put(s"spark.$slot.tasks", per(_.tasks.toLong), "count")
      put(s"spark.$slot.task_ms", per(_.taskMs), "ms")
      put(s"spark.$slot.job_wall_ms", per(j => j.end - j.start), "ms")
      put(s"spark.$slot.sched_delay_ms", per(_.schedDelayMs), "ms")
      put(s"spark.$slot.shuffle_read_bytes", per(_.shuffleReadBytes), "B")
      put(s"spark.$slot.shuffle_write_bytes", per(_.shuffleWriteBytes), "B")
      put(s"spark.$slot.input_records", per(_.inputRecords), "count")
      put(s"spark.$slot.input_bytes", per(_.inputBytes), "B")
      put(s"spark.$slot.failed_tasks", per(_.failedTasks.toLong), "count")
      val selfMs = ss.zip(js).map { case (s, j) =>
        Stats.selfTime((0L, micros(s.end - s.start)),
          j.map(x => (micros(x.start - s.start), micros(x.end - s.start)))) / 1000.0
      }
      put(s"api.$slot.self_ms", selfMs.sum / n, "ms")
      put(s"api.$slot.construct_ms", ss.map(s => s.constructEnd - s.start).sum / n, "ms")
      put(s"api.$slot.exec_ms", ss.map(s => s.end - s.constructEnd).sum / n, "ms")
      val rows = ss.map(_.resultRows).sum
      val plan = rec.planStats(js.flatten.flatMap(_.sqlExec).distinct)
      put(s"index.$slot.rows_read_per_result",
        if (rows == 0) 0 else plan.scanRows.toDouble / rows, "ratio")
      pairsAll += plan.pairs
      taskMsAll += js.flatten.map(_.taskMs).sum
      if (slot == "primary") put("functions.pairs_scored", plan.pairs / n, "count")
    }
    // JVM-wide collection time during the calls: in local mode the
    // executors share the driver's JVM, so this is the GC the calls paid
    out("spark.gc_ms") = Metric(h.samples.map(_.gcMs).sum.toDouble /
      math.max(1, h.samples.size), "ms")
    out("functions.pairs_per_task_s") =
      Metric(if (taskMsAll == 0) 0 else pairsAll / (taskMsAll / 1000.0), "1/s")
    (out, spanRows(h, jobsIn))
  }

  private def micros(ms: Double): Long = math.round(ms * 1000)

  /** every span with its self time: the call, its construct and exec
    * children, and the Spark jobs under them */
  private def spanRows(h: Harness, jobsIn: OpSample => Seq[JobRec]): Seq[Map[String, Any]] = {
    val spans = new mutable.ArrayBuffer[Span]
    spans ++= h.spans.all
    var next = spans.size
    for (s <- h.samples; root <- spans.find(x => x.parent < 0 && x.opId == s.opId)) {
      val kids = spans.filter(_.parent == root.id)
      for (j <- jobsIn(s)) {
        val parent = kids.find(k => j.start >= math.floor(k.start) && j.start <= k.end)
          .getOrElse(kids.last)
        spans += Span(next, parent.id, s.opId, s"job ${j.id}", j.start.toDouble, j.end.toDouble)
        next += 1
      }
    }
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { sp =>
      val kids: Seq[(Long, Long)] = children.get(sp.id).toSeq.flatten
        .map(c => (micros(c.start), micros(c.end)))
      Map("id" -> sp.id, "parent" -> sp.parent, "op_id" -> sp.opId, "name" -> sp.name,
        "start_ms" -> sp.start, "end_ms" -> sp.end,
        "self_ms" -> Stats.selfTime((micros(sp.start), micros(sp.end)), kids) / 1000.0)
    }
  }
}
