package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * The last line of standard output is one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. The line before it
  * is the full report, also written to `<out>`, and a traced run writes
  * its spans there too. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      traced: Boolean, work: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"))
  }

  /** set-ups per run; the median is reported. The first set-up in a JVM
    * is cold; on dedup-batch the second is still partly so, and five put
    * the median on a warm one. One index build and layout write on
    * serve-graph takes 15 s. */
  val SetupReps: Map[String, Int] =
    Map("serve-graph" -> 1, "scan-exact" -> 3, "dedup-batch" -> 5)

  /** the pinned CPU probe of `graft.Bench`: (wall s, process CPU s) */
  def probe(spark: SparkSession): (Double, Double) = {
    val (t0, c0) = (System.nanoTime(), Harness.cpuNanos())
    spark.range(500000000L).selectExpr("sum(id * 3 + 1)").collect()
    ((System.nanoTime() - t0) / 1e9, (Harness.cpuNanos() - c0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload '${a.workload}' (known: ${Workloads.names.mkString(", ")})")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(a, spark, cpus) finally spark.stop()
  }

  def run(a: Args, spark: SparkSession, cpus: Int): Unit = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    phases("jvm_and_session") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val t = System.nanoTime(); phases(name) = (t - mark) / 1e9; mark = t
    }
    val wl = Workloads(a.workload, spark, a.seed, a.work)
    phase("generate")

    val setups = (1 to SetupReps(a.workload)).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }
    phase("setup")

    val h = new Harness(spark, a.traced)
    wl.warmup(h)
    phase("warmup")
    // the calibration probe and load average bracket the timed window
    val load0 = Harness.loadAvg()
    val probe0 = probe(spark)
    phase("probe_start")
    val (jit0, gc0) = (Harness.jitMs(), Harness.gcMs())
    h.startRecording()
    val windowStart = h.now
    val deadline = windowStart + a.seconds * 1000.0
    while (h.now < deadline) wl.cycle(h, deadline)
    val windowMs = h.now - windowStart
    val (jitWindowMs, gcWindowMs) = (Harness.jitMs() - jit0, Harness.gcMs() - gc0)
    h.stopRecording()
    phase("window")
    val heapMb = Harness.retainedHeapMb()
    wl.finish(h)
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

    val layer = mutable.LinkedHashMap.empty[String, Metric]
    val extras = mutable.LinkedHashMap.empty[String, Metric]
    var spanDoc: Seq[Map[String, Any]] = Nil
    h.recorder.foreach { rec =>
      rec.drain()
      val (metrics, spanRows) = Report.layers(h, rec)
      layer ++= metrics
      layer("spark.cached_mb") = Metric(cachedMb, "MB")
      spanDoc = spanRows
      val more = wl.tracedExtras(h)
      Report.PerLayerDefaults.foreach { case (k, u) =>
        layer(k) = more.getOrElse(k, Metric(0.0, u)) }
      extras ++= more.filter { case (k, _) => !layer.contains(k) }
    }

    phase("after_window")
    val probe1 = probe(spark)
    val load1 = Harness.loadAvg()
    wl.close()
    phase("probe_end")

    val e2e = Report.endToEnd(h, wl, setups, heapMb, wl.recall)
    val correct = h.fails.failed == 0
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced" -> a.traced, "loop" -> "closed, 1 client",
      "inputs" -> wl.inputs, "input_digest" -> wl.digest,
      "ops" -> Map("primary" -> wl.primaryOp, "secondary" -> wl.secondaryOp),
      "calibration" -> Map("nproc" -> cpus,
        "probe_start_s" -> probe0._1, "probe_start_cpu_s" -> probe0._2,
        "probe_end_s" -> probe1._1, "probe_end_cpu_s" -> probe1._2,
        "load_avg_start" -> load0, "load_avg_end" -> load1),
      "window_ms" -> windowMs,
      // JIT compilation and collection time inside the window: a run still
      // compiling hot code while timed reads slower than its peers
      "window_jit_ms" -> jitWindowMs, "window_gc_ms" -> gcWindowMs,
      "phases_s" -> phases,
      "setup_s_reps" -> setups,
      "samples_ms" -> Report.Slots.map(s => s -> h.of(s).map(_.ms)).toMap,
      "samples_cpu_ms" -> Report.Slots.map(s => s -> h.of(s).map(_.cpuMs)).toMap,
      "end_to_end" -> e2e,
      "named" -> Report.named(h, wl, heapMb, setups),
      "ops_failed_ratio" -> h.fails.ratio,
      "attempted" -> h.fails.attempted, "failed" -> h.fails.failed,
      "failures" -> h.fails.reasons)
    if (a.traced) {
      report("per_layer") = layer
      report("traced_extras") = extras
    }
    val outDir = new java.io.File(a.out)
    outDir.mkdirs()
    val tag = s"${a.workload}-s${a.seed}-t${if (a.traced) 1 else 0}"
    write(new java.io.File(outDir, s"report-$tag.json"), Json(report))
    if (a.traced) write(new java.io.File(outDir, s"spans-$tag.json"), Json(spanDoc))
    println(Json(report))
    println(Json(Map(
      "correct" -> correct,
      "attempted" -> h.fails.attempted,
      "failed" -> h.fails.failed,
      "metrics" -> (if (a.traced) layer else e2e))))
  }

  private def write(f: java.io.File, s: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}
