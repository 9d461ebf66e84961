package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed call into the engine. Times are epoch milliseconds with
  * sub-millisecond digits (see [[Spans.now]]); `cpuMs` is the CPU time the
  * whole process spent during the call (driver and, in local mode, the
  * executors). */
final case class OpSample(slot: String, opId: Int, start: Double,
    constructEnd: Double, end: Double, items: Int, resultRows: Long,
    gcMs: Long, cpuMs: Double) {
  def ms: Double = end - start
}

/** Drives a workload's calls, times them, checks their outputs and, in a
  * traced run, records one span per call with its construct and exec
  * children. A workload names two operation slots, `primary` and
  * `secondary`; the harness reports every metric per slot. */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  val spans = new Spans
  val fails = new Stats.FailureCount
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val recorder: Option[Recorder] =
    if (traced) Some(new Recorder(spark).register()) else None
  private var nextOp = 0
  private var recording = false

  def now: Double = spans.now

  /** From here on, calls are timed samples. */
  def recordingNow: Boolean = recording
  def startRecording(): Unit = recording = true
  def stopRecording(): Unit = recording = false

  /** One call: `construct` returns the facade's result (for most calls a
    * lazy DataFrame), `exec` materializes it, and `check` inspects the
    * materialized value outside the timed interval, returning a failure
    * reason or None. A call that throws counts as failed too. */
  def op[A, B](slot: String, items: Int)(construct: => A)(exec: A => B)(
      rows: B => Long)(check: B => Option[String]): Option[B] = {
    val opId = nextOp; nextOp += 1
    val gc0 = Harness.gcMs()
    val cpu0 = Harness.cpuNanos()
    val t0 = now
    try {
      val a = construct
      val t1 = now
      val b = exec(a)
      val t2 = now
      val cpuMs = (Harness.cpuNanos() - cpu0) / 1e6
      val gc = Harness.gcMs() - gc0
      val n = rows(b)
      if (recording) {
        samples += OpSample(slot, opId, t0, t1, t2, items, n, gc, cpuMs)
        if (traced) {
          val root = spans.add(-1, opId, slot, t0, t2)
          spans.add(root, opId, "construct", t0, t1)
          spans.add(root, opId, "exec", t1, t2)
        }
      }
      val verdict = try check(b) catch {
        case e: Exception => Some(s"$slot check threw ${e.getClass.getSimpleName}")
      }
      if (recording) verdict match {
        case None => fails.ok()
        case Some(reason) => fails.fail(reason)
      }
      verdict.foreach(r => System.err.println(s"[perfbench] check failed: $r"))
      Some(b)
    } catch {
      case e: Exception =>
        if (recording) fails.fail(s"$slot threw ${e.getClass.getSimpleName}")
        System.err.println(s"[perfbench] $slot failed: $e")
        None
    }
  }

  /** A check counted against the failure ratio that is not tied to a timed
    * call (for example a recall floor or a post-run invariant). */
  def verify(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case _: Exception => false }
    if (passed) fails.ok() else {
      fails.fail(name)
      System.err.println(s"[perfbench] check failed: $name")
    }
  }

  def timedMs(f: => Unit): Double = {
    val t0 = now; f; now - t0
  }

  def of(slot: String): Seq[OpSample] = samples.filter(_.slot == slot).toSeq
}

object Harness {
  /** CPU time of the whole process. Unlike wall time it does not grow
    * while the host runs other tenants on this machine's CPUs (steal). */
  def cpuNanos(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Time the JIT compilers have spent compiling so far. */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Driver heap in MB after forced collections. Spark frees unpersisted
    * blocks and unreferenced broadcasts asynchronously after a collection,
    * so it collects again until the heap stops shrinking. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var last = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < last * 0.99 && rounds < 5) {
      last = used; Thread.sleep(200); used = collect(); rounds += 1
    }
    used / (1024.0 * 1024.0)
  }

  def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage
}
