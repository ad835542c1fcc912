package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Times ops for one client thread. Each op runs under its own Spark job
  * group (the op id), and each phase inside it under a `perfbench.phase`
  * local property, so the traced run attributes every job exactly.
  */
final class Runner(val spark: SparkSession, val recorder: Trace.Recorder) {
  import Runner.Sample

  val samples = ArrayBuffer.empty[Sample]
  val traced = ArrayBuffer.empty[Trace.Op]
  private var nextId = 0
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds at nanosecond resolution, on the
    * same axis as Spark's event times.
    */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  private def heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Marks the phases of the op in flight. */
  final class Phases {
    val marks = ArrayBuffer.empty[(String, Double, Double)]
    def apply[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.PhaseProp, name)
      val a = nowMs
      try body finally {
        marks += ((name, a, nowMs))
        sc.setLocalProperty(Trace.PhaseProp, null)
      }
    }
  }

  /** Run one op. With `record`, it joins the timed samples; with
    * `trace` (and the recorder on), the traced ops as well.
    */
  def op(kind: String, record: Boolean = true, trace: Boolean = false)
        (body: Phases => Unit): Sample = {
    nextId += 1
    val id = s"op$nextId"
    val sc = spark.sparkContext
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val ph = new Phases
    val (g0, j0) = if (trace) (gcMs, jitMs) else (0.0, 0.0)
    val c0 = cpuS
    val a = nowMs
    val failure =
      try { body(ph); None }
      catch { case t: Throwable =>
        Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
      }
    val b = nowMs
    val s = Sample(kind, (b - a) / 1000, cpuS - c0, failure)
    sc.clearJobGroup()
    if (record) samples += s
    if (trace) traced += Trace.Op(id, kind, a, b, ph.marks.toSeq, gcMs - g0,
      jitMs - j0, heapMb, cachedBytes,
      Runner.bytesUnder(new java.io.File(graft.operators.Artifacts.root)))
    failure.foreach(f => System.err.println(s"[perfbench] $kind failed: $f"))
    s
  }

  /** Waits, up to `maxS`, until the JIT compilers go quiet (under 20 ms
    * of compilation in a quarter second), so compilations the warm-up
    * queued do not share the cores with the timed window. Untimed.
    */
  def quiesceJit(maxS: Double): Unit = {
    val deadline = System.nanoTime() + (maxS * 1e9).toLong
    var last = jitMs
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jitMs
      quiet = now - last < 20
      last = now
    }
  }

  /** Runs `body` with the recorder on when `on`, then drains the
    * listener bus so every event of it is recorded before the recorder
    * turns off.
    */
  def tracing[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      recorder.on = true
      try body finally {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        recorder.on = false
      }
    }

  /** Bytes of cached RDD blocks resident now. */
  def cachedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Heap used after a full collection, in MB. The second collection
    * catches what the cleaner released after the first (Spark's
    * ContextCleaner frees blocks and shuffles on weak references).
    */
  def heapAfterGcMb(): Double = { settle(); System.gc(); heapMb }

  /** Lets one op's aftermath finish before the next op starts: the
    * listener bus delivers its events, and a collection plus a short
    * pause let the cleaner release what it left behind. Untimed.
    */
  def settle(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
  }
}

object Runner {
  /** One timed op: its kind, wall seconds, process CPU seconds, and
    * the failure cause when it threw.
    */
  final case class Sample(kind: String, wallS: Double, cpuS: Double,
                          failure: Option[String])

  def bytesUnder(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(bytesUnder).sum
}
