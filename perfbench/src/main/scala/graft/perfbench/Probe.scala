package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Measures the engine from outside: a SparkListener for jobs, stages
  * and tasks, and in-memory spans the harness opens around its own calls
  * into each layer. Nothing inside the engine is instrumented. Every
  * record carries an epoch-ms timestamp so it can be attributed
  * afterwards to the operation whose window contains it.
  *
  * Catalyst's phases come from spans too: the harness forces the
  * analyzed, optimized and executed plans one at a time. A
  * QueryExecutionListener would miss them, because the batch drain runs
  * `queryExecution.toRdd`, which is not a Dataset action. */
final class Probe(spark: SparkSession) {
  import Probe._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val spans = new ConcurrentLinkedQueue[Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageInfos.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, n) =>
        jobs.add(JobRec(t0, e.time, n)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(TaskRec(e.taskInfo.finishTime, m.executorCpuTime,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  def install(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Detach, after giving the listener bus time to deliver what is queued. */
  def remove(): Unit = {
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
  }

  private val ids = new java.util.concurrent.atomic.AtomicInteger
  /** Runs `body` (given the new span's id) inside a span. */
  def span[T](trace: Int, parent: Int, name: String)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val w = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(trace, id, parent, name, w, t0, System.nanoTime()))
  }

  /** Spark activity whose end falls in [t0Ms, t1Ms]. */
  def window(t0Ms: Long, t1Ms: Long): Window = Window(
    jobs.asScala.filter(j => j.endMs >= t0Ms && j.endMs <= t1Ms).toSeq,
    tasks.asScala.filter(t => t.endMs >= t0Ms && t.endMs <= t1Ms).toSeq)

  /** Spans as JSON lines, written when the run ends. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.t0Ns).map { s =>
      s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.t0Ms},"dur_ms":${s.ms}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Probe {
  final case class JobRec(startMs: Long, endMs: Long, stages: Int)
  final case class TaskRec(endMs: Long, cpuNs: Long, inputB: Long,
                           shuffleB: Long, spillB: Long)
  final case class Span(trace: Int, id: Int, parent: Int, name: String,
                        t0Ms: Long, t0Ns: Long, t1Ns: Long) {
    def ms: Double = (t1Ns - t0Ns) / 1e6
  }
  final case class Window(jobs: Seq[JobRec], tasks: Seq[TaskRec]) {
    def jobMs: Double = jobs.map(j => (j.endMs - j.startMs).toDouble).sum
  }
}

/** Process-wide counters sampled before and after a measured window. */
object Counters {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
  /** Heap and non-heap in use after a full collection: what the process
    * keeps (caches, blocks, views, generated classes) once garbage is
    * gone. */
  def retainedMb: Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }
  def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
