package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: its caller is `parent` (-1 at the root). Times are
  * nanoseconds since the tracer started.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long)

/** Span recorder around calls into the engine's layers. The untraced run
  * uses [[Tracer.off]], which only evaluates the body.
  */
trait Tracer {
  def apply[T](name: String)(body: => T): T
  /** Record a finished child span of the innermost open span from wall-clock
    * milliseconds (Catalyst's planning tracker reports phases that way).
    */
  def child(name: String, startMs: Long, endMs: Long): Unit
  def spans: Seq[Span]
}

object Tracer {
  val off: Tracer = new Tracer {
    def apply[T](name: String)(body: => T): T = body
    def child(name: String, startMs: Long, endMs: Long): Unit = ()
    def spans: Seq[Span] = Nil
  }

  /** Spans kept in memory and written out when the run ends. One client
    * thread drives the run, so the open-span stack needs no locking.
    */
  def inMemory(): Tracer = new Tracer {
    private val t0 = System.nanoTime()
    private val wall0Ms = System.currentTimeMillis()
    private val done = mutable.ArrayBuffer.empty[Span]
    private var open: List[(Int, Long)] = Nil
    private var next = 0

    def apply[T](name: String)(body: => T): T = {
      val id = next
      next += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, System.nanoTime() - t0) :: open
      try body
      finally {
        val start = open.head._2
        open = open.tail
        done += Span(id, parent, name, start, System.nanoTime() - t0)
      }
    }

    def child(name: String, startMs: Long, endMs: Long): Unit = {
      val id = next
      next += 1
      def ns(ms: Long) = (ms - wall0Ms) * 1000000L
      done += Span(id, open.headOption.map(_._1).getOrElse(-1), name,
        ns(startMs), ns(endMs))
    }

    def spans: Seq[Span] = done.sortBy(_.id).toSeq
  }
}

/** Process-wide counters the listeners add to. Listeners are attached by
  * configuration (`spark.extraListeners`,
  * `spark.sql.streaming.streamingQueryListeners`,
  * `spark.sql.queryExecutionListeners`), so every session reports here.
  */
object Counters {
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val maxes = new ConcurrentHashMap[String, java.lang.Double]()
  /** Task (launch, finish) wall-clock milliseconds since the last clear. */
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def max(k: String, v: Double): Unit =
    maxes.merge(k, v, (a, b) => math.max(a, b))
  def get(k: String): Double =
    Option(sums.get(k)).map(_.sum).orElse(Option(maxes.get(k)).map(_.toDouble))
      .getOrElse(0.0)
  def snapshot(): Map[String, Double] =
    sums.asScala.map { case (k, v) => k -> v.sum }.toMap ++
      maxes.asScala.map { case (k, v) => k -> v.toDouble }

  /** Peaks are kept whole; every other counter is a running sum. */
  def isMax(k: String): Boolean = maxes.containsKey(k)

  def clearIntervals(): Unit = taskIntervals.clear()

  /** Wall-clock milliseconds of `[from, to]` during which no task ran,
    * from the intervals collected since the previous call.
    */
  def idleMs(from: Long, to: Long): Long = {
    val ivs = Iterator.continually(taskIntervals.poll())
      .takeWhile(_ != null)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) {
        covered += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    covered += curB - curA
    (to - from) - covered
  }
}

/** Dispatch, executor, shuffle, scan, sink and block-manager counts from
  * Spark's listener bus.
  */
class LayerListener extends SparkListener {
  private val Mb = 1024.0 * 1024.0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Counters.add("dispatch.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.add("dispatch.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    Counters.add("dispatch.tasks", 1)
    Counters.taskIntervals.add((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      Counters.add("exec.task_run_s", m.executorRunTime / 1e3)
      Counters.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      Counters.add("dispatch.task_overhead_s",
        math.max(0L, info.duration - m.executorRunTime) / 1e3)
      Counters.max("exec.peak_exec_mem_mb", m.peakExecutionMemory / Mb)
      Counters.add("scan.input_mb", m.inputMetrics.bytesRead / Mb)
      Counters.add("scan.input_records", m.inputMetrics.recordsRead.toDouble)
      Counters.add("sinks.write_mb", m.outputMetrics.bytesWritten / Mb)
      Counters.add("sinks.write_records", m.outputMetrics.recordsWritten.toDouble)
      Counters.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
      Counters.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
      Counters.add("shuffle.spill_disk_mb", m.diskBytesSpilled / Mb)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      Counters.add("caches.blocks_put", 1)
      Counters.add("caches.block_mb", (b.memSize + b.diskSize) / Mb)
    }
  }
}

object Planning {
  /** Add a query's analysis, optimization and physical-planning time. */
  def add(tracker: QueryPlanningTracker): Unit = {
    val phases = tracker.phases
    Seq("analysis" -> "planning.analysis_s",
      "optimization" -> "planning.optimization_s",
      "planning" -> "planning.physical_s").foreach { case (p, k) =>
      phases.get(p).foreach(s => Counters.add(k, s.durationMs / 1e3))
    }
  }
}

/** Catalyst planning time of every Dataset action the engine runs itself
  * (writes, counts, collects inside builders and the nightly steps).
  */
class PlanningListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Planning.add(qe.tracker)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    Planning.add(qe.tracker)
}

/** Micro-batch and state-store numbers from every streaming drain. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def phase(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
    Counters.add("stream.batches", 1)
    Counters.add("stream.trigger_s", phase("triggerExecution"))
    Counters.add("stream.planning_s", phase("queryPlanning"))
    Counters.add("stream.wal_s", phase("walCommit"))
    p.stateOperators.foreach { s =>
      Counters.add("stream.state_commit_s", s.commitTimeMs / 1e3)
      Counters.max("stream.state_rows", s.numRowsTotal.toDouble)
      Counters.max("stream.state_mb", s.memoryUsedBytes / (1024.0 * 1024.0))
    }
  }
}

/** JVM-wide readings: JIT compile time, GC time, Janino codegen, RSS. */
object Jvm {
  def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  def codegenCompiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount.toDouble
  def codegenSeconds: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1e9
  /** Peak resident set (VmHWM) of this process, in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
