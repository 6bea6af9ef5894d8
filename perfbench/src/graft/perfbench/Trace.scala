package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, filled by Spark's public listener interfaces.
  * Nothing here reaches into graft: the spans and counts are taken at the
  * boundary between the benchmark and the engine. Every counter is a
  * running total; the harness reads deltas around each traced op
  * after draining the listener bus. */
final class Counters {
  private val longs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  /** Per-batch streaming trigger times, in arrival order. */
  val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()

  def add(name: String, n: Long): Unit =
    longs.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(n)
  def addD(name: String, x: Double): Unit =
    sums.computeIfAbsent(name, _ => new DoubleAdder()).add(x)
  def max(name: String, n: Long): Unit =
    longs.computeIfAbsent(name, _ => new AtomicLong()).accumulateAndGet(n, math.max)

  def snapshot(): Map[String, Double] =
    longs.asScala.map { case (k, v) => k -> v.get.toDouble }.toMap ++
      sums.asScala.map { case (k, v) => k -> v.sum }.toMap
}

object Trace {
  /** Engine counters from the scheduler: jobs, stages, tasks and the task
    * metrics executors report. */
  final class Engine(c: Counters) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c.add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c.add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        c.add("spark.exec_cpu_ns", m.executorCpuTime)
        c.add("spark.exec_run_ms", m.executorRunTime)
        c.add("spark.gc_ms", m.jvmGCTime)
        c.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        c.add("spark.output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Every plan node of an executed query, through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Catalyst phases and the shape and scan metrics of each executed
    * query. */
  final class Plans(c: Counters) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(name: String): Double = ph.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
      c.addD("plans.analysis_ms", ms("analysis"))
      c.addD("plans.optimize_ms", ms("optimization"))
      c.addD("plans.physical_ms", ms("planning"))
      val all = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
      all.foreach { n =>
        n.getClass.getSimpleName match {
          case "ShuffleExchangeExec" => c.add("plans.exchanges", 1)
          case "BroadcastExchangeExec" => c.add("plans.broadcasts", 1)
          case "SortMergeJoinExec" => c.add("plans.smj", 1)
          case "CartesianProductExec" => c.add("plans.cartesian", 1)
          case "FileSourceScanExec" =>
            def metric(k: String): Long =
              n.metrics.get(k).map(_.value).getOrElse(0L)
            c.add("tables.files_read", metric("numFiles"))
            c.add("tables.bytes_read", metric("filesSize"))
            c.add("tables.rows_read", metric("numOutputRows"))
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Micro-batch progress of streaming queries. */
  final class Streams(c: Counters) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      c.add("streaming.batches", 1)
      c.batchMs.add(d("triggerExecution").toDouble)
      c.add("streaming.add_batch_ms", d("addBatch"))
      c.add("streaming.wal_commit_ms", d("walCommit") + d("commitOffsets"))
      c.add("streaming.rows_in", p.numInputRows)
      c.max("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      c.max("streaming.state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  /** Attaches the three listeners (query listeners on every session in
    * `sessions`) and returns the function that detaches them again. */
  def attach(sessions: Seq[SparkSession], c: Counters): () => Unit = {
    val sc = sessions.head.sparkContext
    val engine = new Engine(c)
    val plans = new Plans(c)
    val streams = new Streams(c)
    sc.addSparkListener(engine)
    sessions.foreach(_.listenerManager.register(plans))
    sessions.head.streams.addListener(streams)
    () => {
      sc.removeSparkListener(engine)
      sessions.foreach(_.listenerManager.unregister(plans))
      sessions.head.streams.removeListener(streams)
    }
  }

  /** JVM-wide totals: GC and JIT time, and heap pool peaks. */
  def jvm(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("jvm.gc_ms" -> gc.toDouble, "jvm.jit_ms" -> jit.toDouble,
      "jvm.heap_peak_bytes" -> heapPeak.toDouble)
  }

  /** Process CPU time in nanoseconds. */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set size of this process in bytes (Linux VmHWM). */
  def rssPeakBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toLong * 1024L
      }.getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  /** Deltas between two counter snapshots. */
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap

  def batchTimes(c: Counters): Seq[Double] = c.batchMs.asScala.map(_.doubleValue).toSeq
}
