package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task metrics summed over every task of the stages a span launched. */
final class StageSums {
  var bytesWritten = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var fetchWaitMs = 0L
  var cpuNs = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    bytesWritten += m.outputMetrics.bytesWritten
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.diskBytesSpilled
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    cpuNs += m.executorCpuTime
  }
}

/** Records stage and task metrics per span. A span tags the jobs it
  * launches through a local property; the listener maps each job's stages
  * and SQL execution to that tag, so attribution holds even though listener
  * events arrive asynchronously (`Tracer.drain` waits for them).
  *
  * Bytes scanned come from the Parquet scans' "size of files read" SQL
  * metric: the task input metric misses reads that Parquet's vectored IO
  * makes outside Hadoop's per-thread file-system statistics.
  */
final class LayerListener extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val executionTag = mutable.Map.empty[Long, String]
  private val filesSizeMetrics = mutable.Set.empty[Long]
  private val executionFileBytes = mutable.Map.empty[Long, Long]
  val sums = mutable.Map.empty[String, StageSums]
  /** Per stage: its tag, shuffle bytes read, and task run times (ms). */
  val stages = mutable.Map.empty[Int, (String, Long, mutable.ArrayBuffer[Long])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.Property))).foreach { tag =>
      e.stageIds.foreach(stageTag(_) = tag)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executionTag(id.toLong) = tag)
    }
  }

  private def scanMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "size of files read").foreach(filesSizeMetrics += _.accumulatorId)
    p.children.foreach(scanMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => scanMetrics(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scanMetrics(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          if (filesSizeMetrics(id))
            executionFileBytes(d.executionId) = executionFileBytes.getOrElse(d.executionId, 0L) + v
        }
      case _ =>
    }
  }

  /** File bytes the Parquet scans of `tag`'s SQL executions opened. */
  def fileBytes(tag: String): Long =
    executionFileBytes.iterator.collect { case (id, b) if executionTag.get(id).contains(tag) => b }.sum

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageTag.get(e.stageId).foreach { tag =>
      sums.getOrElseUpdate(tag, new StageSums).add(m)
      val (_, read, times) = stages.getOrElse(e.stageId, (tag, 0L, mutable.ArrayBuffer.empty[Long]))
      times += m.executorRunTime
      stages(e.stageId) = (tag, read + m.shuffleReadMetrics.totalBytesRead, times)
    }
  }
}

/** One span: a timed call into a layer, with its parent span. */
final case class SpanRec(name: String, startNs: Long, endNs: Long, parent: String, runId: String)

/** Spans around layer calls, kept in memory and written as JSON at exit. */
final class Tracer(sc: () => SparkContext, runId: String) {
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = mutable.Stack.empty[String]
  val listener = new LayerListener

  /** Time `f` as span `name`; jobs it launches are tagged `name`. Returns
    * the result and the span's wall seconds.
    */
  def span[T](name: String)(f: => T): (T, Double) = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    sc().setLocalProperty(Tracer.Property, name)
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      spans += SpanRec(name, t0, t1, parent, runId)
      (r, (t1 - t0) / 1e9)
    } finally {
      stack.pop()
      sc().setLocalProperty(Tracer.Property, stack.headOption.orNull)
    }
  }

  def sums(name: String): StageSums = {
    Tracer.drain(sc())
    listener.synchronized(listener.sums.getOrElse(name, new StageSums))
  }

  def fileBytes(name: String): Long = {
    Tracer.drain(sc())
    listener.synchronized(listener.fileBytes(name))
  }

  /** max / median task run time of the stage of `name` that read the most
    * shuffle bytes (the stage behind the salted repartition).
    */
  def taskSkew(name: String): Double = {
    Tracer.drain(sc())
    listener.synchronized {
      val tagged = listener.stages.values.filter(_._1 == name)
      if (tagged.isEmpty) 0.0
      else {
        val times = tagged.maxBy(_._2)._3.sorted
        val median = Stats.median(times.map(_.toDouble).toSeq)
        if (median <= 0) 1.0 else times.last / median
      }
    }
  }

  def json: String = spans.map { s =>
    s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":"${s.parent}","run_id":"${s.runId}"}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val Property = "perfbench.span"

  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)
}

/** JVM and host counters read around each timed call. */
object Host {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Each heap pool's peak usage since the last reset, in MB. */
  def heapPeaks(): String =
    heapPools.map(p => f"${p.getName} ${p.getPeakUsage.getUsed / 1048576.0}%.0f").mkString(", ")

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** (steal, total) jiffies from the first line of /proc/stat; (0, 0) when
    * the file is absent. Fields user..steal only: guest time is already in
    * user.
    */
  def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.lift(7).getOrElse(0L), f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(before: (Long, Long), after: (Long, Long)): Double =
    if (after._2 > before._2) (after._1 - before._1) * 100.0 / (after._2 - before._2) else 0.0

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
