package graftbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task metrics summed over one measured window. */
final case class TaskTotals(cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, maxTaskCpuNs: Long, medianTaskCpuNs: Long) {
  def gcShare: Double = if (runMs > 0) gcMs.toDouble / runMs else 0.0
  def cpuSkew: Double =
    if (medianTaskCpuNs > 0) maxTaskCpuNs.toDouble / medianTaskCpuNs else 1.0
}

/** Benchmark-owned listener: records every finished task's metrics. A
  * reading drains the listener bus first, so each task is charged to the
  * window its job ran in.
  */
final class SparkMeter(spark: SparkSession) extends SparkListener {
  private val lock = new Object
  private var cpu = Vector.newBuilder[Long]
  private var run, gc, shuffle, spill = 0L

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) lock.synchronized {
      cpu += m.executorCpuTime
      run += m.executorRunTime
      gc += m.jvmGCTime
      shuffle += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  spark.sparkContext.addSparkListener(this)

  def reset(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized { cpu = Vector.newBuilder[Long]; run = 0; gc = 0; shuffle = 0; spill = 0 }
  }

  /** Totals since the last reset, after draining the bus. */
  def read(): TaskTotals = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      val c = cpu.result().sorted
      TaskTotals(c.sum, run, gc, shuffle, spill,
        if (c.isEmpty) 0L else c.last, if (c.isEmpty) 0L else c(c.size / 2))
    }
  }
}

/** Reads Spark's codegen compilation-time histogram (milliseconds per
  * compile). The histogram's reservoir keeps every sample while fewer than
  * its size have been recorded, which holds for one benchmark process.
  */
object Codegen {
  def totalMs(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum

  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
