package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span Spark counters for the traced run.
  *
  * The benchmark opens a span around each public call it times. Opening a
  * span sets a local property on the driver thread; Spark copies local
  * properties into every job the call submits, including the broadcast and
  * subquery jobs AQE runs on other threads. Each job, stage and task is
  * therefore attributed by the property its job carried, not by call site
  * or by arrival time on the listener bus. Closing a span flushes the bus
  * before it reads the counters.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  import Recorder._

  private val stageSpan = mutable.Map.empty[Int, String]
  private val counters = mutable.Map.empty[String, Counters]
  private var seq = 0L

  private def of(id: String): Counters = counters.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
      of(id).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val c = of(id)
      c.tasks += 1
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Run `body` inside a span named `name`; returns its value and the
    * span's figures. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = synchronized { seq += 1; s"$name#$seq" }
    val gc0 = gcMillis
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    sc.setLocalProperty(Key, id)
    val out = try body finally sc.setLocalProperty(Key, null)
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    val gc = gcMillis - gc0
    org.apache.spark.PerfbenchBus.flush(sc)
    val c = synchronized(counters.remove(id).getOrElse(new Counters))
    val busy = unionMillis(c.intervals.toSeq, t0, t1)
    (out, Span(name, wall, c.jobs, c.stages, c.tasks, gc, c.spillBytes,
      math.max(0L, (t1 - t0) - busy), c.shuffleBytes, c.inputBytes,
      c.inputRecords, c.outputBytes))
  }
}

object Recorder {
  val Key = "perfbench.span"

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Figures of one closed span. `driverGapMs` is the span's wall time
    * minus the time at least one of its tasks was running. */
  case class Span(name: String, seconds: Double, jobs: Long, stages: Long,
      tasks: Long, gcMs: Long, spillBytes: Long, driverGapMs: Long,
      shuffleBytes: Long, inputBytes: Long, inputRecords: Long,
      outputBytes: Long)

  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Length of the union of `intervals` clipped to `[lo, hi]`. */
  def unionMillis(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
