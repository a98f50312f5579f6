package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._

/** Spans around the benchmark's own calls into each layer: name, start,
  * end and parent. Kept in memory and written once when the run ends.
  * With tracing off [[span]] only runs its body.
  */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, parent: Int,
                        startNs: Long, endNs: Long)

  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val start = System.nanoTime() - origin
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, start, System.nanoTime() - origin)
      }
    }

  /** One JSON object per line, times in nanoseconds from the run start. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Counts Spark jobs, stages and task metrics with their event times, so
  * that each can be attributed to the operation whose interval holds it:
  * one closed-loop client means at most one operation is in flight.
  */
final class JobListener extends SparkListener {
  final case class Task(finishMs: Long, runMs: Long, inputRows: Long,
                        shuffleBytes: Long)

  private val jobs = ArrayBuffer.empty[Long]      // job submission times
  private val stages = ArrayBuffer.empty[Long]     // stage submission times
  private val tasks = ArrayBuffer.empty[Task]
  @volatile private var started = 0
  @volatile private var ended = 0
  @volatile private var lastEventMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time; started += 1; lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1; lastEventMs = System.currentTimeMillis()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += e.stageInfo.submissionTime.getOrElse(0L)
      lastEventMs = System.currentTimeMillis()
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
      m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten)
    lastEventMs = System.currentTimeMillis()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment (events are delivered asynchronously).
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
      (started != ended || System.currentTimeMillis() - lastEventMs < 300))
      Thread.sleep(20)
  }

  final case class Work(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                        inputRows: Long, shuffleBytes: Long)

  /** Sums the work whose event time falls inside any of the intervals
    * (inclusive, epoch milliseconds).
    */
  def within(intervals: Seq[(Long, Long)]): Work = synchronized {
    val sorted = intervals.sortBy(_._1).toArray
    def in(t: Long): Boolean = {
      var lo = 0; var hi = sorted.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid)._1 <= t) lo = mid + 1 else hi = mid - 1
      }
      hi >= 0 && t <= sorted(hi)._2
    }
    val ts = tasks.filter(t => in(t.finishMs))
    Work(jobs.count(in).toLong, stages.count(in).toLong,
      ts.size.toLong, ts.map(_.runMs).sum, ts.map(_.inputRows).sum,
      ts.map(_.shuffleBytes).sum)
  }
}

/** Process CPU, GC and wall clock over the timed phase. */
final class Phase {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val wall0 = System.nanoTime()
  private val cpu0 = os.getProcessCpuTime
  private val gcMs0 = gcs.map(_.getCollectionTime).sum
  private val gcN0 = gcs.map(_.getCollectionCount).sum

  def finish(out: ObjectNode): Unit = {
    out.put("wall_ms", (System.nanoTime() - wall0) / 1e6)
    out.put("cpu_ms", (os.getProcessCpuTime - cpu0) / 1e6)
    out.put("gc_ms", (gcs.map(_.getCollectionTime).sum - gcMs0).toDouble)
    out.put("gc_count", gcs.map(_.getCollectionCount).sum - gcN0)
  }
}
