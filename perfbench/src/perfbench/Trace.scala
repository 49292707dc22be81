package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, plus Spark job
  * and task counters attributed to them. Spans live in memory and are
  * written once, at exit. When tracing is off, [[span]] only runs its
  * body. A job belongs to the span whose id is its job group; jobs that
  * run under another group (a streaming query's own thread) belong to
  * the innermost span open when they started. */
final class Trace(sc: SparkContext, val on: Boolean) {
  final case class Span(
      id: Int, name: String, layer: String, parent: Int, pass: Int,
      startMs: Long, startNs: Long, var endNs: Long = 0L)

  /** Counters of one job, summed over its tasks. */
  final class Job(val group: String, val startMs: Long) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var readBytes = 0L; var writeBytes = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var peakMem = 0L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var stack = List.empty[Span]
  var pass = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = new Job(g, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get);
           m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.readBytes += m.inputMetrics.bytesRead
        j.writeBytes += m.outputMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      }
    }
  }
  if (on) sc.addSparkListener(listener)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, name, layer,
        stack.headOption.map(_.id).getOrElse(0), pass,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits for the listener bus, then maps each job to its span. */
  def finish(): Map[Int, Seq[Job]] = {
    if (!on) return Map.empty
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(listener)
    synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      jobs.values.toSeq.flatMap { j =>
        j.group.toIntOption.filter(byId.contains).orElse {
          spans.filter(s => s.startMs <= j.startMs &&
            j.startMs <= s.startMs + (s.endNs - s.startNs) / 1000000L)
            .lastOption.map(_.id)
        }.map(_ -> j)
      }.groupMap(_._1)(_._2)
    }
  }

  /** Span id and all its descendants. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.groupMap(_.parent)(_.id)
    def go(i: Int): Set[Int] = Set(i) ++ kids.getOrElse(i, Nil).flatMap(go)
    go(id)
  }

  def seconds(s: Trace#Span): Double = (s.endNs - s.startNs) / 1e9

  /** One JSON object per span, written once. */
  def write(path: String): Unit = if (on) {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent},"pass":${s.pass},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
