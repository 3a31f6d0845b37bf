package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one operation share
  * `run`; `parent` is the id of the enclosing span, -1 at the top.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, run: Int) {
  def secs: Double = (end - start) / 1e9
}

/** In-memory span recorder, written out once at exit. Ids are assigned in
  * opening order. `Spans.off` records nothing.
  */
class Spans {
  private val closed = mutable.Map.empty[Int, Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var run: Int = 0
  /** Duration of the most recently closed span. */
  var lastSecs: Double = 0.0

  def apply[T](name: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val start = System.nanoTime()
    try f
    finally {
      stack.pop()
      val s = Span(name, start, System.nanoTime(), parent, run)
      closed(id) = s
      lastSecs = s.secs
    }
  }

  /** Spans named `child` whose direct parent is named `parent`. */
  def countUnder(child: String, parent: String): Int =
    closed.values.count(s => s.name == child && closed.get(s.parent).exists(_.name == parent))

  def total(name: String): Double = closed.values.iterator.filter(_.name == name).map(_.secs).sum
  def count(name: String): Int = closed.values.count(_.name == name)

  /** A span's duration minus the part of it its direct children cover. */
  private def selfOf(id: Int, kids: Map[Int, Iterable[Span]]): Double =
    closed(id).secs - kids.getOrElse(id, Nil).iterator.map(_.secs).sum

  def selfSecs(name: String): Double = {
    val kids = closed.values.groupBy(_.parent)
    closed.iterator.collect { case (id, s) if s.name == name => selfOf(id, kids) }.sum
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val kids = closed.values.groupBy(_.parent)
    val lines = closed.toSeq.sortBy(_._1).map { case (id, s) =>
      s"""{"id":$id,"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"run":${s.run},"self_s":${selfOf(id, kids)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Spans {
  val off: Spans = new Spans {
    override def apply[T](name: String)(f: => T): T = f
  }
}

/** Engine counters taken from Spark's listener bus: jobs, stages, task
  * metrics, task busy intervals, cached-block storage, and the Catalyst
  * phase times of every executed query.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)] // task (launch, finish) ms
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val phaseLog = mutable.ArrayBuffer.empty[(String, Long, Long)] // (phase, start, ms)
  private val blocks = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts += e.time
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead; output += m.outputMetrics.bytesWritten
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val size = b.memSize + b.diskSize
    storageNow += size - blocks.getOrElse(b.blockId.name, 0L)
    if (size == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
    storagePeak = math.max(storagePeak, storageNow)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    p.foreach { case (name, s) => phaseLog += ((name, s.startTimeMs, s.durationMs)) }
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  def snapshot: Snap = synchronized {
    Snap(jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill,
      input, output, analysisMs, optimizationMs, planningMs)
  }

  /** Jobs started in [from, to) (wall-clock ms). */
  def jobsStarted(from: Long, to: Long): Int = synchronized(jobStarts.count(t => t >= from && t < to))

  /** Milliseconds of the named Catalyst phase that started in [from, to). */
  def phaseMs(phase: String, from: Long, to: Long): Long = synchronized {
    phaseLog.iterator.collect { case (p, s, ms) if p == phase && s >= from && s < to => ms }.sum
  }

  private def clipped(from: Long, to: Long): Seq[(Long, Long)] =
    busy.iterator.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq

  /** Task milliseconds run inside [from, to], summed over tasks. */
  def busyMs(from: Long, to: Long): Long = synchronized(clipped(from, to).map(i => i._2 - i._1).sum)

  /** Milliseconds of [from, to] during which no task ran. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    var covered = 0L; var end = from
    clipped(from, to).sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (to - from) - covered
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

final case class Snap(
    jobs: Long, stages: Long, tasks: Long, cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long, output: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, input - o.input, output - o.output,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs, planningMs - o.planningMs)
  def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, input + o.input, output + o.output,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs, planningMs + o.planningMs)
}

object Snap {
  val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

object Bus {
  /** Block until every posted listener event has been delivered, so a
    * snapshot taken after an action includes that action's events.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
    val m = bus.getClass.getMethods
      .filter(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1)
      .minBy(_.getParameterCount)
    if (m.getParameterCount == 0) m.invoke(bus)
    else m.invoke(bus, java.lang.Long.valueOf(30000L))
    ()
  }
}
