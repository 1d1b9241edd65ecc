package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval around a call into the engine. The layer is the
  * name's prefix (`storage.build` belongs to `storage`); spans of one
  * request share `request`. */
final case class Span(id: Int, name: String, request: Long, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span (or summed over several). */
final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    failedTasks: Int = 0, jobWallMs: Double = 0, runMs: Double = 0,
    cpuMs: Double = 0, inputBytes: Long = 0, inputRecords: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, gcMs: Double = 0, schedDelayMs: Double = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    failedTasks + o.failedTasks, jobWallMs + o.jobWallMs, runMs + o.runMs,
    cpuMs + o.cpuMs, inputBytes + o.inputBytes, inputRecords + o.inputRecords,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, gcMs + o.gcMs, schedDelayMs + o.schedDelayMs)
  def shuffled: Boolean = shuffleWriteBytes > 0
}

/** Records, per Spark job, its job group, submission/end time and the
  * task metrics of its stages. Events arrive asynchronously; [[drain]]
  * waits for the bus to catch up before anything is read. */
final class JobListener extends SparkListener {
  private final class JobRec(val group: Option[String], val submitMs: Long,
      val stageIds: Seq[Int]) { @volatile var endMs: Long = -1 }
  private final class StageAgg {
    var tasks, failed = 0
    var runMs, cpuNs, inBytes, inRecs, shRead, shWrite, spill, gcMs = 0L
    var schedMs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, new JobRec(g, e.time, e.stageIds))
    lastEventNs = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastEventNs = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecs += m.inputMetrics.recordsRead
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        // the UI's scheduler delay: task wall not spent deserializing,
        // running, serializing or fetching the result
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment (at most `maxMs`). */
  def drain(maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def settled = jobs.values.asScala.forall(_.endMs >= 0) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** (group, submitMs, work) per job. */
  def jobWork: Seq[(Option[String], Long, Work)] = jobs.asScala.toSeq.map { case (_, j) =>
    val ran = j.stageIds.flatMap(s => Option(stages.get(s)))
    val w = ran.foldLeft(Work(jobs = 1, jobWallMs = math.max(0L, j.endMs - j.submitMs).toDouble)) {
      (acc, a) => a.synchronized {
        acc + Work(stages = 1, tasks = a.tasks, failedTasks = a.failed,
          runMs = a.runMs.toDouble, cpuMs = a.cpuNs / 1e6, inputBytes = a.inBytes,
          inputRecords = a.inRecs, shuffleReadBytes = a.shRead,
          shuffleWriteBytes = a.shWrite, spillBytes = a.spill,
          gcMs = a.gcMs.toDouble, schedDelayMs = a.schedMs.toDouble)
      }
    }
    (j.group, j.submitMs, w)
  }
}

/** Spans kept in memory. Disabled, [[span]] only runs its body. Enabled,
  * every span sets a Spark job group so the listener can attribute jobs to
  * it; jobs submitted from threads that do not carry the group (the
  * engine's concurrent build stages) fall back to the innermost span open
  * at their submission time. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private final case class Open(id: Int, name: String, request: Long,
      parent: Int, startNs: Long, startMs: Long)
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Open] = Nil
  private var nextId = 1
  private val listener = if (enabled) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)

  private def group(id: Int) = s"perfbench-$id"

  def span[A](name: String, request: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.headOption
      val o = Open(nextId, name,
        if (request >= 0) request else parent.map(_.request).getOrElse(0L),
        parent.map(_.id).getOrElse(0), System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      open = o :: open
      sc.setJobGroup(group(o.id), name, interruptOnCancel = false)
      try body
      finally {
        done += Span(o.id, o.name, o.request, o.parent, o.startNs, System.nanoTime(),
          o.startMs, System.currentTimeMillis())
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Spark work per span id, each job counted once, on its innermost span. */
  def workBySpan(): Map[Int, Work] = listener match {
    case None => Map.empty
    case Some(l) =>
      l.drain()
      val byId = done.map(s => s.id -> s).toMap
      def contains(s: Span, ms: Long) = s.startMs <= ms && ms <= s.endMs
      l.jobWork.flatMap { case (g, submitMs, w) =>
        val tagged = g.filter(_.startsWith("perfbench-"))
          .flatMap(x => byId.get(x.stripPrefix("perfbench-").toInt))
          .filter(contains(_, submitMs))
        val owner = tagged.orElse(
          done.filter(contains(_, submitMs)).sortBy(s => (-s.startNs, s.id)).headOption)
        owner.map(_.id -> w)
      }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Span duration minus the part its children cover (children of one
    * span never overlap: the benchmark calls the engine from one thread). */
  def selfMs: Map[Int, Double] = {
    val childMs = done.groupMapReduce(_.parent)(_.ms)(_ + _)
    done.map(s => s.id -> math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Work of a span and all its descendants. */
  def inclusive(work: Map[Int, Work]): Map[Int, Work] = {
    val kids = done.groupBy(_.parent)
    val memo = scala.collection.mutable.Map.empty[Int, Work]
    def go(id: Int): Work = memo.getOrElseUpdate(id,
      kids.getOrElse(id, Nil).foldLeft(work.getOrElse(id, Work()))((acc, c) => acc + go(c.id)))
    done.map(s => s.id -> go(s.id)).toMap
  }
}
