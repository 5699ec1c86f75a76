package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region. `parent` is -1 for a root; `pass` is the pass id the
  * span was opened in. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

object Span {
  /** Self time of every span: its own length minus its children's. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

/** Counters summed over the tasks of some set of jobs. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var fetchWaitMs = 0L; var inputRecords = 0L

  def copy(): Counters = { val c = new Counters; c.add(this); c }
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; fetchWaitMs += o.fetchWaitMs; inputRecords += o.inputRecords
  }
  def minus(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks; c.cpuNs -= o.cpuNs
    c.runMs -= o.runMs; c.shuffleRead -= o.shuffleRead; c.shuffleWrite -= o.shuffleWrite
    c.spill -= o.spill; c.fetchWaitMs -= o.fetchWaitMs; c.inputRecords -= o.inputRecords
    c
  }
}

/** Records every job, stage and task of the session. A job belongs to the
  * span whose id the benchmark put in the job group when the job started.
  * Events arrive on the listener-bus thread; readers take the same lock. */
final class JobListener extends SparkListener {
  private val lock = new Object
  private val total = new Counters
  private val bySpan = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  // (start ms, end ms) of each job; end is -1 while running
  private val jobTimes = ArrayBuffer[Array[Long]]()
  private val jobIndex = mutable.Map[Int, Int]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt).getOrElse(-1)

  private def at(span: Int): Seq[Counters] =
    if (span < 0) Seq(total) else Seq(total, bySpan.getOrElseUpdate(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val span = spanOf(e.properties)
    e.stageIds.foreach(s => stageSpan(s) = span)
    at(span).foreach(_.jobs += 1)
    jobIndex(e.jobId) = jobTimes.size
    jobTimes += Array(e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobIndex.remove(e.jobId).foreach(i => jobTimes(i)(1) = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    at(stageSpan.getOrElse(e.stageInfo.stageId, -1)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    at(stageSpan.getOrElse(e.stageId, -1)).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def snapshot(): Counters = lock.synchronized(total.copy())
  def forSpan(id: Int): Counters = lock.synchronized(bySpan.get(id).map(_.copy()).getOrElse(new Counters))

  /** Milliseconds of [fromMs, toMs] during which no job was running. */
  def idleMs(fromMs: Long, toMs: Long): Double = lock.synchronized {
    val iv = jobTimes.map(t => (math.max(t(0), fromMs), if (t(1) < 0) toMs else math.min(t(1), toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (toMs - fromMs - busy).toDouble
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  val JobGroupKey = "spark.jobGroup.id"
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Spans kept in memory for the whole run, written when the run ends, and
  * the session's job listener. With `enabled` false, `span` only runs its
  * body. */
final class Tracer(sc: SparkContext) {
  val listener = new JobListener
  sc.addSparkListener(listener)
  var enabled = false
  var pass = 0
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), pass, System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.JobGroupKey)
      sc.setLocalProperty(Tracer.JobGroupKey, Tracer.GroupPrefix + s.id)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.JobGroupKey, prev)
      }
    }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Jobs started so far in the session. */
  def jobs(): Long = { drain(); listener.snapshot().jobs }

  /** Spans of one pass whose name starts with `prefix`. */
  def named(pass: Int, prefix: String): Seq[Span] =
    spans.toSeq.filter(s => s.pass == pass && s.name.startsWith(prefix))

  def toJsonLines: Seq[String] = spans.toSeq.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}""")
}
