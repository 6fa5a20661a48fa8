package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Process-level meters read from the JVM's public management beans and
  * from /proc: process CPU, collection time, heap in use after collections
  * and host CPU steal. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def cpuNs: Long = os.getProcessCpuTime

  // highest heap-in-use reported after any collection since the last reset
  private val peakAfterGc = new AtomicLong(0L)
  /** Milliseconds of collections the work itself caused (the benchmark's
    * own `System.gc()` calls left out). */
  val workGcMs = new AtomicLong(0L)
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
          .map(_.getUsed).sum
        peakAfterGc.accumulateAndGet(used, math.max)
        if (info.getGcCause != "System.gc()") workGcMs.addAndGet(info.getGcInfo.getDuration)
      }
  }
  gcBeans.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(listener, null, null))

  /** Collect, then restart the after-collection peak from the live set. */
  def resetHeapPeak(): Unit = {
    System.gc()
    peakAfterGc.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  /** Peak heap in use after collections since [[resetHeapPeak]], including
    * a final collection so a job that never triggered one still counts
    * what it left live. */
  def heapPeakMb: Double = {
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peakAfterGc.get, live) / 1048576.0
  }

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / 1048576L

  /** (steal, total) jiffies of the host's aggregate CPU line. */
  def procStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }
}

/** One timed execution of a workload's job. */
final case class Rep(wallS: Double, cpuS: Double, heapMb: Double, docs: Long,
                     parts: Map[String, Double] = Map.empty)

object Rep {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** A span: one call into the engine, or a Spark job or stage it caused. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. Spans are opened only by the
  * benchmark's own code around its calls into each module's public
  * functions; Spark jobs and stages are attached to the enclosing call
  * through a job-local property. */
object Trace {
  val SpanProperty = "perfbench.span"
  /** Job-local property marking jobs run by output checks, which the
    * scheduler figures leave out. */
  val CheckProperty = "perfbench.check"
  @volatile var on = false
  private val nextId = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Int](0)
  private var sc: SparkContext = _
  // epoch-millisecond clock of Spark events mapped onto System.nanoTime
  private val epochOffsetNs =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  def attach(context: SparkContext): Unit = sc = context
  def newId(): Int = nextId.getAndIncrement().toInt
  def epochMsToNs(ms: Long): Long = ms * 1000000L + epochOffsetNs
  def record(s: Span): Unit = done.add(s)
  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
  def clear(): Unit = done.clear()

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val id = newId()
      val parent = stack.top
      stack.push(id)
      if (sc != null) sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (sc != null) sc.setLocalProperty(SpanProperty, stack.top.toString)
        record(Span(id, parent, name, layer, t0, t1))
      }
    }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover. */
  def selfTimeByLayer(all: Seq[Span]): Seq[(String, Double)] = {
    val children = all.groupBy(_.parent)
    val self = mutable.LinkedHashMap.empty[String, Double]
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      self(s.layer) = self.getOrElse(s.layer, 0.0) + (s.endNs - s.startNs - covered) / 1e9
    }
    self.toSeq.sortBy(-_._2)
  }

  def toJson(all: Seq[Span], runId: String): String =
    all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":"$runId","name":"${Main.esc(s.name)}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]")
}

/** Task-level record kept while tracing. */
final case class TaskRec(durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         inputBytes: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long)

/** Listens on Spark's public listener bus. Always counts task attempts,
  * failures and job ends (for `fail_frac` and to wait for the bus to
  * drain); while [[Trace.on]] it also keeps task records and turns jobs and
  * stages into spans. */
final class BenchListener extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val tasksEnded = new AtomicLong
  val tasksFailed = new AtomicLong
  val lastJobEndMs = new AtomicLong
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val checkStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val events = new AtomicLong

  override def onOtherEvent(e: SparkListenerEvent): Unit = events.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = events.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = events.incrementAndGet()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobsStarted.incrementAndGet()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    if (prop(Trace.CheckProperty).contains("1")) e.stageIds.foreach(checkStages.add)
    else if (Trace.on) {
      val parent = prop(Trace.SpanProperty).map(_.toInt).getOrElse(0)
      val id = Trace.newId()
      jobSpan.put(e.jobId, (id, parent, e.time))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, t0) =>
      Trace.record(Span(id, parent, s"job ${e.jobId}", "spark.job",
        Trace.epochMsToNs(t0), Trace.epochMsToNs(e.time)))
    }
    lastJobEndMs.set(e.time)
    jobsEnded.incrementAndGet()
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val si = e.stageInfo
    if (Trace.on && !checkStages.contains(si.stageId)) {
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val parent = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(0)
        Trace.record(Span(Trace.newId(), parent, s"stage ${si.stageId}: ${si.name}",
          "spark.stage", Trace.epochMsToNs(t0), Trace.epochMsToNs(t1)))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    tasksEnded.incrementAndGet()
    if (e.taskInfo.failed) tasksFailed.incrementAndGet()
    val m = e.taskMetrics
    if (Trace.on && m != null && !checkStages.contains(e.stageId))
      tasks.add(TaskRec(e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.writeTime))
  }

  /** Block until the bus is quiet: every started job has ended and no
    * event arrived for 20 ms. An action returns after its job's events are
    * posted, but the bus may not have delivered even the job start yet, so
    * matching counts alone do not prove the records are complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var seen = -1L
    while ((jobsEnded.get < jobsStarted.get || events.get != seen) &&
           System.nanoTime() < deadline) {
      seen = events.get
      Thread.sleep(20)
    }
  }

  /** Number of task records kept so far; [[since]] returns the later ones
    * without taking them. */
  def mark: Int = tasks.size
  def since(mark: Int): Seq[TaskRec] = tasks.asScala.drop(mark).toSeq

  def takeTasks(): Seq[TaskRec] = {
    val b = Seq.newBuilder[TaskRec]
    var t = tasks.poll()
    while (t != null) { b += t; t = tasks.poll() }
    b.result()
  }
}
