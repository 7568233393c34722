package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The benchmark's tracing: spans around every call it makes into a
  * module's public functions, a SparkListener that assigns each Spark
  * job to the module whose source file issued the action, and a stack
  * sampler that assigns driver time spent outside jobs to modules.
  * Everything is kept in memory and written out when the run ends.
  */
object Modules {
  /** Class-name prefix → layer, most specific first. */
  private val prefixes: Seq[(String, String)] = Seq(
    "org.apache.spark.sql.graftshim." -> "graftshim",
    "graft.bronze." -> "bronze",
    "graft.meta." -> "meta",
    "graft.silver." -> "silver",
    "graft.gold." -> "gold",
    "graft.ops." -> "ops",
    "graft.ext." -> "ext",
    "graft.streaming." -> "streaming",
    "graft.Setup" -> "meta",
    "graft." -> "ops",
    "perfbench." -> "bench")

  val All: Seq[String] = Seq("bronze", "meta", "silver", "gold", "ops", "ext",
    "streaming", "graftshim", "bench")

  def of(className: String): Option[String] =
    prefixes.collectFirst { case (p, m) if className.startsWith(p) => m }

  /** Module of the innermost repo frame of a Spark call site (the long
    * form lists user frames innermost first, one per line). */
  def ofCallSite(longForm: String): String =
    longForm.split('\n').iterator
      .map { l =>
        // "app//graft.ext.AnnIndex$.probeTopK(AnnIndex.scala:610)": drop
        // the loader/module prefix and the method
        val frame = l.trim.takeWhile(_ != '(')
        val cls = frame.substring(frame.lastIndexOf('/') + 1)
        cls.substring(0, math.max(0, cls.lastIndexOf('.')))
      }
      .flatMap(of)
      .nextOption().getOrElse("bench")
}

final case class Span(id: Int, parent: Int, req: Int, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

final case class Job(id: Int, module: String, startMs: Long, var endMs: Long,
                     var tasks: Long = 0, var shuffleBytes: Long = 0)

final class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, Job] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id → module of the thread that started the query. */
  private val executions = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(executions(s.executionId) = Modules.ofCallSite(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // Adaptive execution and broadcasts submit a query's jobs from
    // Spark's own threads, so a job is attributed through its root SQL
    // execution; a job outside SQL through its result stage's call site.
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val module = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .flatMap(id => executions.get(id.toLong))
      .getOrElse(Modules.ofCallSite(
        e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")))
    jobs(e.jobId) = Job(e.jobId, module, e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      for (j <- stageJob.get(info.stageId); job <- jobs.get(j)) {
        job.tasks += info.numTasks
        Option(info.taskMetrics).foreach(m =>
          job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
      }
    }

  def snapshot(): Seq[Job] = synchronized(jobs.values.toSeq.filter(_.endMs >= 0))
}

/** Samples the client thread and the program's overlap-pool threads;
  * a sample taken while the thread waits on a Spark job is job time,
  * any other sample is driver time of the innermost module frame. */
final class Sampler(client: Thread, periodMs: Int = 5) extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile var active = false
  @volatile private var stopping = false
  val samples: mutable.HashMap[String, Long] = mutable.HashMap.empty

  private def waitingOnJob(st: Array[StackTraceElement]): Boolean =
    st.exists(f => f.getClassName.startsWith("org.apache.spark.scheduler.JobWaiter") ||
      (f.getClassName.startsWith("org.apache.spark.scheduler.DAGScheduler") &&
        f.getMethodName == "runJob"))

  private def sample(t: Thread): Unit =
    if (t.getState == Thread.State.RUNNABLE) {
      val st = t.getStackTrace
      if (!waitingOnJob(st))
        st.iterator.flatMap(f => Modules.of(f.getClassName)).nextOption()
          .foreach(m => samples.synchronized(samples(m) = samples.getOrElse(m, 0L) + 1))
    }

  override def run(): Unit = {
    val group = client.getThreadGroup
    val threads = new Array[Thread](256)
    while (!stopping) {
      if (active) {
        sample(client)
        val n = group.enumerate(threads)
        (0 until n).foreach(i =>
          if (threads(i).getName == "graft-overlap") sample(threads(i)))
      }
      Thread.sleep(periodMs.toLong)
    }
  }

  def shutdown(): Unit = { stopping = true; join() }

  def seconds(module: String): Double =
    samples.synchronized(samples.getOrElse(module, 0L)) * periodMs / 1000.0
}

final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var req = 0
  /** Whether the current request records spans (traced runs alternate). */
  private var recording = false

  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None
  val sampler: Option[Sampler] =
    if (enabled) { val s = new Sampler(Thread.currentThread()); s.start(); Some(s) } else None

  /** One client request: in a traced run every other request records
    * spans and samples, so the untraced half measures the overhead. */
  def request[T](f: => T): (T, Boolean) = {
    req += 1
    recording = enabled && req % 2 == 1
    sampler.foreach(_.active = recording)
    try (f, recording) finally {
      recording = false
      sampler.foreach(_.active = false)
    }
  }

  /** Time `f`; returns its result and wall milliseconds. */
  def span[T](name: String)(f: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = nowMs
    try {
      val r = f
      (r, nowMs - t0)
    } finally {
      val t1 = nowMs
      stack = stack.tail
      if (recording) spans += Span(id, parent, req, name, t0, t1)
    }
  }

  def finish(): Seq[Job] = {
    sampler.foreach(_.shutdown())
    listener match {
      case Some(l) =>
        org.apache.spark.perfbenchshim.BusShim.drain(sc)
        sc.removeSparkListener(l)
        l.snapshot()
      case None => Nil
    }
  }
}

object Intervals {
  /** Total length of the union of `[a, b)` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
