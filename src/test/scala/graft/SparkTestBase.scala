package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one lazy SparkSession per suite, configured
  * like the driver's Verify session (UTC, small shuffle partitions). */
trait SparkTestBase extends AnyFunSuite {
  import SparkTestBase.Traced

  // lazy val (not def): `import spark.implicits._` needs a stable
  // identifier. Bound per suite instance, so a suite that starts
  // after a context death gets the rebuilt session below.
  lazy val spark: SparkSession = SparkTestBase.session
  def sf001 = "/root/testdata/sf0.001"

  /** Runs `f` and reports the Spark jobs it started (its job group's,
    * with each job's short call site) and the parquet scans of the
    * queries it ran. Listener events arrive asynchronously but in
    * order, so a marker query run after `f` fences them: once the
    * marker's job and query events have arrived, so have all of
    * `f`'s. */
  def traced[T](f: => T): Traced[T] = {
    val sc = spark.sparkContext
    val group = s"traced-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val sites = mutable.ArrayBuffer.empty[String]
    val fenced = new CountDownLatch(2)
    val scans = mutable.ArrayBuffer.empty[FileSourceScanExec]
    val executions = mutable.HashMap.empty[Long, String]
    val jobListener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          // the first program frame of the action that started it
          executions(s.executionId) = s.details.linesIterator
            .map(_.trim).find(l => l.startsWith("graft."))
            .getOrElse(s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop("spark.jobGroup.id") match {
          case Some(`group`) => sites.synchronized {
            sites += prop("spark.sql.execution.root.id")
              .orElse(prop("spark.sql.execution.id"))
              .flatMap(id => executions.get(id.toLong))
              .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
                .map(_.name).getOrElse("?"))
          }
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
      }
    }
    val queryListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
                    durationNs: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(fence)) fenced.countDown()
        else scans.synchronized {
          scans ++= SparkTestBase.PlanWalk.collect(qe.executedPlan) {
            case s: FileSourceScanExec => s
          }
        }
      def onFailure(funcName: String, qe: QueryExecution,
                    e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    try {
      sc.setJobGroup(group, "traced", interruptOnCancel = false)
      val result = f
      sc.setJobGroup(fence, "fence", interruptOnCancel = false)
      spark.range(1).select(col("id").as(fence)).collect()
      assert(fenced.await(60, TimeUnit.SECONDS),
        "listener events never arrived")
      Traced(result, sites.synchronized(sites.toSeq),
        scans.synchronized(scans.toSeq))
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(queryListener)
      sc.removeSparkListener(jobListener)
    }
  }
}

object SparkTestBase {
  // One session per JVM: suites share it so `sbt test` doesn't pay
  // session startup per suite. NOT a lazy val: if the shared context
  // dies mid-run (e.g. a memory-pressure shutdown under a tight
  // driver budget), every later suite would otherwise fail with
  // "SparkContext has been shutdown" — rebuild it instead so one
  // casualty cannot cascade across the whole run.
  @volatile private var cached: SparkSession = _

  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      if (cached != null)
        org.apache.spark.sql.SparkSession.clearActiveSession()
      cached = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh_test_")
            .toString)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      cached.sparkContext.setLogLevel("WARN")
    }
    cached
  }

  /** What [[SparkTestBase.traced]] saw: the call site of every job
    * `f` started, and the parquet scans of its queries. */
  final case class Traced[T](result: T, sites: Seq[String],
                             scans: Seq[FileSourceScanExec]) {
    def jobs: Int = sites.size

    /** `n× site` lines, most frequent first — for a test's `info`. */
    def bySite: String = sites.groupBy(identity).toSeq
      .sortBy { case (s, xs) => (-xs.size, s) }
      .map { case (s, xs) => s"${xs.size}× $s" }.mkString("; ")
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
}
