package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, a fresh root, the
  * timed calls, failure counts and the metrics each workload reports. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
                val tracer: Tracer) {
  /** Wall milliseconds of every timed public call, by call name. */
  val lat: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** The workload's primary requests: (kind, latency, whether the request
    * recorded spans), for the trace overhead ratio. */
  val primary: mutable.ArrayBuffer[(String, Double, Boolean)] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  /** One timed public call; a throw counts as a failed operation and
    * is rethrown, since the workload state is then unknown. */
  def call[T](name: String)(f: => T): T = {
    attempted += 1
    val (r, ms) = try tracer.span(name)(f) catch {
      case e: Throwable => failed += 1; throw e
    }
    lat.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    r
  }

  /** A correctness verdict; a false one counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += what }
  }

  def freshDir(name: String): String = {
    val d = s"$root/$name"
    Main.deleteTree(new java.io.File(d))
    d
  }
}

object Stats {
  /** Linear-interpolated quantile (same convention as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def json(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case null => "null"
    case o => json(o.toString)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val root = opts("root")
    val cpus = opts("cpus")
    // the full user stack in each job's call site, for job attribution
    System.setProperty("spark.callstack.depth", "400")

    // local[cpus] with cpus shuffle partitions (run.py also pins SPARK_GRAFT_CPUS)
    val spark = graft.LocalSpark.session("perfbench", defaultCpus = cpus,
      extraConf = Map(
        "spark.local.dir" -> s"$root/spark-local",
        "spark.sql.warehouse.dir" -> s"$root/spark-warehouse",
        "spark.hadoop.hadoop.tmp.dir" -> s"$root/tmp"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val w: Workload = workload match {
      case "medallion" => new Medallion
      case "corpus_serve" => new CorpusServe
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var ctx: Ctx = null
    val status = try {
      val setupCtx = new Ctx(spark, root, seed, new Tracer(false, spark.sparkContext))
      val setupS = w.setup(setupCtx)
      ctx = new Ctx(spark, root, seed, new Tracer(traced, spark.sparkContext))
      ctx.attempted += setupCtx.attempted
      ctx.failed += setupCtx.failed
      ctx.notes ++= setupCtx.notes
      ctx.e2e("setup_s") = sessionS + setupS
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      w.timed(ctx, deadline)
      val jobs = ctx.tracer.finish()
      ctx.layer("peak_rss_mb") = peakRssMb()
      w.verify(ctx)
      if (traced) Report.layers(ctx, jobs, w.calls)
      Report.writeTrace(ctx, jobs, opts.get("trace-out"))
      "ok"
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        s"error: ${e.getClass.getName}: ${e.getMessage}"
    }
    val out = mutable.LinkedHashMap[String, Any]("status" -> status)
    if (ctx != null) {
      out("attempted") = ctx.attempted
      out("failed") = ctx.failed
      out("notes") = ctx.notes.toSeq
      out("e2e") = ctx.e2e
      out("layer") = ctx.layer
      out("extra") = w.extra
    }
    val pw = new java.io.PrintWriter(opts("out"), "UTF-8")
    try pw.println(json(out)) finally pw.close()
    spark.stop()
  }
}

/** One benchmark workload: `setup` returns its set-up seconds, `timed`
  * runs the closed loop until the deadline, `verify` reports the metrics
  * and checks outputs after the timed region. */
trait Workload {
  def setup(ctx: Ctx): Double
  def timed(ctx: Ctx, deadline: Long): Unit
  def verify(ctx: Ctx): Unit
  /** Timed public calls this workload reports per-layer metrics for. */
  def calls: Seq[String]
  /** Facts the launcher needs (paths for its own checks, input sizes). */
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

object Report {
  /** Per-module and per-call metrics from the spans and job records of
    * the requests that recorded them. */
  def layers(ctx: Ctx, jobs: Seq[Job], calls: Seq[String]): Unit = {
    val t = ctx.tracer
    val reqSpans = t.spans.groupBy(_.req).map { case (r, ss) =>
      r -> (ss.map(_.startMs).min, ss.map(_.endMs).max) }
    def inTraced(j: Job): Boolean =
      reqSpans.values.exists { case (a, b) => j.startMs >= a - 1 && j.startMs <= b + 1 }
    val traced = jobs.filter(inTraced)
    for (m <- Modules.All) {
      val js = traced.filter(_.module == m)
      ctx.layer(s"$m.jobs") = js.size.toDouble
      ctx.layer(s"$m.tasks") = js.map(_.tasks).sum.toDouble
      ctx.layer(s"$m.busy_s") =
        Intervals.unionLength(js.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1000.0
      ctx.layer(s"$m.shuffle_bytes") = js.map(_.shuffleBytes).sum.toDouble
      ctx.layer(s"$m.driver_s") = t.sampler.map(_.seconds(m)).getOrElse(0.0)
    }
    for (c <- calls) {
      val ss = t.spans.filter(_.name == c)
      ctx.layer(s"$c.p50_ms") = ctx.lat.get(c).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
      val perCall = ss.map { s =>
        val inside = jobs.filter(j => j.endMs >= s.startMs && j.startMs <= s.endMs)
          .map(j => (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)))
        (inside.size.toDouble, s.ms - Intervals.unionLength(inside))
      }
      ctx.layer(s"$c.jobs_per_call") =
        if (perCall.isEmpty) 0.0 else perCall.map(_._1).sum / perCall.size
      ctx.layer(s"$c.driver_ms_per_call") =
        if (perCall.isEmpty) 0.0 else perCall.map(_._2).sum / perCall.size
    }
    // per request kind, traced median over untraced median; geometric
    // mean over the kinds that have both
    val ratios = ctx.primary.groupBy(_._1).values.flatMap { rs =>
      val (tr, un) = rs.partition(_._3)
      if (tr.isEmpty || un.isEmpty) None
      else Some(math.log(Stats.median(tr.map(_._2).toSeq) / Stats.median(un.map(_._2).toSeq)))
    }
    ctx.layer("trace_overhead_ratio") = math.exp(ratios.sum / ratios.size)
  }

  /** Spans (with self time) and job records as JSON lines. */
  def writeTrace(ctx: Ctx, jobs: Seq[Job], path: Option[String]): Unit =
    path.filter(_ => ctx.tracer.enabled).foreach { p =>
      val spans = ctx.tracer.spans
      val children = spans.groupBy(_.parent)
      val pw = new java.io.PrintWriter(p, "UTF-8")
      try {
        spans.foreach { s =>
          val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
          pw.println(Main.json(mutable.LinkedHashMap[String, Any](
            "type" -> "span", "id" -> s.id, "parent" -> s.parent, "req" -> s.req,
            "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
            "self_ms" -> (s.ms - Intervals.unionLength(kids)))))
        }
        jobs.foreach { j =>
          pw.println(Main.json(mutable.LinkedHashMap[String, Any](
            "type" -> "job", "id" -> j.id, "module" -> j.module, "start_ms" -> j.startMs,
            "end_ms" -> j.endMs, "tasks" -> j.tasks, "shuffle_bytes" -> j.shuffleBytes)))
        }
      } finally pw.close()
    }
}
