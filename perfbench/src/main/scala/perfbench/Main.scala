package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One figure the run reports, with the operations it was measured over. */
final case class Metric(name: String, unit: String, value: Double,
    attempted: Long = 0L, failed: Long = 0L)

/** What a workload hands back: the end-to-end metrics (gated), the
  * per-layer metrics shared by every workload, and the workload's own
  * detail figures (printed and written to the trace file, not gated). */
final case class Outcome(e2e: Seq[Metric], layers: Seq[Metric], detail: Seq[Metric],
    attempted: Long, failed: Long, problems: Seq[String])

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, root: Path, work: Path, out: Path, record: Boolean)

/** Per-run context: arguments, workload parameters, the session and the trace. */
final class Ctx(val args: Args) {
  val params: JValue = JsonMethods.parse(
    new String(Files.readAllBytes(args.root.resolve("workloads.json")), "UTF-8"))
  def param(path: String*): JValue = path.foldLeft(params)(_ \ _)
  def num(path: String*): Double = param(path: _*) match {
    case JInt(v) => v.toDouble
    case JDouble(v) => v
    case JLong(v) => v.toDouble
    case other => sys.error(s"workloads.json: ${path.mkString(".")} is not a number: $other")
  }
  def shares: Shares = Shares(num("generator", "malformed"), num("generator", "duplicate"),
    num("generator", "non_english"), num("generator", "blank"))

  /** Set-ups per run; `setup_s` is their median. */
  val setupRepeats = 3

  val trace = new Trace(s"${args.workload}-${args.seed}", args.trace)
  var stats: Option[SparkStats] = None
  private var current: Option[SparkSession] = None
  private var sessions = 0

  def spark: SparkSession = current.getOrElse(sys.error("no session"))
  def dir(name: String): Path = Files.createDirectories(args.work.resolve(name))

  /** Stops the previous session, if any, and builds a fresh one with its
    * own empty warehouse, sized to the host. */
  def freshSession(): SparkSession = {
    current.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    sessions += 1
    val s = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir(s"warehouse-$sessions").toString)
      .config("spark.local.dir", dir("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    current = Some(s)
    stats = if (args.trace) Some(SparkStats.attach(s)) else None
    s
  }

  /** Listener figures are delivered asynchronously; call before reading them. */
  def drainListeners(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Layer figures for the phase [fromNs, toNs), when tracing. */
  def layer(fromNs: Long, toNs: Long, g0: Gauges, g1: Gauges): Option[Layer] =
    stats.map(s => Layer(toNs - fromNs, s.jobsIn(fromNs, toNs), s.planNsIn(fromNs, toNs),
      g1.since(g0)))

  def stop(): Unit = current.foreach(_.stop())
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("cpus").toInt, Paths.get(a("root")), Paths.get(a("work")), Paths.get(a("out")),
      a.get("record").contains("1"))
    val ctx = new Ctx(args)
    val outcome =
      try args.workload match {
        case "analytics" => Analytics.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case "api" => Api.run(ctx)
        case w => sys.error(s"unknown workload $w")
      } finally ctx.stop()
    report(ctx, outcome)
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else fmt(v)

  def report(ctx: Ctx, o: Outcome): Unit = {
    val args = ctx.args
    ctx.stats.foreach(_.jobsIn(Long.MinValue, Long.MaxValue)
      .foreach(j => ctx.trace.record("job", j.span, j.startNs, j.endNs)))
    val heap = Runtime.getRuntime.maxMemory / (1L << 20)
    println(s"[perfbench] workload=${args.workload} seed=${args.seed} seconds=${args.seconds} " +
      s"trace=${if (args.trace) 1 else 0} nproc=${args.cpus} heap_mb=$heap " +
      s"spark=${org.apache.spark.SPARK_VERSION} java=${System.getProperty("java.version")}")
    def table(title: String, ms: Seq[Metric]): Unit = {
      println(f"[perfbench] $title%-34s ${"unit"}%-9s ${"value"}%14s ${"attempted"}%10s ${"failed"}%7s")
      ms.foreach(m => println(
        f"[perfbench]   ${m.name}%-32s ${m.unit}%-9s ${m.value}%14.4f ${m.attempted}%10d ${m.failed}%7d"))
    }
    table("end-to-end (gated)", o.e2e)
    table(s"${args.workload} wall clock and detail", o.detail)
    if (args.trace) table("per-layer", o.layers)
    o.problems.take(20).foreach(p => println(s"[perfbench] problem: $p"))
    if (o.problems.size > 20) println(s"[perfbench] ... ${o.problems.size - 20} more problems")
    writeTrace(ctx, o)
    val shown = if (args.trace) o.layers else o.e2e
    val metrics = shown.map(m =>
      s""""${m.name}": {"value": ${jnum(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    val correct = o.failed == 0 && o.problems.isEmpty
    println(s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$metrics}}""")
  }

  /** Spans, per-name self time and every figure of the run, as one JSON file. */
  private def writeTrace(ctx: Ctx, o: Outcome): Unit = {
    val t = ctx.trace
    val spans = t.all
    val self = t.selfNs
    def q(s: String) = TweetGen.quote(s)
    def ms(xs: Seq[Metric]) = xs.map(m =>
      s"""{"name": ${q(m.name)}, "unit": ${q(m.unit)}, "value": ${jnum(m.value)}, """ +
        s""""attempted": ${m.attempted}, "failed": ${m.failed}}""").mkString("[", ",\n  ", "]")
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s"""{"name": ${q(n)}, "count": ${ss.size}, "total_ms": ${jnum(ss.map(_.durNs).sum / 1e6)}, """ +
        s""""self_ms": ${jnum(ss.map(s => self(s.id)).sum / 1e6)}}"""
    }.mkString("[", ",\n  ", "]")
    val spanRows = spans.map(s =>
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "run": ${q(s.run)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ns": ${self(s.id)}}""")
      .mkString("[", ",\n  ", "]")
    val body =
      s"""{"workload": ${q(ctx.args.workload)}, "seed": ${ctx.args.seed}, "trace": ${ctx.args.trace},
         |"end_to_end": ${ms(o.e2e)},
         |"per_layer": ${ms(o.layers)},
         |"detail": ${ms(o.detail)},
         |"problems": ${o.problems.map(q).mkString("[", ",", "]")},
         |"span_self_time": $byName,
         |"spans": $spanRows}
         |""".stripMargin
    Files.createDirectories(ctx.args.out.getParent)
    Files.write(ctx.args.out, body.getBytes("UTF-8"))
  }
}

/** Small statistics helpers. */
object Stat {
  /** Nearest-rank percentile (p in 0..100) of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def timeNs[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }
}
