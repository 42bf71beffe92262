package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** `analytics`: the batch user's path. A stratified sample of the
  * registered `SparkEntry.queries` (`workloads.json`) runs in a seeded
  * order, each materialized through the `noop` sink: one cold pass in a
  * fresh session with an empty warehouse (so it pays planning, codegen and
  * the eager artifact builds), then warm passes (at least one) until the
  * run's time is used. Afterwards, untimed, every query's answer is
  * fingerprinted and compared with the recorded fingerprints. */
object Analytics {

  /** A copy of the sf0.01 oracle fixture, inside the benchmark's directory. */
  val Data = "fixture/sf0.01"
  /** Recorded answers of the sampled queries. */
  val Fingerprints = "expected/analytics.json"
  /** Queries without a DuckDB oracle, which `scripts/check.py` accepts by
    * row count; their answers are recorded and checked by row count too. */
  val RowsOnly = Set("q63_heavy_hitters_top", "q74_ivf_topk")

  final case class Run(name: String, ns: Long, answer: Option[DataFrame]) {
    def ok: Boolean = answer.isDefined
  }
  final case class Pass(runs: Seq[Run], wallNs: Long, layer: Option[Layer],
      phases: Map[String, Double], buildNs: Long, cpuNs: Long)

  def run(ctx: Ctx): Outcome = {
    val JArray(qs) = ctx.param("analytics", "queries"): @unchecked
    val names = qs.collect { case JString(s) => s }
    val data = ctx.args.root.resolve(Data).toString
    val registry = graft.SparkEntry.queries
    val problems = Seq.newBuilder[String]
    names.filterNot(registry.contains).foreach(n => problems += s"unknown query $n")
    val order = new scala.util.Random(ctx.args.seed).shuffle(names.filter(registry.contains))

    // Set-up: a fresh session with an empty warehouse, and the fixture
    // schema check the engine's own harnesses run before timing.
    val setups = (1 to ctx.setupRepeats).map(_ => Stat.timeNs {
      graft.Tables.sentinel(ctx.freshSession(), data).foreach(d => problems += s"fixture: $d")
    }._2 / 1e9)
    val t = ctx.trace

    def pass(label: String): Pass = {
      graft.PhaseTimer.drain()
      val g0 = Gauges.read()
      val t0 = Clock.nowNs
      var buildNs = 0L
      val runs = t.span(s"pass.$label") { passId =>
        order.map { name =>
          val q0 = System.nanoTime()
          val answer = t.span(s"query:$name", passId) { qId =>
            try {
              val (df, bNs) = Stat.timeNs(t.span("build", qId)(id =>
                Spans.inSpan(ctx.spark, id)(registry(name)(ctx.spark, data))))
              buildNs += bNs
              t.span("materialize", qId)(id => Spans.inSpan(ctx.spark, id)(
                df.write.format("noop").mode("overwrite").save()))
              Some(df)
            } catch {
              case e: Exception =>
                problems += s"$name ($label): ${e.getClass.getSimpleName}: ${e.getMessage}"
                None
            }
          }
          Run(name, System.nanoTime() - q0, answer)
        }
      }
      val t1 = Clock.nowNs
      val phases = graft.PhaseTimer.drain()
      if (ctx.args.trace) ctx.drainListeners()
      val g1 = Gauges.read()
      Pass(runs, t1 - t0, ctx.layer(t0, t1, g0, g1), phases, buildNs, g1.cpuNsSince(g0))
    }

    val firstOpS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val gRun0 = Gauges.read()
    val cold = pass("cold")
    val warm = {
      val ps = scala.collection.mutable.ListBuffer.empty[Pass]
      val t0 = System.nanoTime()
      while (ps.isEmpty || System.nanoTime() - t0 < ctx.args.seconds * 1000000000L)
        ps += pass(s"warm${ps.size + 1}")
      ps.toList
    }
    val gRun1 = Gauges.read()

    // Answer checks, untimed, on the DataFrames the last warm pass built.
    val expectedPath = ctx.args.root.resolve(Fingerprints)
    val got = warm.last.runs.map { r =>
      r.name -> r.answer.flatMap(df => try Some(fingerprint(df)) catch {
        case e: Exception => problems += s"${r.name} (check): ${e.getMessage}"; None
      })
    }.toMap
    val bad: Set[String] =
      if (ctx.args.record) {
        val body = got.toSeq.sortBy(_._1).collect {
          case (n, Some((rows, _))) if RowsOnly(n) => s"""  "$n": {"rows": $rows}"""
          case (n, Some((rows, sha))) => s"""  "$n": {"rows": $rows, "sha256": "$sha"}"""
        }.mkString("{\n", ",\n", "\n}\n")
        Files.write(expectedPath, body.getBytes(UTF_8))
        got.collect { case (n, None) => n }.toSet
      } else {
        val exp = JsonMethods.parse(new String(Files.readAllBytes(expectedPath), UTF_8))
        got.collect { case (n, fp) if !matches(fp, exp \ n, RowsOnly(n)) =>
          problems += s"$n: answer ${fp.fold("missing")(f => s"rows=${f._1} sha256=${f._2}")} " +
            s"differs from the recorded ${JsonMethods.compact(exp \ n)}"
          n
        }.toSet
      }

    val passes = cold +: warm
    val failedRuns = passes.flatMap(_.runs).count(r => !r.ok || bad(r.name)).toLong
    val attempted = passes.map(_.runs.size.toLong).sum
    def failedIn(p: Pass) = p.runs.count(r => !r.ok || bad(r.name)).toLong
    val warmRuns = warm.flatMap(_.runs)
    // each query's median over the warm passes, so one slow pass does not
    // move the percentiles
    val warmMs = order.map(n => Stat.median(warmRuns.filter(_.name == n).map(_.ns / 1e6)))
    val warmS = Stat.median(warm.map(_.wallNs / 1e9))
    val nWarm = warmRuns.size.toLong
    val wFailed = warm.map(failedIn).sum

    val e2e = Seq(
      Metric("setup_s", "s", Stat.median(setups), setups.size, 0),
      Metric("cold_s", "s", cold.wallNs / 1e9, cold.runs.size, failedIn(cold)),
      Metric("op_ms", "ms", warmS * 1e3 / order.size, nWarm, wFailed),
      Metric("cold_cpu_s", "s", cold.cpuNs / 1e9, cold.runs.size, failedIn(cold)),
      Metric("cpu_ms_per_op", "ms",
        Stat.median(warm.map(_.cpuNs / 1e6)) / order.size, nWarm, wFailed))

    val detail = Seq.newBuilder[Metric]
    detail += Metric("analytics_cold_s", "s", cold.wallNs / 1e9, cold.runs.size, failedIn(cold))
    detail += Metric("analytics_warm_s", "s", warmS, nWarm, wFailed)
    detail += Metric("analytics.query_p50_ms", "ms", Stat.median(warmMs), nWarm, wFailed)
    detail += Metric("analytics.query_p90_ms", "ms", Stat.pct(warmMs, 90), nWarm, wFailed)
    detail += Metric("analytics.queries_per_s", "1/s", order.size / warmS, nWarm, wFailed)
    detail += Metric("analytics.queries", "count", order.size)
    detail += Metric("analytics.warm_passes", "count", warm.size)
    detail += Metric("analytics.answers_checked", "count", got.size, got.size, bad.size)
    detail += Metric("process_to_first_op_s", "s", firstOpS)
    for ((label, ps) <- Seq("cold" -> Seq(cold), "warm" -> warm)) {
      def avg(f: Pass => Double) = ps.map(f).sum / ps.size
      val pre = s"analytics.$label"
      detail += Metric(s"$pre.build_s", "s", avg(_.buildNs / 1e9))
      detail += Metric(s"$pre.phase_build_s", "s", avg(_.phases.getOrElse("build", 0.0)))
      detail += Metric(s"$pre.phase_validate_s", "s", avg(_.phases.getOrElse("validate", 0.0)))
      if (ctx.args.trace) {
        def l(f: Layer => Double) = avg(p => p.layer.map(f).getOrElse(0.0))
        detail ++= Seq(
          Metric(s"$pre.jobs", "count", l(_.nJobs.toDouble)),
          Metric(s"$pre.stages", "count", l(_.stages.toDouble)),
          Metric(s"$pre.tasks", "count", l(_.tasks.toDouble)),
          Metric(s"$pre.tasks_failed", "count", l(_.tasksFailed.toDouble)),
          Metric(s"$pre.driver_s", "s", l(_.driverNs / 1e9)),
          Metric(s"$pre.exec_s", "s", l(_.execNs / 1e9)),
          Metric(s"$pre.sched_delay_s", "s", l(_.schedDelayMs / 1e3)),
          Metric(s"$pre.plan_s", "s", l(_.planNs / 1e9)),
          Metric(s"$pre.task_s", "s", l(_.taskRunMs / 1e3)),
          Metric(s"$pre.task_cpu_s", "s", l(_.taskCpuNs / 1e9)),
          Metric(s"$pre.task_gc_s", "s", l(_.taskGcMs / 1e3)),
          Metric(s"$pre.gc_s", "s", l(_.gauges.gcMs / 1e3)),
          Metric(s"$pre.input_mb", "MB", l(_.inputMb)),
          Metric(s"$pre.shuffle_mb", "MB", l(_.shuffleMb)),
          Metric(s"$pre.spill_mb", "MB", l(_.spillMb)),
          Metric(s"$pre.codegen_classes", "count", l(_.gauges.codegenClasses.toDouble)))
      }
    }
    val layers = Layers.generic(warm.flatMap(_.layer), nWarm, gRun1.since(gRun0))
    Outcome(e2e, layers, detail.result(), attempted, failedRuns, problems.result())
  }

  private def matches(fp: Option[(Long, String)], exp: JValue,
      rowsOnly: Boolean): Boolean = (fp, exp \ "rows", exp \ "sha256") match {
    case (Some((rows, _)), JInt(r), _) if rowsOnly => rows == r.toLong
    case (Some((rows, sha)), JInt(r), JString(s)) => rows == r.toLong && sha == s
    case _ => false
  }

  /** Order-independent answer fingerprint: every row rendered with its
    * columns in name order, the rendered rows sorted, then SHA-256. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val names = df.schema.fieldNames
    val cols = names.indices.sortBy(names(_))
    val rows = df.collect().map(r => cols.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case x => x.toString
  }
}

/** The per-layer metrics every workload reports, charged per operation
  * (a query run, a micro-batch, or a request) over the measured phase. */
object Layers {
  def generic(ls: Seq[Layer], ops: Long, whole: Gauges): Seq[Metric] = {
    val n = math.max(1L, ops).toDouble
    def s(f: Layer => Double) = ls.map(f).sum
    Seq(
      Metric("jobs_per_op", "count", s(_.nJobs.toDouble) / n, ops),
      Metric("stages_per_op", "count", s(_.stages.toDouble) / n, ops),
      Metric("tasks_per_op", "count", s(_.tasks.toDouble) / n, ops),
      Metric("tasks_failed", "count", s(_.tasksFailed.toDouble), ops),
      Metric("driver_ms_per_op", "ms", s(_.driverNs / 1e6) / n, ops),
      Metric("sched_delay_ms_per_op", "ms", s(_.schedDelayMs.toDouble) / n, ops),
      Metric("plan_ms_per_op", "ms", s(_.planNs / 1e6) / n, ops),
      Metric("task_run_ms_per_op", "ms", s(_.taskRunMs.toDouble) / n, ops),
      Metric("task_cpu_ms_per_op", "ms", s(_.taskCpuNs / 1e6) / n, ops),
      Metric("gc_ms_per_op", "ms", s(_.gauges.gcMs.toDouble) / n, ops),
      Metric("input_mb", "MB", s(_.inputMb), ops),
      Metric("shuffle_mb", "MB", s(_.shuffleMb), ops),
      Metric("spill_mb", "MB", s(_.spillMb), ops),
      Metric("codegen_ms", "ms", whole.codegenNs / 1e6),
      Metric("codegen_classes", "count", whole.codegenClasses.toDouble))
  }
}
