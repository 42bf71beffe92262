package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.streaming.Pipeline

/** `ingest`: open-loop stream ingest. One generator thread drops seeded
  * envelope files into a file source at a fixed rate, each written whole
  * and moved in by an atomic rename, whether or not the engine keeps up.
  * Every line carries the time it was due in `kafka_timestamp`. The files
  * flow through `Pipeline.runWithQuarantine`: parse, clean, language
  * filter, sentiment, watermarked dedup, parquet and json sinks, and the
  * quarantine of malformed lines.
  *
  * Set-up builds a fresh session and starts the queries. After the last
  * set-up one warm-up file goes through, so the open loop measures the
  * steady state; the time to commit that first file is the cold start. */
object Ingest {

  /** The generator writes one file per tick. */
  val TickMs = 100L

  final case class Batch(query: String, batchId: Long, startMs: Long, durMs: Map[String, Long],
      rows: Long, stateRows: Long, stateMemBytes: Long) {
    def endMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
    def ms(k: String): Double = durMs.getOrElse(k, 0L).toDouble
  }

  /** Keeps every progress report of the run's queries. */
  final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p: StreamingQueryProgress = e.progress
      val st = p.stateOperators.headOption
      batches.add(Batch(p.id.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L)))
    }
  }

  final case class Live(main: StreamingQuery, quarantine: StreamingQuery, progress: Progress,
      src: Path, staging: Path, tweets: Path, quarantinePath: Path) {
    /** Writes `body` to a new file in the source directory, atomically. */
    def drop(name: String, body: String): Unit = {
      val tmp = staging.resolve(name)
      Files.write(tmp, body.getBytes(UTF_8))
      Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def batches: Seq[Batch] = progress.batches.asScala.toSeq
      .filter(_.query == main.id.toString).sortBy(_.batchId)
  }

  /** A generated line as sent: which generator, which index. */
  final case class Sent(gen: TweetGen, i: Long, line: String)

  def run(ctx: Ctx): Outcome = {
    val rate = ctx.num("ingest", "rate_per_s")
    val warmLines = ctx.num("ingest", "warmup_lines").toLong
    val gen = new TweetGen(ctx.args.seed, ctx.shares)
    val warmGen = new TweetGen(ctx.args.seed + 0x8000, ctx.shares)
    val nLines = (rate * ctx.args.seconds).toLong
    val t = ctx.trace
    val problems = Seq.newBuilder[String]

    var runs = 0
    var live: Option[Live] = None
    lazy val warm = (0L until warmLines).map(i => Sent(warmGen, i, warmGen.line(i, System.currentTimeMillis())))
    def setUp(): Unit = {
      live.foreach { l => l.main.stop(); l.quarantine.stop() }
      runs += 1
      val spark = ctx.freshSession()
      val base = ctx.dir(s"ingest-$runs")
      def d(n: String) = Files.createDirectories(base.resolve(n))
      val progress = new Progress
      spark.streams.addListener(progress)
      val (main, quarantine) = Pipeline.runWithQuarantine(
        Pipeline.jsonFileSource(spark, d("source").toString), base.resolve("tweets").toString,
        base.resolve("json").toString, base.resolve("quarantine").toString,
        base.resolve("checkpoint").toString, Trigger.ProcessingTime(0L))
      val l = Live(main, quarantine, progress, base.resolve("source"), d("staging"),
        base.resolve("tweets"), base.resolve("quarantine"))
      live = Some(l)
    }
    val setups = (1 to ctx.setupRepeats).map(_ => Stat.timeNs(setUp())._2 / 1e9)
    val l = live.get
    val cold0 = Gauges.read()
    val (_, coldNs) = Stat.timeNs {
      l.drop("warmup.json", warm.map(_.line + "\n").mkString)
      l.main.processAllAvailable()
      l.quarantine.processAllAvailable()
    }
    val coldCpuNs = Gauges.read().cpuNsSince(cold0)
    val spark = ctx.spark

    // The open loop: line i is due at t0 + i / rate; every tick the thread
    // writes the lines that have come due into one file.
    val lines = new Array[String](nLines.toInt)
    val lateMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val g0 = Gauges.read()
    val t0Ns = Clock.nowNs
    val t0Ms = System.currentTimeMillis()
    val genThread = new Thread(() => t.span("generator") { genSpan =>
      var next = 0L
      var file = 0
      while (next < nLines) {
        val tickAt = t0Ms + (file + 1) * TickMs
        val sleep = tickAt - System.currentTimeMillis()
        if (sleep > 0) Thread.sleep(sleep)
        val upTo = math.min(nLines, ((System.currentTimeMillis() - t0Ms) * rate / 1000.0).toLong + 1)
        if (upTo > next) {
          t.span("generator.file", genSpan) { _ =>
            val sb = new StringBuilder
            (next until upTo).foreach { i =>
              lines(i.toInt) = gen.line(i, t0Ms + (i * 1000.0 / rate).toLong)
              sb ++= lines(i.toInt) += '\n'
            }
            l.drop(f"part-$file%06d.json", sb.toString)
          }
          lateMs += (System.currentTimeMillis() - tickAt).toDouble
          next = upTo
        }
        file += 1
      }
    }, "perfbench-generator")
    genThread.start()
    genThread.join()
    val genEndMs = System.currentTimeMillis()
    ctx.drainListeners()
    val backlogEnd = nLines - l.batches.filter(b => b.startMs >= t0Ms && b.endMs <= genEndMs)
      .map(_.rows).sum
    l.main.processAllAvailable()
    l.quarantine.processAllAvailable()
    val t1Ns = Clock.nowNs
    val g1 = Gauges.read()

    // Burst: a backlog lands at once, in one file, so the query runs
    // without waiting for input; its batches give the capacity.
    val burstLines = ctx.num("ingest", "burst_lines").toLong
    val burst0Ms = System.currentTimeMillis()
    val burst = (nLines until nLines + burstLines).map(i => Sent(gen, i, gen.line(i, burst0Ms)))
    val burstBody = burst.map(_.line + "\n").mkString
    val burstG0 = Gauges.read()
    l.drop("burst.json", burstBody)
    l.main.processAllAvailable()
    l.quarantine.processAllAvailable()
    val burstCpuNs = Gauges.read().cpuNsSince(burstG0)
    l.main.stop()
    l.quarantine.stop()
    l.main.exception.foreach(e => problems += s"main query failed: ${e.getMessage}")
    l.quarantine.exception.foreach(e => problems += s"quarantine query failed: ${e.getMessage}")
    ctx.drainListeners()

    val measured = l.batches.filter(b => b.startMs >= t0Ms && b.startMs < burst0Ms)
    val burstBatches = l.batches.filter(_.startMs >= burst0Ms)
    val batchEnd = l.batches.map(b => b.batchId -> b.endMs).toMap
    measured.foreach(b => t.record("stream.batch", 0L, Clock.msToNs(b.startMs), Clock.msToNs(b.endMs)))

    // Answer checks, untimed, over everything this query was sent.
    val sent = warm ++ (0L until nLines).map(i => Sent(gen, i, lines(i.toInt))) ++ burst
    val committed = spark.read.parquet(l.tweets.toString)
    val latencies = committed.select(col("kafka_timestamp"), col("_batch_id").cast("long"))
      .collect().toSeq.filter(r => r.getLong(0) >= t0Ms && r.getLong(0) < burst0Ms)
      .flatMap(r => batchEnd.get(r.getLong(1)) match {
        case Some(end) => Some((end - r.getLong(0)).toDouble)
        case None => problems += s"committed row from unreported batch ${r.getLong(1)}"; None
      })
    val expectedIds = sent.collect { case s if s.gen.kind(s.i) == s.gen.Fresh &&
      s.gen.lang(s.i) == "en" && s.gen.text(s.i).trim.nonEmpty => s.gen.id(s.i) }.toSet
    val checkCols = Seq("tweet_id", "cleaned_text", "sentiment_compound", "sentiment_positive",
      "sentiment_negative", "sentiment_neutral", "textblob_polarity", "textblob_subjectivity",
      "vader_sentiment", "textblob_sentiment", "final_sentiment", "confidence_score")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(checkCols.map(col): _*).collect().map(r => r.getString(0) -> r.toSeq)
    val committedRows = rows(committed)
    val got = committedRows.toMap
    import spark.implicits._
    val reference = rows(Pipeline.enrichJson(sent.map(_.line).toDF("json"))).toMap
    val missing = expectedIds.diff(got.keySet)
    val extra = got.keySet.diff(expectedIds)
    // a re-sent id that the dedup let through is a second row under one id
    val surplus = committedRows.length - got.size
    val wrong = got.count { case (id, row) => reference.get(id).exists(_ != row) }
    val notInRef = got.keySet.diff(reference.keySet).size
    if (missing.nonEmpty) problems += s"${missing.size} expected tweets not committed, e.g. ${missing.head}"
    if (extra.nonEmpty) problems += s"${extra.size} unexpected tweets committed, e.g. ${extra.head}"
    if (surplus > 0) problems += s"$surplus committed rows repeat an id already committed"
    if (wrong > 0) problems += s"$wrong committed rows differ from Pipeline.enrichJson"
    if (notInRef > 0) problems += s"$notInRef committed rows absent from Pipeline.enrichJson"
    val malformed = sent.filter(s => s.gen.kind(s.i) == s.gen.Malformed).map(_.line)
    val quarantined = if (Files.exists(l.quarantinePath))
      spark.read.schema("raw_line string").json(l.quarantinePath.toString).as[String].collect().toSeq
    else Nil
    val quarantineBad = if (quarantined.sorted == malformed.sorted) 0 else
      math.max(1, (quarantined.diff(malformed) ++ malformed.diff(quarantined)).size)
    if (quarantineBad > 0) problems += s"quarantine holds ${quarantined.size} lines, " +
      s"expected the ${malformed.size} malformed ones"
    val failed = (missing.size + extra.size + surplus + wrong + notInRef + quarantineBad).toLong

    // Capacity is rows read over busy time, taken over the burst: in the
    // open loop the query keeps up, so there it would read the offered rate.
    val burstRows = burstBatches.map(_.rows).sum
    val capacity = burstRows / (burstBatches.map(_.ms("triggerExecution")).sum / 1e3)
    val rowsIn = measured.map(_.rows).sum
    val fed = measured.filter(_.rows > 0)
    val n = latencies.size.toLong
    val e2e = Seq(
      Metric("setup_s", "s", Stat.median(setups), setups.size, 0),
      Metric("cold_s", "s", coldNs / 1e9, warmLines, 0),
      Metric("op_ms", "ms", Stat.median(latencies), n, failed),
      Metric("cold_cpu_s", "s", coldCpuNs / 1e9, warmLines, 0),
      Metric("cpu_ms_per_op", "ms", g1.cpuNsSince(g0) / 1e6 / nLines, nLines, failed))
    def phase(k: String) = Stat.median(fed.map(_.ms(k)))
    val batchMs = fed.map(_.ms("triggerExecution"))
    val last = measured.lastOption
    val layer = ctx.layer(t0Ns, t1Ns, g0, g1)
    val detail = Seq(
      Metric("ingest_lat_p50_ms", "ms", Stat.median(latencies), n, failed),
      Metric("ingest_lat_p90_ms", "ms", Stat.pct(latencies, 90), n, failed),
      Metric("ingest_capacity_tps", "tweets/s", capacity, burstRows, failed),
      Metric("ingest.burst_cpu_ms_per_tweet", "ms", burstCpuNs / 1e6 / burstLines, burstLines, failed),
      Metric("ingest.rate_per_s", "1/s", rate),
      Metric("ingest.lines", "count", nLines.toDouble),
      Metric("ingest.batches", "count", measured.size),
      Metric("ingest.rows_in", "count", rowsIn.toDouble),
      Metric("ingest.rows_out", "count", latencies.size),
      Metric("ingest.kept_ratio", "ratio", latencies.size.toDouble / math.max(1L, rowsIn)),
      Metric("ingest.quarantine_rows", "count", quarantined.size),
      Metric("ingest.batch_ms_p50", "ms", Stat.median(batchMs)),
      Metric("ingest.batch_ms_p90", "ms", Stat.pct(batchMs, 90)),
      Metric("ingest.latest_offset_ms", "ms", phase("latestOffset")),
      Metric("ingest.get_batch_ms", "ms", phase("getBatch")),
      Metric("ingest.query_planning_ms", "ms", phase("queryPlanning")),
      Metric("ingest.add_batch_ms", "ms", phase("addBatch")),
      Metric("ingest.wal_commit_ms", "ms", phase("walCommit")),
      Metric("ingest.commit_offsets_ms", "ms", phase("commitOffsets")),
      Metric("ingest.state_rows", "count", last.map(_.stateRows).getOrElse(0L).toDouble),
      Metric("ingest.state_mem_mb", "MB", last.map(_.stateMemBytes).getOrElse(0L) / 1e6),
      Metric("ingest.gen_late_ms_p90", "ms", Stat.pct(lateMs.toSeq, 90)),
      Metric("ingest.backlog_end", "count", backlogEnd.toDouble),
      Metric("ingest.gc_s", "s", (g1.gcMs - g0.gcMs) / 1e3)) ++
      layer.toSeq.flatMap(x => Seq(
        Metric("ingest.jobs_per_batch", "count", x.nJobs.toDouble / math.max(1, measured.size)),
        Metric("ingest.task_cpu_s", "s", x.taskCpuNs / 1e9)))
    val layers = Layers.generic(layer.toSeq, measured.size, g1.since(g0))
    Outcome(e2e, layers, detail, sent.size.toLong, failed, problems.result())
  }
}
