package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.api.{HttpFacade, TweetApi}
import graft.streaming.Pipeline

/** `api`: a closed loop against the HTTP façade. `nproc` client threads
  * each send a fixed number of requests over their own keep-alive
  * connection and wait for each reply. Reads go through
  * `Pipeline.readTweets` over a seeded tweets table built in set-up with
  * `Pipeline.enrichJson`; `/store` appends to the façade's in-memory store.
  * The request count is fixed for a given run length, so the store ends
  * at the same size on every run. */
object Api {

  final case class Req(client: Int, route: String, path: String, body: Option[String])
  final case class Done(req: Req, startNs: Long, endNs: Long, status: Int, body: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  val Routes = Seq("analyze", "tweets", "summary", "health", "store")
  val ReadRoutes = Set("tweets", "summary", "health")
  private val Labels = IndexedSeq("positive", "negative", "neutral")

  def run(ctx: Ctx): Outcome = {
    val seed = ctx.args.seed
    val mix = Routes.map(r => r -> ctx.num("api", "route_mix", r))
    val tableLines = ctx.num("api", "table_lines").toLong
    val perClient = math.max(1, (ctx.num("api", "requests_per_client_per_s") * ctx.args.seconds).toInt)
    val clients = ctx.args.cpus
    val shares = ctx.shares
    val tableGen = new TweetGen(seed, shares)
    val storeGen = new TweetGen(seed + 1, shares.copy(malformed = 0.0))
    val textGen = new TweetGen(seed + 2, shares.copy(blank = 0.0))
    val t = ctx.trace
    val problems = Seq.newBuilder[String]

    var handle: Option[(HttpFacade.Handle, HttpFacade.InMemoryTweetStore)] = None
    var runs = 0
    def setUp(): Unit = {
      handle.foreach(_._1.stop())
      runs += 1
      val spark = ctx.freshSession()
      import spark.implicits._
      val path = ctx.dir(s"api-$runs").resolve("tweets").toString
      val lines = (0L until tableLines).map(i => tableGen.line(i, 1756735200000L + i))
      Pipeline.enrichJson(lines.toDF("json")).write.parquet(path)
      val store = new HttpFacade.InMemoryTweetStore(spark)
      handle = Some((HttpFacade.start(spark, store, 0,
        Some(() => Pipeline.readTweets(spark, path))), store))
    }
    val setups = (1 to ctx.setupRepeats).map(_ => Stat.timeNs(setUp())._2 / 1e9)
    val (server, store) = handle.get
    val spark = ctx.spark
    val base = s"http://127.0.0.1:${server.port}"

    // Requests are drawn up front: the route mix is exact, every client
    // gets an even share of each route, and the seed sets each one's order.
    val total = clients * perClient
    val counts = mix.map { case (r, w) => r -> math.round(w / mix.map(_._2).sum * total).toInt }
    val routes = counts.flatMap { case (r, n) => Seq.fill(n)(r) }.padTo(total, "analyze").take(total)
    val rnd = new scala.util.Random(seed)
    def request(i: Int, c: Int, route: String): Req = route match {
      case "analyze" => Req(c, route, "/analyze",
        Some(s"""{"text": ${TweetGen.quote(textGen.text(i.toLong))}}"""))
      case "store" => Req(c, route, "/store", Some(storeGen.line(i.toLong, 1756735200000L + i)))
      case "tweets" =>
        val f = rnd.nextInt(4)
        Req(c, route,
          if (f == 3) "/tweets?limit=20" else s"/tweets?limit=20&sentiment=${Labels(f)}", None)
      case "summary" => Req(c, route, "/summary?hours=24", None)
      case _ => Req(c, route, "/health", None)
    }
    val dealt = routes.zipWithIndex.groupMap(_._2 % clients)(_._1)
    val all0 = (0 until clients).flatMap(c => rnd.shuffle(dealt.getOrElse(c, Nil)).map(c -> _))
      .zipWithIndex.map { case ((c, r), i) => request(i, c, r) }
    val plan = (0 until clients).map(c => all0.filter(_.client == c))

    def client(): HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    def send(http: HttpClient, r: Req): Done = {
      val b = HttpRequest.newBuilder(URI.create(base + r.path)).timeout(Duration.ofSeconds(60))
      val req = r.body.fold(b.GET())(x => b.POST(HttpRequest.BodyPublishers.ofString(x))).build()
      val t0 = System.nanoTime()
      try {
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        Done(r, t0, System.nanoTime(), resp.statusCode, resp.body)
      } catch { case e: Exception => Done(r, t0, System.nanoTime(), -1, e.toString) }
    }

    import scala.jdk.CollectionConverters._
    def loop(label: String, plan: Seq[Seq[Req]]): Seq[Done] = {
      val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
      val threads = plan.zipWithIndex.map { case (reqs, c) =>
        new Thread(() => {
          val http = client()
          reqs.foreach(r => done.add(t.span(s"$label:${r.route}")(_ => send(http, r))))
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      done.asScala.toSeq
    }
    // The cold phase: the first request of every route in the fresh
    // session, one at a time, then the first half of every client's
    // requests. Request latency falls by half over the first few dozen
    // requests as the JIT compiles the request path, so the measured loop
    // comes after it. A re-sent /store envelope is deduplicated, so the
    // store's final size does not change.
    val first = client()
    val cold0 = Gauges.read()
    val coldT0 = System.nanoTime()
    val cold = Routes.map(r => all0.find(_.route == r).getOrElse(request(0, 0, r)))
      .map(r => t.span(s"cold:${r.route}")(_ => send(first, r)))
    val warmUp = loop("warmup", plan.map(p => p.take(p.size / 2)))
    val coldS = (System.nanoTime() - coldT0) / 1e9
    val coldCpuNs = Gauges.read().cpuNsSince(cold0)

    val g0 = Gauges.read()
    val t0Ns = Clock.nowNs
    val loop0 = System.nanoTime()
    val all = loop("request", plan)
    val loopS = (System.nanoTime() - loop0) / 1e9
    val t1Ns = Clock.nowNs
    val g1 = Gauges.read()

    // Answer checks, untimed.
    val table = Pipeline.readTweets(spark, ctx.args.work.resolve(s"api-$runs").resolve("tweets").toString)
    val tableRows = table.count()
    val byLabel = table.groupBy("final_sentiment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def json(d: Done): Option[JValue] = JsonMethods.parseOpt(d.body)
    def num(j: JValue): Option[Double] = j match {
      case JDouble(v) => Some(v); case JInt(v) => Some(v.toDouble)
      case JLong(v) => Some(v.toDouble); case JDecimal(v) => Some(v.toDouble); case _ => None
    }
    def ok(d: Done): Boolean = d.status / 100 == 2 && json(d).exists { j =>
      d.req.route match {
        case "analyze" =>
          val text = (JsonMethods.parse(d.req.body.get) \ "text") match { case JString(s) => s; case _ => "" }
          val r = TweetApi.analyze(text)
          val s = j \ "scores"
          (j \ "sentiment") == JString(r.sentiment) && num(j \ "confidence").contains(r.confidence) &&
            Seq("compound" -> r.compound, "positive" -> r.positive, "negative" -> r.negative,
              "neutral" -> r.neutral, "polarity" -> r.polarity, "subjectivity" -> r.subjectivity)
              .forall { case (k, v) => num(s \ k).contains(v) }
        case "tweets" =>
          val f = d.req.path.split("sentiment=").lift(1)
          val want = math.min(20L, f.fold(tableRows)(byLabel.getOrElse(_, 0L)))
          num(j \ "count").contains(want.toDouble) && ((j \ "tweets") match {
            case JArray(xs) => xs.size == want
            case _ => false
          })
        case "summary" => num(j \ "total_tweets").contains(tableRows.toDouble)
        case "health" => num(j \ "table" \ "total_tweets").contains(tableRows.toDouble)
        case _ => (j \ "status") == JString("success")
      }
    }
    val failedReqs = all.filterNot(ok)
    val coldFailed = (cold ++ warmUp).count(d => !ok(d)).toLong
    failedReqs.take(5).foreach(d =>
      problems += s"${d.req.route} ${d.req.path}: status ${d.status}: ${d.body.take(200)}")
    (cold ++ warmUp).filterNot(ok).take(5)
      .foreach(d => problems += s"cold ${d.req.route}: status ${d.status}: ${d.body.take(200)}")
    val storeRows = store.snapshot().count()
    import spark.implicits._
    val stored = all0.filter(_.route == "store").flatMap(_.body)
    val wantStore = Pipeline.enrichJson(stored.toDF("json")).count()
    if (storeRows != wantStore) problems += s"store holds $storeRows rows, expected $wantStore"

    // Untimed extras: a few /export calls, and analyze without HTTP.
    val export = (1 to 2).map(_ => send(first, Req(0, "export", "/export?hours=24&format=json", None)))
    export.filterNot(d => d.status == 200 && json(d).flatMap(j => num(j \ "count"))
      .contains(tableRows.toDouble)).foreach(d => problems += s"export: status ${d.status}")
    val texts = all0.filter(_.route == "analyze").take(200)
      .map(r => (JsonMethods.parse(r.body.get) \ "text").asInstanceOf[JString].s)
    texts.foreach(TweetApi.analyze)
    val fnMs = texts.map(x => Stat.timeNs(TweetApi.analyze(x))._2 / 1e6)

    def ms(route: String => Boolean) = all.filter(d => route(d.req.route)).map(_.ms)
    val allMs = all.map(_.ms)
    // Latencies cluster by route, so the median over all requests jumps
    // between clusters from run to run; each route's own median does not.
    val mixP50 = mix.map { case (r, w) => w * Stat.median(ms(_ == r)) }.sum / mix.map(_._2).sum
    val reads = ms(ReadRoutes)
    val stores = ms(_ == "store")
    val failed = failedReqs.size.toLong
    val nReads = reads.size.toLong
    def failedOf(p: String => Boolean) = failedReqs.count(d => p(d.req.route)).toLong
    val e2e = Seq(
      Metric("setup_s", "s", Stat.median(setups), setups.size, 0),
      Metric("cold_s", "s", coldS, cold.size + warmUp.size, coldFailed),
      Metric("op_ms", "ms", mixP50, all.size, failed),
      Metric("cold_cpu_s", "s", coldCpuNs / 1e9, cold.size + warmUp.size, coldFailed),
      Metric("cpu_ms_per_op", "ms", g1.cpuNsSince(g0) / 1e6 / all.size, all.size, failed))
    val layer = ctx.layer(t0Ns, t1Ns, g0, g1)
    val sitesOf: Map[String, Set[String]] =
      ctx.stats.map(_ => learnCallSites(ctx, cold)).getOrElse(Map.empty)
    val detail = Seq(
      Metric("api.first_requests_s", "s", cold.map(_.ms).sum / 1e3, cold.size,
        cold.count(d => !ok(d)).toLong),
      Metric("api.req_p50_ms", "ms", Stat.median(allMs), all.size, failed),
      Metric("api.req_p90_ms", "ms", Stat.pct(allMs, 90), all.size, failed),
      Metric("api_qps", "req/s", all.size / loopS, all.size, failed),
      Metric("api_read_p50_ms", "ms", Stat.median(reads), nReads, failedOf(ReadRoutes)),
      Metric("api_read_p90_ms", "ms", Stat.pct(reads, 90), nReads, failedOf(ReadRoutes)),
      Metric("api_store_p50_ms", "ms", Stat.median(stores), stores.size, failedOf(_ == "store")),
      Metric("api_store_p90_ms", "ms", Stat.pct(stores, 90), stores.size, failedOf(_ == "store")),
      Metric("api.clients", "count", clients),
      Metric("api.table_rows", "count", tableRows.toDouble),
      Metric("api.store_rows_end", "count", storeRows.toDouble),
      Metric("api.http_4xx", "count", all.count(_.status / 100 == 4)),
      Metric("api.http_5xx", "count", all.count(_.status / 100 == 5)),
      Metric("api.analyze_fn_ms_p50", "ms", Stat.median(fnMs), fnMs.size),
      Metric("api.export.ms_p50", "ms", Stat.median(export.map(_.ms)), export.size),
      Metric("api.gc_s", "s", (g1.gcMs - g0.gcMs) / 1e3)) ++
      Routes.flatMap { r =>
        val xs = ms(_ == r)
        Seq(Metric(s"api.$r.ms_p50", "ms", Stat.median(xs), xs.size, failedOf(_ == r)),
          Metric(s"api.$r.ms_p90", "ms", Stat.pct(xs, 90), xs.size, failedOf(_ == r)))
      } ++
      layer.toSeq.flatMap { l =>
        // A job is charged to the route whose first request started a job
        // at the same call site; a site several routes share is split over
        // their requests in proportion to their request counts.
        val count = Routes.map(r => r -> ms(_ == r).size.toDouble).toMap
        val charged = l.jobs.groupBy(_.callSite).toSeq.flatMap { case (site, js) =>
          val routes = sitesOf.getOrElse(site, Set("other")).toSeq
          val total = routes.map(count.getOrElse(_, 0.0)).sum
          routes.map(r => r -> (if (total > 0) js.size * count.getOrElse(r, 0.0) / total
            else js.size.toDouble))
        }.groupMapReduce(_._1)(_._2)(_ + _)
        Metric("api.plan_s", "s", l.planNs / 1e9) +:
          Metric("api.other.jobs", "count", charged.getOrElse("other", 0.0)) +:
          Routes.map(r => Metric(s"api.$r.jobs_per_req", "count",
            charged.getOrElse(r, 0.0) / math.max(1.0, count(r))))
      }
    server.stop()
    Outcome(e2e, Layers.generic(layer.toSeq, all.size, g1.since(g0)), detail,
      all.size.toLong + warmUp.size + cold.size, failed + coldFailed,
      problems.result())
  }

  /** Maps each job call site to the routes whose first request started a
    * job there; the first requests run one at a time, so every job they
    * start is theirs. */
  private def learnCallSites(ctx: Ctx, cold: Seq[Done]): Map[String, Set[String]] = {
    ctx.drainListeners()
    val stats = ctx.stats.get
    val origin = Clock.nowNs - System.nanoTime()
    cold.flatMap { d =>
      stats.jobsIn(origin + d.startNs, origin + d.endNs).map(_.callSite -> d.req.route)
    }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
  }
}
