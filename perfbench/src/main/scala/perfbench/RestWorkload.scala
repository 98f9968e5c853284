package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.rest.{Catalog, RestServer, SystemTables}

/** `rest_mixed`: ingest beside time-bounded search over the engine's real
  * `/dae/v1` HTTP surface (`graft.rest.RestServer` on a loopback port).
  *
  * Set-up creates a daily-partitioned table through the DDL endpoint and
  * preloads seven days of seeded history, one part a day. The load is an
  * open loop with a fixed, evenly spaced schedule of two streams carrying
  * seeded rows: fixed-size `/ingest` batches into the newest day, and
  * `/search` requests of three shapes in equal shares — a last-hour
  * filter with a limit (time bounds as request fields), a group-by
  * dashboard of yesterday that sets `use_cache`, and a seven-day top-k.
  * Untimed closed-loop rounds of the same mix warm the request path
  * first. One writer and three reader connections send; latency counts
  * from each request's due time. Every
  * ingest adds a part and invalidates the result cache. Answers are
  * checked against ground truth the generator derives from its own rows.
  */
object RestWorkload extends Workload {
  private val Table = "events_rest"
  private val Kinds = Array("click", "view", "error", "signup", "purchase")
  private val DayMs = 86400000L
  private val Day0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
  /** The simulated present: noon of the eighth day. */
  private val NowMs = Day0 + 7 * DayMs + DayMs / 2
  /** Untimed warm-up rounds of one ingest and one cycle of searches. */
  private val WarmRounds = 5

  final case class Ev(user: Long, kind: String, status: Int, latency: Double, timeMs: Long)

  private def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ").stripSuffix("Z")

  private def batch(rng: Random, n: Int, fromMs: Long, spanMs: Long): Seq[Ev] =
    Seq.fill(n)(Ev(rng.nextInt(400).toLong, Kinds(rng.nextInt(Kinds.length)),
      if (rng.nextInt(100) < 8) 500 + rng.nextInt(4) else 200,
      rng.nextInt(100000) / 100.0, fromMs + (rng.nextDouble() * spanMs).toLong))

  private def ingestBody(rows: Seq[Ev]): String = {
    val data = rows.map(e => Seq(e.user.toString, e.kind, e.status.toString,
      e.latency.toString, s"msg ${e.user}", iso(e.timeMs)).map(Json.str).mkString("[", ",", "]"))
    s"""{"columns":["user_id","kind","status","latency","msg","_time"],"data":${data.mkString("[", ",", "]")}}"""
  }

  /** The three search shapes; the dashboard names its day. */
  private sealed trait Shape { def name: String }
  private case object LastHour extends Shape { val name = "filter" }
  private final case class OneDay(day: Int) extends Shape { val name = "daily" }
  private case object SevenDay extends Shape { val name = "topk" }

  private def searchBody(s: Shape): String = s match {
    case LastHour =>
      s"""{"query":"SELECT user_id, kind, status, latency, _time FROM $Table WHERE status >= 500","start_time":"${iso(NowMs - 3600000L)}","end_time":"${iso(NowMs)}","limit":50}"""
    case OneDay(d) =>
      val lo = Day0 + d * DayMs
      s"""{"query":"SELECT kind, count(*) AS n, round(sum(latency), 2) AS total FROM $Table WHERE _time >= TIMESTAMP '${iso(lo)}' AND _time < TIMESTAMP '${iso(lo + DayMs)}' GROUP BY kind","use_cache":true,"limit":100}"""
    case SevenDay =>
      s"""{"query":"SELECT user_id, count(*) AS n FROM $Table WHERE _time >= TIMESTAMP '${iso(NowMs - 7 * DayMs)}' AND _time < TIMESTAMP '${iso(NowMs)}' GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10","limit":100}"""
  }

  /** None when `rows` is the right answer over `truth`. */
  private def check(s: Shape, rows: Seq[JsonNode], truth: Seq[Ev]): Option[String] = s match {
    case LastHour =>
      val want = truth.filter(e => e.status >= 500 && e.timeMs >= NowMs - 3600000L && e.timeMs < NowMs)
      val key = (e: Ev) => (e.user, e.kind, e.status, e.latency)
      val pool = mutable.Map[(Long, String, Int, Double), Int]()
      want.foreach(e => pool(key(e)) = pool.getOrElse(key(e), 0) + 1)
      val got = rows.map(r => (r.get("user_id").asLong, r.get("kind").asText,
        r.get("status").asInt, r.get("latency").asDouble))
      val unknown = got.count { k =>
        val n = pool.getOrElse(k, 0); if (n > 0) pool(k) = n - 1; n == 0
      }
      if (got.size != math.min(50, want.size)) Some(s"filter: ${got.size} rows, want ${math.min(50, want.size)}")
      else if (unknown > 0) Some(s"filter: $unknown rows not in the table")
      else None
    case OneDay(d) =>
      val lo = Day0 + d * DayMs
      val want = truth.filter(e => e.timeMs >= lo && e.timeMs < lo + DayMs).groupBy(_.kind)
        .map { case (k, es) => (k, (es.size.toLong, es.map(e => BigDecimal(e.latency)).sum)) }
      val got = rows.map(r => (r.get("kind").asText, (r.get("n").asLong, BigDecimal(r.get("total").asText)))).toMap
      if (got == want) None else Some(s"daily($d): $got vs $want")
    case SevenDay =>
      val want = truth.filter(e => e.timeMs >= NowMs - 7 * DayMs && e.timeMs < NowMs)
        .groupBy(_.user).map { case (u, es) => (u, es.size.toLong) }.toSeq
        .sortBy { case (u, n) => (-n, u) }.take(10)
      val got = rows.map(r => (r.get("user_id").asLong, r.get("n").asLong))
      if (got == want) None else Some(s"topk: $got vs $want")
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ingestRate = ctx.opts("ingest_rate").toDouble
    val searchRate = ctx.opts("search_rate").toDouble
    val batchRows = if (ctx.toy) 20 else 200
    val historyRows = if (ctx.toy) 50 else 1000
    val mapper = new ObjectMapper()
    val catalog = new Catalog(spark, s"${ctx.scratch}/catalog")
    val server = new RestServer(spark, catalog, port = 0)
    server.start()
    val base = s"http://127.0.0.1:${server.boundPort}"
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    def call(method: String, path: String, body: String = null): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(java.time.Duration.ofSeconds(60))
      val req = if (body == null) b.method(method, HttpRequest.BodyPublishers.noBody())
                else b.method(method, HttpRequest.BodyPublishers.ofString(body))
      val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def ok(r: (Int, String), what: String): String =
      if (r._1 == 200) r._2 else sys.error(s"$what: HTTP ${r._1} ${r._2.take(200)}")
    def rowsOf(body: String): Seq[JsonNode] =
      mapper.readTree(body).get("rows").elements().asScala.toSeq

    val rng = new Random(ctx.seed)
    val truth = new ConcurrentLinkedQueue[Ev]()
    // Set-up: a fresh table with seven days of history, twice, timed.
    val setups = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      call("DELETE", s"/dae/v1/ddl/tables/$Table")
      truth.clear()
      ok(call("POST", "/dae/v1/ddl/tables", s"""{"name":"$Table","columns":[
        {"name":"user_id","type":"BIGINT"},{"name":"kind","type":"STRING"},
        {"name":"status","type":"INT"},{"name":"latency","type":"DOUBLE"},
        {"name":"msg","type":"STRING"}],"order_by":["kind"],"partition_by_granularity":"D"}"""), "ddl")
      val history = (0 until 7).map(d => batch(rng, historyRows, Day0 + d * DayMs, DayMs)) :+
        batch(rng, historyRows / 5, NowMs - 3600000L, 3600000L)
      history.foreach { rows =>
        ok(call("POST", s"/dae/v1/ingest/tables/$Table", ingestBody(rows)), "preload")
        rows.foreach(truth.add)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Open-loop schedule: each stream arrives evenly spaced at its fixed
    // rate, and the search shapes come in a fixed cycle, one cycle per
    // ingest at the 1:6 mix. The seed sets every row sent; timing and shape
    // order are the same in every run. In each cycle the first dashboard
    // request comes well after the ingest that invalidated the cache (a
    // miss) and the second well after the first (a hit), so which of them
    // hit does not depend on how fast an ingest finishes.
    def arrivals(rate: Double, phase: Double): Seq[Long] =
      (0 until (ctx.seconds * rate).toInt).map(i => ((i + phase) * 1e9 / rate).toLong)
    val ingests = arrivals(ingestRate, 0.0).map(t => (t, Left(batch(rng, batchRows, NowMs - 3600000L, 3600000L))))
    val cycle = Seq(LastHour, SevenDay, OneDay(6), LastHour, SevenDay, OneDay(6))
    val searches = arrivals(searchRate, 0.5).zipWithIndex.map { case (t, i) =>
      (t, Right(cycle(i % cycle.size)))
    }
    val schedule = (ingests ++ searches).sortBy(_._1)

    final case class Done(kind: String, dueNs: Long, sentNs: Long, endNs: Long, ok: Boolean)
    val done = new ConcurrentLinkedQueue[Done]()
    val problems = new ConcurrentLinkedQueue[String]()
    val lateNs = new AtomicLong(0)
    // One writer connection and three readers: with several concurrent
    // ingests into one table, requests failed and rows went missing in
    // trial runs, so ingest is single-writer per table.
    val writer = Executors.newSingleThreadExecutor()
    val readers = Executors.newFixedThreadPool(3)
    // Untimed warm-up, closed loop, with the timed phase's mix: without it
    // latencies fell by a third over the first ten timed seconds as the JIT
    // compiled the request path. A fixed count of rounds, so every run
    // starts its timed phase with the same number of parts.
    def task(f: => Unit): Callable[Unit] = () => f
    val warmT0 = System.nanoTime()
    val warmup = (0 until (if (ctx.toy) 1 else WarmRounds)).flatMap { _ =>
      val rows = batch(rng, batchRows, NowMs - 3600000L, 3600000L)
      writer.submit(task {
        ok(call("POST", s"/dae/v1/ingest/tables/$Table", ingestBody(rows)), "warm-up ingest")
        rows.foreach(truth.add)
      }) +: cycle.map(s => readers.submit(task {
        ok(call("POST", "/dae/v1/search", searchBody(s)), "warm-up search")
      }))
    }
    warmup.foreach(_.get())
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    Mem.sample()
    Layers.begin(spark)
    val phaseStartMs = System.currentTimeMillis()
    val startNs = System.nanoTime() + 20000000L
    val reqId = new AtomicLong(0)
    schedule.foreach { case (offset, op) =>
      val due = startNs + offset
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      lateNs.addAndGet(math.max(0L, System.nanoTime() - due))
      (if (op.isLeft) writer else readers).execute { () =>
        val id = reqId.incrementAndGet()
        val sent = System.nanoTime()
        val (kind, success) =
          try op match {
            case Left(rows) =>
              rows.foreach(truth.add)
              val (code, body) = Trace.span("op:ingest", id)(
                call("POST", s"/dae/v1/ingest/tables/$Table", ingestBody(rows)))
              if (code != 200) problems.add(s"ingest: HTTP $code ${body.take(200)}")
              ("ingest", code == 200)
            case Right(shape) =>
              val (code, body) = Trace.span(s"op:${shape.name}", id)(
                call("POST", "/dae/v1/search", searchBody(shape)))
              if (code != 200) problems.add(s"${shape.name}: HTTP $code ${body.take(200)}")
              (shape.name, code == 200)
          } catch {
            case e: Exception =>
              problems.add(s"request: ${e.getMessage}".take(300))
              (op.fold(_ => "ingest", _.name), false)
          }
        done.add(Done(kind, due, sent, System.nanoTime(), success))
      }
    }
    Seq(writer, readers).foreach { p => p.shutdown(); p.awaitTermination(90, TimeUnit.SECONDS) }
    Layers.end(spark)
    Mem.sample()
    val phaseEndMs = System.currentTimeMillis()

    // Per-layer reads from the server's own surfaces, and direct timings
    // of the catalog calls behind each request.
    val layers = mutable.ArrayBuffer[(String, Double)]()
    val all = done.asScala.toSeq
    val searchesDone = all.filter(d => d.kind != "ingest" && d.ok)
    if (ctx.trace) {
      val log = rowsOf(ok(call("GET", "/dae/v1/system/query_log"), "query_log"))
        .filter(r => r.get("status").asText == "ok" && r.get("query").asText.contains(Table))
        .filter(r => r.get("event_ms").asLong >= phaseStartMs && r.get("event_ms").asLong <= phaseEndMs)
      val serverMs = Stats.mean(log.map(_.get("duration_ms").asDouble))
      val clientMs = Stats.mean(searchesDone.map(d => (d.endNs - d.sentNs) / 1e6))
      val metrics = ok(call("GET", "/metrics"), "metrics").linesIterator
        .filterNot(_.startsWith("#")).map(_.split(" ")).collect { case Array(k, v) => k -> v.toDouble }.toMap
      val hits = metrics.getOrElse("graft_query_cache_hits", 0.0)
      val misses = metrics.getOrElse("graft_query_cache_misses", 0.0)
      val regMs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        Trace.span("catalog.register_views") {
          catalog.registerViews(); SystemTables.registerCatalogViews(spark, catalog)
        }
        (System.nanoTime() - t0) / 1e6
      }
      val ingMs = (1 to 3).map { _ =>
        val rows = batch(rng, batchRows, NowMs - 3600000L, 3600000L)
        val t0 = System.nanoTime()
        Trace.span("catalog.ingest")(catalog.ingest(Table,
          Seq("user_id", "kind", "status", "latency", "msg", "_time"),
          rows.map(e => Seq(e.user.toString, e.kind, e.status.toString, e.latency.toString,
            s"msg ${e.user}", iso(e.timeMs)))))
        rows.foreach(truth.add)
        (System.nanoTime() - t0) / 1e6
      }
      val parts = rowsOf(ok(call("GET", "/dae/v1/system/parts"), "parts"))
        .filter(_.get("table").asText == Table)
      val bytes = parts.map(_.get("bytes").asDouble).sum
      layers ++= Seq(
        "rest.server_ms" -> serverMs,
        "rest.transport_ms" -> (clientMs - serverMs),
        "rest.register_views_ms" -> Stats.median(regMs),
        "rest.generator_late_ms" -> lateNs.get / 1e6 / math.max(1, schedule.size),
        "core.query_cache_hit_ratio" -> (if (hits + misses > 0) hits / (hits + misses) else 0.0),
        "catalog.ingest_ms" -> Stats.median(ingMs),
        "catalog.parts" -> parts.map(_.get("n_files").asDouble).sum,
        "catalog.bytes_per_row" -> bytes / truth.size)
    }

    // Untimed correctness pass against the generator's ground truth, on
    // three connections.
    val truthNow = truth.asScala.toSeq
    val checkers = Executors.newFixedThreadPool(3)
    val wrong = (Seq(LastHour, SevenDay) ++ (0 until 7).map(OneDay)).map { s =>
      checkers.submit(() => check(s, rowsOf(ok(call("POST", "/dae/v1/search", searchBody(s)), "check")), truthNow))
    }.flatMap(_.get())
    checkers.shutdown()
    server.stop()

    def lat(kind: String => Boolean) =
      all.filter(d => kind(d.kind) && d.ok).map(d => (d.endNs - d.dueNs) / 1e6)
    val search = lat(_ != "ingest")
    val ingest = lat(_ == "ingest")
    val classes = Seq("filter", "daily", "topk", "ingest").map(k => k -> lat(_ == k))
    val failed = all.count(!_.ok) + wrong.size
    val pct = (xs: Seq[Double], p: Double) => if (xs.isEmpty) 0.0 else Stats.pct(xs, p)
    Outcome(
      setupS = setups,
      p50Ms = pct(search, 50), tailMs = if (search.isEmpty) 0.0 else Stats.tail(search),
      workS = (search ++ ingest).sum / 1000.0,
      attempted = all.size + wrong.size, failed = failed,
      correct = failed == 0 && search.nonEmpty,
      detail = Seq(
        "search_p50_ms" -> pct(search, 50), "search_p95_ms" -> pct(search, 95),
        "ingest_p50_ms" -> pct(ingest, 50), "ingest_p95_ms" -> pct(ingest, 95),
        "searches" -> search.size, "ingests" -> ingest.size,
        "tail_pct" -> Stats.tailPct(search.size),
        "ingest_rate" -> ingestRate, "search_rate" -> searchRate,
        "generator_late_ms_mean" -> lateNs.get / 1e6 / math.max(1, schedule.size),
        "class_p50_ms" -> classes.map { case (k, xs) => k -> pct(xs, 50) }.toMap,
        "rows_total" -> truthNow.size, "warmup_s" -> warmupS),
      layers = layers.toSeq :+ ("ops" -> all.size.toDouble),
      problems = problems.asScala.toSeq ++ wrong)
  }
}
