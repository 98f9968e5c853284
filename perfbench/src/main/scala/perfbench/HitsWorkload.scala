package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** `hits`: the reference's published 43-query web-analytics suite over a
  * hits-shaped table generated from the seed and cached in executor
  * memory. Set-up declares the engine's row projections, aggregate states
  * and NDV statistics through `graft.plans.Projections` / `TableStats`;
  * one closed-loop client then runs the 43 queries in a fixed order, pass
  * after pass. Execution dominates: scans, aggregation and shuffles over
  * cached columns, projection routing, lazy top-k and the LIKE rewrite.
  */
object HitsWorkload extends Workload with AdaptiveSparkPlanHelper {

  /** The column shapes of the engine's hits generator, with the workload
    * seed mixed into every hash seed. Written once per (seed, rows). */
  def generate(spark: SparkSession, path: String, rows: Long, seed: Long): Unit = {
    if (new java.io.File(path, "_SUCCESS").exists()) return
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val mix = (seed % 1000003L) * 1000L
    def h(k: Int) = xxhash64(lit(mix + k), col("id"))
    def hm(k: Int, m: Long) = pmod(h(k), lit(m))
    val widths = array(Seq(1366, 1920, 1280, 1440, 360, 768, 1024, 1536,
      2560, 412).map(lit): _*)
    val nFiles = math.max(4L, rows / 125000L).toInt
    spark.range(0, rows, 1, nFiles)
      .withColumn("WatchID", h(7))
      .withColumn("UserID",
        when(hm(2, 100) < 20, hm(21, 100)).otherwise(hm(22, 1200000)))
      .withColumn("CounterID",
        when(hm(3, 100) < 15, lit(62L)).otherwise(hm(31, 2000)).cast("int"))
      .withColumn("ClientIP", hm(4, 5000000).cast("int"))
      .withColumn("RegionID",
        when(hm(5, 100) < 40, hm(51, 20)).otherwise(hm(52, 5000)).cast("int"))
      .withColumn("AdvEngineID",
        when(hm(6, 100) < 5, hm(61, 20) + 1).otherwise(lit(0L)).cast("int"))
      .withColumn("ResolutionWidth",
        element_at(widths, (hm(8, 10) + 1).cast("int")).cast("int"))
      .withColumn("SearchPhrase",
        when(hm(9, 100) < 20, concat(lit("search phrase "), hm(91, 100000)))
          .otherwise(lit("")))
      .withColumn("SearchEngineID",
        when(col("SearchPhrase") =!= "", hm(10, 5) + 1).otherwise(lit(0L)).cast("int"))
      .withColumn("MobilePhoneModel",
        when(hm(11, 100) < 10, concat(lit("model-"), hm(111, 200))).otherwise(lit("")))
      .withColumn("MobilePhone", hm(112, 50).cast("int"))
      .withColumn("URL",
        when(hm(12, 1000) < 3, lit("http://example.ru/"))
          .when(hm(12, 1000) < 11,
            concat(lit("http://example.com/metrika/page"), hm(121, 10000)))
          .otherwise(concat(lit("http://example.com/p"), hm(122, 1000000))))
      .withColumn("Title",
        when(hm(13, 1000) < 5, concat(lit("Yandex news "), hm(131, 1000)))
          .otherwise(concat(lit("Title "), hm(132, 500000))))
      .withColumn("Referer",
        when(hm(14, 100) < 30,
          concat(when(hm(141, 2) === 0, lit("http://www.")).otherwise(lit("http://")),
            lit("ref"), hm(142, 1000), lit(".example.org/path/"), hm(143, 10000)))
          .otherwise(lit("")))
      .withColumn("EventTime", timestamp_seconds(lit(1372636800L) + hm(15, 31L * 86400)))
      .withColumn("EventDate", to_date(col("EventTime")))
      .withColumn("Refresh", (hm(16, 100) < 2).cast("int"))
      .withColumn("DontCountHits", (hm(17, 100) < 1).cast("int"))
      .withColumn("IsLink", (hm(18, 100) < 5).cast("int"))
      .withColumn("IsDownload", (hm(19, 100) < 1).cast("int"))
      .withColumn("TraficSourceID", (hm(20, 10) - 1).cast("int"))
      .withColumn("URLHash", xxhash64(col("URL")))
      .withColumn("RefererHash", xxhash64(col("Referer")))
      .withColumn("WindowClientWidth",
        element_at(widths, (hm(23, 10) + 1).cast("int")).cast("int"))
      .withColumn("WindowClientHeight",
        element_at(widths, (hm(24, 10) + 1).cast("int")).cast("int"))
      .drop("id")
      .repartitionByRange(nFiles, col("EventDate"), col("CounterID"))
      .sortWithinPartitions("EventDate", "CounterID", "EventTime")
      .write.mode("overwrite").parquet(path)
  }

  /** The 43 queries (ClickHouse `uniq` → approx_count_distinct, `any` →
    * any_value, halfMD5 point filters → xxhash64). */
  val queries: Seq[String] = {
    val sums90 = (0 to 89).map(i => s"sum(ResolutionWidth + $i)").mkString(", ")
    val ctr62 = "CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'"
    Seq(
      "SELECT count(*) FROM hits",
      "SELECT count(*) FROM hits WHERE AdvEngineID != 0",
      "SELECT sum(AdvEngineID), count(*), avg(ResolutionWidth) FROM hits",
      "SELECT sum(UserID) FROM hits",
      "SELECT approx_count_distinct(UserID) FROM hits",
      "SELECT approx_count_distinct(SearchPhrase) FROM hits",
      "SELECT min(EventDate), max(EventDate) FROM hits",
      "SELECT AdvEngineID, count(*) FROM hits WHERE AdvEngineID != 0 GROUP BY AdvEngineID ORDER BY count(*) DESC",
      "SELECT RegionID, approx_count_distinct(UserID) AS u FROM hits GROUP BY RegionID ORDER BY u DESC LIMIT 10",
      "SELECT RegionID, sum(AdvEngineID), count(*) AS c, avg(ResolutionWidth), approx_count_distinct(UserID) FROM hits GROUP BY RegionID ORDER BY c DESC LIMIT 10",
      "SELECT MobilePhoneModel, approx_count_distinct(UserID) AS u FROM hits WHERE MobilePhoneModel != '' GROUP BY MobilePhoneModel ORDER BY u DESC LIMIT 10",
      "SELECT MobilePhone, MobilePhoneModel, approx_count_distinct(UserID) AS u FROM hits WHERE MobilePhoneModel != '' GROUP BY MobilePhone, MobilePhoneModel ORDER BY u DESC LIMIT 10",
      "SELECT SearchPhrase, count(*) AS c FROM hits WHERE SearchPhrase != '' GROUP BY SearchPhrase ORDER BY c DESC LIMIT 10",
      "SELECT SearchPhrase, approx_count_distinct(UserID) AS u FROM hits WHERE SearchPhrase != '' GROUP BY SearchPhrase ORDER BY u DESC LIMIT 10",
      "SELECT SearchEngineID, SearchPhrase, count(*) AS c FROM hits WHERE SearchPhrase != '' GROUP BY SearchEngineID, SearchPhrase ORDER BY c DESC LIMIT 10",
      "SELECT UserID, count(*) FROM hits GROUP BY UserID ORDER BY count(*) DESC LIMIT 10",
      "SELECT UserID, SearchPhrase, count(*) FROM hits GROUP BY UserID, SearchPhrase ORDER BY count(*) DESC LIMIT 10",
      "SELECT UserID, SearchPhrase, count(*) FROM hits GROUP BY UserID, SearchPhrase LIMIT 10",
      "SELECT UserID, minute(EventTime) AS m, SearchPhrase, count(*) FROM hits GROUP BY UserID, m, SearchPhrase ORDER BY count(*) DESC LIMIT 10",
      "SELECT UserID FROM hits WHERE UserID = 1234567890",
      "SELECT count(*) FROM hits WHERE URL LIKE '%metrika%'",
      "SELECT SearchPhrase, any_value(URL), count(*) AS c FROM hits WHERE URL LIKE '%metrika%' AND SearchPhrase != '' GROUP BY SearchPhrase ORDER BY c DESC LIMIT 10",
      "SELECT SearchPhrase, any_value(URL), any_value(Title), count(*) AS c, approx_count_distinct(UserID) FROM hits WHERE Title LIKE '%Yandex%' AND URL NOT LIKE '%.example.%' AND SearchPhrase != '' GROUP BY SearchPhrase ORDER BY c DESC LIMIT 10",
      "SELECT * FROM hits WHERE URL LIKE '%metrika%' ORDER BY EventTime LIMIT 10",
      "SELECT SearchPhrase FROM hits WHERE SearchPhrase != '' ORDER BY EventTime LIMIT 10",
      "SELECT SearchPhrase FROM hits WHERE SearchPhrase != '' ORDER BY SearchPhrase LIMIT 10",
      "SELECT SearchPhrase FROM hits WHERE SearchPhrase != '' ORDER BY EventTime, SearchPhrase LIMIT 10",
      "SELECT CounterID, avg(length(URL)) AS l, count(*) AS c FROM hits WHERE URL != '' GROUP BY CounterID HAVING count(*) > 100000 ORDER BY l DESC LIMIT 25",
      "SELECT domain_without_www(Referer) AS key, avg(length(Referer)) AS l, count(*) AS c, any_value(Referer) FROM hits WHERE Referer != '' GROUP BY key HAVING count(*) > 100000 ORDER BY l DESC LIMIT 25",
      s"SELECT $sums90 FROM hits",
      "SELECT SearchEngineID, ClientIP, count(*) AS c, sum(Refresh), avg(ResolutionWidth) FROM hits WHERE SearchPhrase != '' GROUP BY SearchEngineID, ClientIP ORDER BY c DESC LIMIT 10",
      "SELECT WatchID, ClientIP, count(*) AS c, sum(Refresh), avg(ResolutionWidth) FROM hits WHERE SearchPhrase != '' GROUP BY WatchID, ClientIP ORDER BY c DESC LIMIT 10",
      "SELECT WatchID, ClientIP, count(*) AS c, sum(Refresh), avg(ResolutionWidth) FROM hits GROUP BY WatchID, ClientIP ORDER BY c DESC LIMIT 10",
      "SELECT URL, count(*) AS c FROM hits GROUP BY URL ORDER BY c DESC LIMIT 10",
      "SELECT 1, URL, count(*) AS c FROM hits GROUP BY 1, URL ORDER BY c DESC LIMIT 10",
      "SELECT ClientIP AS x, ClientIP - 1, ClientIP - 2, ClientIP - 3, count(*) AS c FROM hits GROUP BY ClientIP ORDER BY c DESC LIMIT 10",
      s"SELECT URL, count(*) AS PageViews FROM hits WHERE $ctr62 AND DontCountHits = 0 AND Refresh = 0 AND URL != '' GROUP BY URL ORDER BY PageViews DESC LIMIT 10",
      s"SELECT Title, count(*) AS PageViews FROM hits WHERE $ctr62 AND DontCountHits = 0 AND Refresh = 0 AND Title != '' GROUP BY Title ORDER BY PageViews DESC LIMIT 10",
      s"SELECT URL, count(*) AS PageViews FROM hits WHERE $ctr62 AND Refresh = 0 AND IsLink = 1 AND IsDownload = 0 GROUP BY URL ORDER BY PageViews DESC LIMIT 1000",
      s"SELECT TraficSourceID, SearchEngineID, AdvEngineID, IF(SearchEngineID = 0 AND AdvEngineID = 0, Referer, '') AS Src, URL AS Dst, count(*) AS PageViews FROM hits WHERE $ctr62 AND Refresh = 0 GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst ORDER BY PageViews DESC LIMIT 1000",
      s"SELECT URLHash, EventDate, count(*) AS PageViews FROM hits WHERE $ctr62 AND Refresh = 0 AND TraficSourceID IN (-1, 6) AND RefererHash = xxhash64('http://example.ru/') GROUP BY URLHash, EventDate ORDER BY PageViews DESC LIMIT 100",
      s"SELECT WindowClientWidth, WindowClientHeight, count(*) AS PageViews FROM hits WHERE $ctr62 AND Refresh = 0 AND DontCountHits = 0 AND URLHash = xxhash64('http://example.ru/') GROUP BY WindowClientWidth, WindowClientHeight ORDER BY PageViews DESC LIMIT 10000",
      "SELECT date_trunc('minute', EventTime) AS Minute, count(*) AS PageViews FROM hits WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-02' AND Refresh = 0 AND DontCountHits = 0 GROUP BY Minute ORDER BY Minute")
  }

  /** Hits queries whose executor CPU is reported as functions.like_cpu_ms. */
  private val likeQueries = Set("q21", "q22", "q23", "q24")

  /** The engine's projection tier for a memory-resident hits table: row
    * projections on the shuffle-bound keys, the CounterID=62 slice (a
    * no-op while the base is cached), aggregate states and the
    * expression-keyed filtered states of the CounterID=62 family. */
  def declareProjections(spark: SparkSession, hits: DataFrame): Unit = {
    import graft.plans.Projections
    val parts = spark.sparkContext.defaultParallelism
    Projections.register(spark, hits, Seq("UserID"), Seq("UserID", "SearchPhrase", "EventTime"))
    Projections.register(spark, hits, Seq("ClientIP"), Seq("ClientIP", "WatchID",
      "SearchEngineID", "SearchPhrase", "Refresh", "ResolutionWidth"))
    Projections.registerFilteredByRegime(spark, hits, "CounterID", 62L,
      Seq("CounterID", "EventDate", "Refresh", "TraficSourceID", "SearchEngineID",
        "AdvEngineID", "Referer", "URL"),
      diskDir = None, clusterBy = Some((Seq("URL"), parts)))
    Projections.registerAgg(spark, hits, Seq("AdvEngineID"), Nil, coalesceTo = Some(1))
    Projections.registerAgg(spark, hits, Seq("MobilePhone", "MobilePhoneModel"),
      Seq("UserID", "AdvEngineID", "ResolutionWidth", "SearchPhrase", "EventDate"))
    Projections.registerAgg(spark, hits, Seq("RegionID", "AdvEngineID"),
      Seq("UserID", "AdvEngineID", "ResolutionWidth"))
    Projections.registerAgg(spark, hits, Seq("SearchEngineID", "SearchPhrase"), Seq("UserID"))
    Projections.registerAgg(spark, hits, Seq("URL"), Nil)
    Projections.registerAggExpr(spark, hits, keys = Seq(col("CounterID")),
      measures = Seq(length(col("URL"))), where = Seq(col("URL") =!= ""))
    Projections.registerAggExpr(spark, hits, keys = Seq(expr("domain_without_www(Referer)")),
      measures = Seq(length(col("Referer")), col("Referer")), where = Seq(col("Referer") =!= ""))
    val ctr62 = col("CounterID") === 62
    val noCount = Seq(ctr62, col("DontCountHits") === 0, col("Refresh") === 0)
    val link = Seq(ctr62, col("Refresh") === 0, col("IsLink") === 1, col("IsDownload") === 0)
    val july = Seq(col("EventDate") >= lit(java.sql.Date.valueOf("2013-07-01")),
      col("EventDate") <= lit(java.sql.Date.valueOf("2013-07-31")))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("URL")), measures = Nil,
      where = noCount ++ Seq(col("URL") =!= "") ++ july, clusterIdx = Seq(0))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("Title")), measures = Nil,
      where = noCount ++ Seq(col("Title") =!= "") ++ july, clusterIdx = Seq(0))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("URL")), measures = Nil,
      where = link ++ july, clusterIdx = Seq(0))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("URL"), col("EventDate")),
      measures = Nil, where = noCount ++ Seq(col("URL") =!= ""), clusterIdx = Seq(0))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("Title"), col("EventDate")),
      measures = Nil, where = noCount ++ Seq(col("Title") =!= ""), clusterIdx = Seq(0))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("URL"), col("EventDate")),
      measures = Nil, where = link, clusterIdx = Seq(0))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("URLHash"), col("EventDate")),
      measures = Nil, where = Seq(ctr62, col("Refresh") === 0,
        col("TraficSourceID").isin(-1, 6),
        col("RefererHash") === xxhash64(lit("http://example.ru/"))))
    Projections.registerAggExpr(spark, hits, keys = Seq(col("WindowClientWidth"),
      col("WindowClientHeight"), col("EventDate")), measures = Nil,
      where = Seq(ctr62, col("Refresh") === 0, col("DontCountHits") === 0,
        col("URLHash") === xxhash64(lit("http://example.ru/"))),
      coalesceTo = Some(1))
    Projections.registerAggExpr(spark, hits,
      keys = Seq(date_trunc("minute", col("EventTime")), col("EventDate")), measures = Nil,
      where = Seq(ctr62, col("Refresh") === 0, col("DontCountHits") === 0),
      coalesceTo = Some(1))
    Projections.registerAggExpr(spark, hits,
      keys = Seq(col("TraficSourceID"), col("SearchEngineID"), col("AdvEngineID"),
        expr("IF(SearchEngineID = 0 AND AdvEngineID = 0, Referer, '')"), col("URL")),
      measures = Nil, where = Seq(ctr62, col("Refresh") === 0) ++ july)
  }

  private def setUp(spark: SparkSession, path: String): DataFrame = {
    val hits = spark.read.parquet(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hits.count()
    hits.createOrReplaceTempView("hits")
    graft.plans.TableStats.analyze(hits)
    declareProjections(spark, hits)
    hits
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rows = if (ctx.toy) 20000L else 200000L
    val path = s"${ctx.data}/hits-s${ctx.seed}-r$rows.parquet"
    generate(spark, path, rows, ctx.seed)
    // the engine's suite settings: vectorized agg hash map, uncompressed
    // cache batches, no AQE re-planning of sub-second in-memory queries
    spark.conf.set("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    // One set-up: declaring the projections takes ~18 s at 4 cores.
    val tSetup = System.nanoTime()
    val hits = setUp(spark, path)
    val setupTimes = Seq((System.nanoTime() - tSetup) / 1e9)
    def once(i: Int): Unit = {
      val df = spark.sql(queries(i))
      df.write.mode("overwrite").format("noop").save()
      Trace.noteAnalysis(df)
    }
    // Untimed first pass: collects the routed answers for the correctness
    // check and warms the JIT and codegen caches before timing.
    val routedRows = queries.map(q => spark.sql(q).collect().toSeq)

    val samples = Array.fill(queries.length)(Vector.empty[Double])
    var attempted = 0L
    var failed = 0L
    val problems = Vector.newBuilder[String]
    var passes = 0
    Mem.sample()
    Layers.begin(spark)
    val deadline = ctx.deadlineNs
    while (passes == 0 || System.nanoTime() < deadline) {
      queries.indices.foreach { i =>
        attempted += 1
        val t0 = System.nanoTime()
        try {
          Trace.span(s"op:q${i + 1}", attempted)(once(i))
          samples(i) = samples(i) :+ (System.nanoTime() - t0) / 1e6
        } catch {
          case e: Exception =>
            failed += 1
            problems += s"q${i + 1}: ${e.getMessage}".take(300)
        }
      }
      passes += 1
    }
    Layers.end(spark)
    Mem.sample()

    val routed = if (ctx.trace) routedCount(spark, hits) else 0
    // Unrouted answers of the same SQL on the base table, with exact
    // distinct counts where the suite asks for approximate ones.
    graft.plans.Projections.clear()
    val mismatches = queries.indices.flatMap { i =>
      val problem =
        if (Answers.unordered(queries(i))) Answers.subsetOfFull(spark, queries(i), routedRows(i))
        else Answers.compare(queries(i), routedRows(i),
          spark.sql(Answers.exactDistinct(queries(i))).collect().toSeq)
      problem.map(m => s"q${i + 1}: $m")
    }
    graft.plans.TableStats.clear()
    hits.unpersist(true)

    val ok = samples.forall(_.nonEmpty)
    val medians = samples.map(xs => if (xs.isEmpty) 0.0 else Stats.median(xs)).toSeq
    Outcome(
      setupS = setupTimes,
      p50Ms = Stats.median(medians), tailMs = Stats.tail(samples.toSeq.flatten),
      workS = medians.sum / 1000.0,
      attempted = attempted, failed = failed + mismatches.size,
      correct = ok && failed == 0 && mismatches.isEmpty,
      detail = Seq(
        "hits_suite_s" -> medians.sum / 1000.0,
        "hits_geomean_ms" -> Stats.geomean(medians),
        "rows" -> rows, "passes" -> passes,
        "samples_per_query_min" -> samples.map(_.size).min,
        "per_query_median_ms" -> medians.zipWithIndex.map { case (m, i) => s"q${i + 1}" -> m }.toMap),
      layers = Seq(
        "plans.routed_queries" -> routed.toDouble,
        "functions.like_cpu_ms" -> Layers.cpuMsOf(likeQueries)),
      problems = problems.result() ++ mismatches)
  }

  /** Queries whose executed plan reads a projection or state table: any
    * cached relation other than the base table's, or a file scan. */
  private def routedCount(spark: SparkSession, hits: DataFrame): Int = {
    val base = hits.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
    }
    queries.count { q =>
      val plan = spark.sql(q).queryExecution.executedPlan
      collectWithSubqueries(plan) {
        case s: InMemoryTableScanExec => !base.contains(s.relation.cacheBuilder)
        case _: FileSourceScanExec => true
      }.contains(true)
    }
  }
}

/** Compares a routed query answer with the unrouted one. Exact columns
  * must be equal (doubles to 10 significant digits); an
  * approx_count_distinct column must be within four standard errors
  * (4 x 5 %) of the exact distinct count. Rows tied with the LIMIT
  * boundary on the first ORDER BY key may differ, as a LIMIT over ties
  * picks any of them. */
object Answers {
  private val approxRe = "(?i)approx_count_distinct\\(([^)]*)\\)(\\s+AS\\s+(\\w+))?".r
  private val orderRe = "(?i)ORDER BY\\s+(count\\(\\*\\)|\\w+)(\\s+DESC)?".r
  private val limitRe = "(?i)\\s+LIMIT\\s+\\d+\\s*$".r
  private val tolerance = 0.2

  /** The same SQL with exact distinct counts. */
  def exactDistinct(sql: String): String =
    approxRe.replaceAllIn(sql, m => {
      val alias = Option(m.group(3)).getOrElse(s"`approx_count_distinct(${m.group(1)})`")
      s"count(DISTINCT ${m.group(1)}) AS $alias"
    })

  private def norm(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else BigDecimal(d).round(new java.math.MathContext(10)).toDouble
    case other => other
  }

  /** LIMIT without ORDER BY: any `n` rows of the full answer are right. */
  def unordered(sql: String): Boolean =
    limitRe.findFirstIn(sql).isDefined && !sql.toUpperCase.contains("ORDER BY")

  /** Every returned row must be a row of the full (unlimited) answer. */
  def subsetOfFull(spark: org.apache.spark.sql.SparkSession, sql: String,
                   got: Seq[Row]): Option[String] = {
    val full = spark.sql(limitRe.replaceAllIn(sql, ""))
    val gotDf = spark.createDataFrame(
      spark.sparkContext.parallelize(got, 1), full.schema)
    val extra = gotDf.exceptAll(full).count()
    if (extra == 0) None else Some(s"$extra rows are not in the full answer")
  }

  def compare(sql: String, got: Seq[Row], want: Seq[Row]): Option[String] = {
    if (got.length != want.length) return Some(s"${got.length} rows vs ${want.length}")
    if (got.isEmpty) return None
    val fields = got.head.schema.fieldNames.toSeq
    val approxNames = approxRe.findAllMatchIn(sql).map(m =>
      Option(m.group(3)).getOrElse(s"approx_count_distinct(${m.group(1)})")).toSet
    val approx = fields.indices.filter(i => approxNames.exists(_.equalsIgnoreCase(fields(i))))
    val exact = fields.indices.filterNot(approx.contains)
    def key(r: Row) = exact.map(i => norm(r.get(i)))
    def within(a: Any, b: Any) = (a, b) match {
      case (x: Long, y: Long) => math.abs(x - y) <= tolerance * math.abs(y)
      case _ => a == b
    }
    def sortKey(k: Seq[Any]) = k.map(String.valueOf).mkString("\u0001")
    val g = got.map(r => (key(r), r)).sortBy(x => sortKey(x._1))
    val w = want.map(r => (key(r), r)).sortBy(x => sortKey(x._1))
    val sameKeys = g.map(_._1) == w.map(_._1)
    if (sameKeys) {
      val bad = g.zip(w).exists { case ((_, a), (_, b)) => approx.exists(i => !within(a.get(i), b.get(i))) }
      if (bad) Some("approx_count_distinct beyond its error") else None
    } else {
      // tie at the LIMIT boundary: only rows sharing the boundary value of
      // the first ORDER BY key may differ, and equally many on each side
      val tieCol = orderRe.findFirstMatchIn(sql).map(_.group(1)).flatMap { c =>
        val name = if (c.equalsIgnoreCase("count(*)")) "count(1)" else c
        fields.indices.find(i => fields(i).equalsIgnoreCase(name))
      }
      tieCol match {
        case Some(tc) if !approx.contains(tc) =>
          val boundary = want.last.get(tc)
          val (gt, gr) = g.partition(_._2.get(tc) == boundary)
          val (wt, wr) = w.partition(_._2.get(tc) == boundary)
          if (gt.size == wt.size && gr.map(_._1) == wr.map(_._1)) None
          else Some("rows differ beyond LIMIT ties")
        case _ if approx.nonEmpty =>
          // ordered by an approximate count: compare the ranked counts
          val a = approx.head
          val gv = got.map(_.get(a)); val wv = want.map(_.get(a))
          if (gv.zip(wv).forall { case (x, y) => within(x, y) }) None
          else Some("approx-ranked rows differ")
        case _ => Some("rows differ")
      }
    }
  }
}
