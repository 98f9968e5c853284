package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** `micro`: a fixed subset of the batch query registry
  * (`graft.SparkEntry.queries`) over generated star-schema tables, plus
  * four aggregations over `lineitem` that the engine routes to a row
  * projection and an aggregate state declared at set-up.
  *
  * Each query pays the per-query floor (analysis, graft rules including
  * projection routing, physical planning, codegen, job scheduling) and
  * executes little data. Results go through the noop sink so every column
  * is computed. After an untimed correctness pass, which also warms every
  * query, one closed-loop client runs all queries in a seed-permuted order
  * for a fixed number of passes, one per three seconds of `--seconds`, so
  * every run takes the same number of samples whatever the box's speed.
  * The tail is each query's slowest pass, median over the queries.
  */
object MicroWorkload extends Workload with AdaptiveSparkPlanHelper {
  /** A fixed, floor-bound sample of the registry across its families:
    * aggregates, joins, windows, sketches, text functions and every LIKE /
    * multi-search form. Names missing from the registry are skipped and
    * counted. None of these writes files or starts a server. */
  val subset: Seq[String] = Seq(
    "q1_pricing_summary", "q_agg_if", "q_count_substrings", "q_func_hash", "q_func_math",
    "q_geo_hashes_in_box", "q_join_inner", "q_like_scan", "q_multi_search_batched",
    "q_multi_search_ci", "q_multi_search_positions", "q_position_scan", "q_sample_key",
    "q_sequence_match_time", "q_text_quality", "q_topk_events", "q_uniq_approx",
    "q_window_funnel_strict")

  /** Aggregations the engine answers from the projections of
    * [[declareProjections]]: a full-key and a filtered roll-up of the
    * aggregate state, a global aggregate, and a group-by on the row
    * projection's partition key. Exact aggregates only, so DuckDB running
    * the same SQL is their oracle. */
  val routed: Seq[(String, String)] = Seq(
    "routed_agg_full_key" -> ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      "sum(l_quantity) AS qty, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "routed_agg_rollup" -> ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty " +
      "FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag"),
    "routed_agg_global" -> "SELECT count(*) AS n, max(l_quantity) AS q FROM lineitem",
    "routed_proj_topk" -> ("SELECT l_orderkey, sum(l_quantity) AS qty, count(*) AS n " +
      "FROM lineitem GROUP BY l_orderkey ORDER BY qty DESC, l_orderkey LIMIT 10"))

  /** Queries whose executor CPU is reported as functions.like_cpu_ms. */
  def isLike(name: String): Boolean =
    name.startsWith("q_like_") || name.startsWith("q_multi_search_")

  /** Registers `lineitem` as a view and declares a row projection
    * hash-partitioned on the order key and an aggregate state keyed on the
    * two flag columns. Returns the projections' cached relations. */
  private def declareProjections(spark: SparkSession, dir: String): Seq[InMemoryRelation] = {
    import graft.plans.Projections
    Projections.clear()
    val lineitem = graft.Tables.load(spark, dir, "lineitem")
    lineitem.createOrReplaceTempView("lineitem")
    Seq(
      Projections.register(spark, lineitem, Seq("l_orderkey"), Seq("l_orderkey", "l_quantity")),
      Projections.registerAgg(spark, lineitem, Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity", "l_extendedprice"))
    ).flatMap(_.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r })
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data
    val registry = graft.SparkEntry.queries
    val queries: Map[String, () => DataFrame] =
      subset.filter(registry.contains).map(n => n -> (() => registry(n)(spark, dir))).toMap ++
        routed.map { case (n, sql) => n -> (() => spark.sql(sql)) }
    val names = subset.filter(registry.contains) ++ routed.map(_._1)

    // Set-up: fill the engine's events cache (the one table the registry
    // caches) and build the projections. Repeated under alias paths, which
    // the events cache keys apart; the projections are rebuilt each time.
    var projections = Seq.empty[InMemoryRelation]
    val setup = Seq(s"$dir/./.", s"$dir/.", dir).map { d =>
      val t0 = System.nanoTime()
      graft.Tables.all.foreach(t => graft.Tables.load(spark, d, t).schema)
      graft.Tables.load(spark, d, "events").count()
      projections = declareProjections(spark, d)
      (System.nanoTime() - t0) / 1e9
    }
    Mem.sample()

    val problems = Vector.newBuilder[String]
    def exec(name: String): Unit =
      try {
        val df = queries(name)()
        df.write.mode("overwrite").format("noop").save()
        Trace.noteAnalysis(df)
      } finally graft.Tables.releaseScratch()

    // Untimed correctness pass: oracled queries' results are written for
    // run.py to hash-match against DuckDB on the same parquet files; the
    // routed queries' oracle is their own SQL.
    val oracles = graft.SparkEntry.oracleSql ++ routed
    val verifyDir = s"${ctx.scratch}/verify"
    val oracled = names.filter(oracles.contains)
    oracled.foreach { n =>
      try queries(n)().coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$n")
      catch { case e: Exception => problems += s"$n verify: ${e.getMessage}".take(300) }
      finally graft.Tables.releaseScratch()
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(verifyDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$verifyDir/oracle_sql.json"),
      Json.obj(oracled.map(n => n -> oracles(n))))

    val order = new Random(ctx.seed).shuffle(names)
    var attempted = 0L
    var failed = 0L
    def timed(n: String): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        Trace.span(s"op:$n", attempted)(exec(n))
        Some((System.nanoTime() - t0) / 1e6)
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      }
    }
    val passes = math.max(1, ctx.seconds / 3)
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    names.foreach(n => samples(n) = Vector.empty)
    Layers.begin(spark)
    (1 to passes).foreach { _ =>
      order.foreach(n => timed(n).foreach(ms => samples(n) = samples(n) :+ ms))
    }
    Layers.end(spark)
    Mem.sample()

    val medians = samples.collect { case (n, xs) if xs.nonEmpty => n -> Stats.median(xs) }
    val ms = medians.values.toSeq
    val ok = ms.nonEmpty
    val routedQueries = if (ctx.trace) names.count(n => reads(queries(n)(), projections)) else 0
    Outcome(
      setupS = setup,
      p50Ms = if (ok) Stats.median(ms) else 0.0,
      tailMs = if (ok) Stats.median(samples.values.filter(_.nonEmpty).map(_.max).toSeq) else 0.0,
      workS = ms.sum / 1000.0,
      attempted = attempted, failed = failed, correct = failed == 0 && ok,
      detail = Seq(
        "micro_suite_s" -> ms.sum / 1000.0,
        "micro_p50_ms" -> (if (ok) Stats.median(ms) else 0.0),
        "queries" -> names.size, "queries_missing" -> (subset.size + routed.size - names.size),
        "passes" -> passes,
        "samples_per_query_min" -> samples.values.map(_.size).min,
        "oracled_queries" -> oracled.size,
        "per_query_median_ms" -> medians.toMap),
      layers = Seq(
        "ops" -> (passes * names.size).toDouble,
        "plans.routed_queries" -> routedQueries.toDouble,
        "functions.like_cpu_ms" -> Layers.cpuMsOf(isLike)),
      problems = problems.result())
  }

  /** Whether the executed plan of `df` scans one of `projections`. */
  private def reads(df: DataFrame, projections: Seq[InMemoryRelation]): Boolean =
    try collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => projections.exists(_.cacheBuilder eq s.relation.cacheBuilder)
    }.contains(true)
    finally graft.Tables.releaseScratch()
}
