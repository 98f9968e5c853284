package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]].
  *
  * @param setupS     wall seconds of each repeated set-up (median reported)
  * @param p50Ms      median latency of the workload's primary operation
  * @param tailMs     tail latency of the primary operation, as each workload
  *                   defines it
  * @param workS      seconds of the workload's fixed unit of work
  * @param detail     workload-named metrics and sample counts (record file)
  * @param layers     per-layer values this workload computes itself
  */
final case class Outcome(setupS: Seq[Double], p50Ms: Double, tailMs: Double,
                         workS: Double, attempted: Long, failed: Long,
                         correct: Boolean, detail: Seq[(String, Any)],
                         layers: Seq[(String, Double)], problems: Seq[String])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     trace: Boolean, scratch: String, data: String,
                     toy: Boolean, opts: Map[String, String]) {
  def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** JVM entry of the benchmark: builds the session, installs the engine,
  * runs one workload and prints one `PERFBENCH_RECORD <json>` line.
  * run.py owns the command-line contract and the final result line.
  *
  * Args: key=value pairs — workload, seed, seconds, trace (0|1), scratch
  * (process-private directory), data (generated-data cache), toy (0|1),
  * record (path of the per-run record file), plus the load rates.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val trace = kv.getOrElse("trace", "0") == "1"
    val scratch = kv("scratch")
    val cpus = "4"
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.install(spark)
    if (trace) Trace.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = Ctx(spark, kv("seed").toLong, kv("seconds").toInt, trace, scratch,
      kv("data"), kv.getOrElse("toy", "0") == "1", kv)
    val workload: Workload = kv("workload") match {
      case "hits" => HitsWorkload
      case "micro" => MicroWorkload
      case "rest_mixed" => RestWorkload
      case "wal_ingest" => WalWorkload
      case other => sys.error(s"unknown workload: $other")
    }
    val out = workload.run(ctx)
    Trace.drain(spark)
    val setupS = sessionS + Stats.median(out.setupS)
    val e2e = Seq(
      "setup_s" -> setupS,
      "peak_live_mb" -> Mem.peakMb,
      "p50_ms" -> out.p50Ms,
      "tail_ms" -> out.tailMs,
      "work_s" -> out.workS)
    val record = Seq(
      "workload" -> kv("workload"), "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> trace, "toy" -> ctx.toy, "cpus" -> cpus.toInt,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "attempted" -> out.attempted, "failed" -> out.failed, "correct" -> out.correct,
      "problems" -> out.problems,
      "session_start_s" -> sessionS, "setup_samples_s" -> out.setupS,
      "e2e" -> e2e.toMap,
      "layers" -> (if (trace) Layers.collect(out) else Map.empty[String, Double]),
      "detail" -> out.detail.toMap)
    if (trace) Trace.write(kv("record") + ".spans.jsonl", record.take(6))
    val line = Json.obj(record)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(kv("record")), line + "\n")
    println("PERFBENCH_RECORD " + line)
    spark.stop()
  }
}

/** The engine's retained memory: heap in use right after a full
  * collection plus non-heap use (metaspace, code cache), in MB. Workloads
  * sample it after set-up and after the timed phase; the run reports the
  * larger. Unlike the process's resident set it does not follow the
  * collector's heap sizing. */
object Mem {
  @volatile private var peak = 0.0

  /** The smallest of three readings 200 ms apart, so memory held only by
    * work in flight (a streaming trigger, say) is not counted. */
  def sample(): Unit = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    val mb = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
    }.min
    peak = math.max(peak, mb)
  }

  def peakMb: Double = peak
}

/** Installs the engine into a session through its public entry point: a
  * single `graft.Graft.install(spark)` when the engine has one, else the
  * session tuning call that installs every rewrite today. */
object Engine {
  def install(spark: SparkSession): Unit = {
    val graftInstall =
      try {
        val cls = Class.forName("graft.Graft$")
        Some((cls.getField("MODULE$").get(null),
          cls.getMethod("install", classOf[SparkSession])))
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => None }
    graftInstall match {
      case Some((module, m)) => m.invoke(module, spark)
      case None => graft.Tables.tune(spark)
    }
  }
}
