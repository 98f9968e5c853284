package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.streaming.{FakeBroker, StreamOps, WalCommitter, WalProducer, WalSource}

/** `wal_ingest`: the streaming-warehouse write path.
  *
  * `WalProducer` sync-mode appends go to a four-partition `FakeBroker` on
  * a seeded open-loop schedule; payloads carry a planted share of
  * duplicate `_idem` keys and out-of-order `_time` values. A
  * `WalSource.BrokerTail` pump feeds `decodeJson` into
  * `WalCommitter.commitBatch`, which appends to a parquet table, while a
  * `StreamOps.tumblingAgg` live view tails the same broker. The commit
  * query triggers every 2.5 s, the live view every 2 s. Set-up commits
  * more records than the committer's recent-key index holds, so the
  * timed phases run with a full index. A steady phase measures the lag
  * from each append's due time until the committed SN covers it; a burst
  * phase then times, three times, how fast a backlog appended at once
  * drains.
  */
object WalWorkload extends Workload {
  private val rowSchema = StructType.fromDDL(
    "_idem STRING, _time TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
  private val Types = Array("click", "view", "error", "signup", "purchase")
  private val T0Ms = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
  private val Partitions = 4
  /** Consumer poll interval. Each poll adds one memory-stream block per
    * broker partition, and each block becomes one Spark partition of the
    * next micro-batch, so the interval sets the batch's task count. */
  private val PollMs = 500L
  /** Bursts in the burst phase; work_s is their median catch-up time. */
  private val Bursts = 3
  /** The commit query's trigger cadence: a whole fraction of a 10 s steady
    * phase, so each record's wait for the next trigger is uniform whatever
    * the phase, and well above a batch's duration at the benchmark's rate
    * (about 1.5 s), so batches never run back to back. A cadence close to
    * a batch's duration made batches flip between idle gaps and
    * back-to-back runs, and the lag between runs with them; back-to-back
    * batches passed the box's speed swings on to the lag. */
  private val CommitTriggerMs = 2500L
  /** The live view triggers on this fixed cadence. */
  private val ViewTriggerMs = 2000L

  /** One produced record: its broker position and when it was due. */
  final case class Sent(partition: Int, sn: Long, dueNs: Long)

  /** A running pipeline over a fresh broker, table and checkpoints. */
  private final class Pipeline(spark: SparkSession, dir: String, idemIndex: Int) {
    val broker = new FakeBroker(Partitions)
    val producer = new WalProducer(broker)
    val tail = new WalSource.BrokerTail(broker, spark)
    /** The live view's own tail: a tail owns its fetch positions and a
      * memory stream serves one query, so each query tails the broker. */
    val viewTail = new WalSource.BrokerTail(broker, spark)
    val table = s"$dir/table"
    val committer = new WalCommitter(table, idemIndex)
    /** When set, the next micro-batch signals [[entered]] once its input is
      * fixed and waits for the latch before committing. */
    @volatile var gate: java.util.concurrent.CountDownLatch = null
    val entered = new java.util.concurrent.Semaphore(0)
    /** (batch start, commit end, committed SN per partition) per batch. */
    val commits = new ConcurrentLinkedQueue[(Long, Long, Array[Long])]()
    /** Committed SNs of the last batch recorded in [[commits]]. */
    @volatile private var recorded = Array.fill(Partitions)(-1L)
    private val decoded = StreamOps.withTimeDefaulting(WalSource.decodeJson(tail.toDF, rowSchema))
    val commitQuery: StreamingQuery = decoded.writeStream
      .option("checkpointLocation", s"$dir/ckpt-commit")
      .trigger(Trigger.ProcessingTime(CommitTriggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val g = gate
        if (g != null) { entered.release(); g.await(60, TimeUnit.SECONDS) }
        val t0 = System.nanoTime()
        committer.commitBatch(batch)
        val sns = Array.tabulate(Partitions)(committer.committedSN)
        commits.add((t0, System.nanoTime(), sns))
        recorded = sns
      }.start()
    val liveView: StreamingQuery =
      StreamOps.tumblingAgg(
        StreamOps.withTimeDefaulting(WalSource.decodeJson(viewTail.toDF, rowSchema)),
        "_time", "1 minute", "10 minutes").writeStream
        .outputMode("update").format("noop").trigger(Trigger.ProcessingTime(ViewTriggerMs))
        .option("checkpointLocation", s"$dir/ckpt-live").start()
    @volatile private var pumping = true
    @volatile var paused = false
    @volatile var backlogMax = 0L
    /** One consumer poll of both tails. */
    def pump(): Unit = {
      Trace.span("wal.pump")(tail.pump())
      viewTail.pump()
    }
    private val pumpThread = new Thread(() => {
      while (pumping) {
        if (!paused) pump()
        val backlog = (0 until Partitions).map(p =>
          broker.endOffset(p) - 1 - committer.committedSN(p)).sum
        backlogMax = math.max(backlogMax, backlog)
        Thread.sleep(PollMs)
      }
    }, "perfbench-wal-pump")
    pumpThread.setDaemon(true)
    pumpThread.start()

    def caughtUp: Boolean =
      (0 until Partitions).forall(p => recorded(p) == broker.endOffset(p) - 1)

    /** Wait until every appended record is committed. */
    def drain(timeoutS: Int): Boolean = {
      val until = System.nanoTime() + timeoutS * 1000000000L
      while (!caughtUp && System.nanoTime() < until) {
        commitQuery.exception.foreach(e => throw e)
        Thread.sleep(2)
      }
      caughtUp
    }

    def stop(): Unit = {
      pumping = false
      pumpThread.join()
      commitQuery.stop()
      liveView.stop()
      broker.shutdown()
    }
  }

  /** Seeded record generator with planted duplicates and late times. */
  private final class Records(seed: Long, dupPct: Int, latePct: Int, window: Int) {
    private val rng = new Random(seed)
    private val recent = mutable.ArrayBuffer[String]()
    var produced = 0L
    var planted = 0L
    val keys = mutable.HashSet[String]()

    /** Later duplicates repeat only keys produced from here on. */
    def forgetRecent(): Unit = recent.clear()

    def next(simMs: Long): (Int, String) = {
      val dup = recent.nonEmpty && rng.nextInt(100) < dupPct
      val key =
        if (dup) recent(rng.nextInt(recent.size))
        else s"k$seed-$produced"
      if (dup) planted += 1 else {
        keys += key
        recent += key
        if (recent.size > window) recent.remove(0)
      }
      produced += 1
      val late = if (rng.nextInt(100) < latePct) rng.nextInt(300000) else 0
      val t = java.time.Instant.ofEpochMilli(simMs - late).toString
      (rng.nextInt(Partitions),
        s"""{"_idem":"$key","_time":"$t","user_id":${rng.nextInt(1000)},"event_type":"${Types(rng.nextInt(Types.length))}","value":${rng.nextInt(100000) / 100.0}}""")
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rate = ctx.opts("wal_rate").toDouble
    // The committer's recent-key index is 100 000 keys by default; filling
    // it takes ~95 s here and each batch then filters against all of it
    // (~20 s triggers on 4 cores), so the run uses a smaller index, still
    // several timed batches large, and overfills that one.
    val idemIndex = if (ctx.toy) 500 else 10000
    val prefill = idemIndex + idemIndex / 5
    val burst = if (ctx.toy) 1000 else 20000
    var recs: Records = null
    var simMs = T0Ms

    def produce(p: Pipeline, n: Int): Seq[(Int, Long)] = {
      val blocks = Seq.fill(n) { simMs += 1; recs.next(simMs) }
      Trace.span("op:append")(p.producer.write(blocks, "sync").sns)
    }

    // Set-up: start both streaming queries over a fresh broker and table,
    // then commit enough records to fill the recent-key index. Twice.
    var pipe: Pipeline = null
    val setups = (1 to 2).map { i =>
      if (pipe != null) pipe.stop()
      val t0 = System.nanoTime()
      // duplicates repeat one of the last tenth-of-an-index keys, which the
      // committer's recent-key index still holds
      recs = new Records(ctx.seed * 31 + i, dupPct = 2, latePct = 5, window = idemIndex / 10)
      pipe = new Pipeline(spark, s"${ctx.scratch}/wal$i", idemIndex)
      produce(pipe, prefill)
      if (!pipe.drain(120)) sys.error("prefill did not commit")
      (System.nanoTime() - t0) / 1e9
    }
    val p = pipe
    // The prefill commits as one batch larger than the index, whose keys
    // the committer records in no particular order; timed duplicates must
    // not lean on which of them it kept.
    recs.forgetRecent()

    // Steady phase: open-loop appends every 5 ms at `rate` records/s.
    val sent = mutable.ArrayBuffer[Sent]()
    var lateNs = 0L
    Mem.sample()
    Layers.begin(spark)
    val tickNs = 5000000L
    val perTick = rate * tickNs / 1e9
    val start = System.nanoTime()
    val end = start + ctx.seconds * 1000000000L
    var due = start
    var owed = 0.0
    while (due < end) {
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      lateNs += math.max(0L, System.nanoTime() - due)
      owed += perTick
      val n = owed.toInt
      owed -= n
      if (n > 0) produce(p, n).foreach { case (part, sn) => sent += Sent(part, sn, due) }
      due += tickNs
    }
    val steadyCaught = p.drain(60)
    val steadyDrainS = (System.nanoTime() - end) / 1e9
    val steadyBacklog = p.backlogMax

    // Burst phase, repeated: a backlog that built up while the consumer
    // was away arrives as one poll; its catch-up time runs from the start
    // of the first batch holding it to the commit that covers all of it,
    // so the wait for the next trigger is not counted. A burst's
    // duplicates repeat only its own keys: its one batch holds more new
    // keys than the recent-key index keeps.
    // A poll adds one block per broker partition, and a batch that starts
    // between them would split the burst; so a small primer batch is held
    // at its start while the burst is appended and polled, and the burst
    // then arrives whole in the next batch.
    val bursts = (1 to Bursts).map { _ =>
      recs.forgetRecent()
      p.paused = true
      val gate = new java.util.concurrent.CountDownLatch(1)
      p.gate = gate
      produce(p, Partitions)
      p.pump()
      if (!p.entered.tryAcquire(60, TimeUnit.SECONDS)) sys.error("the primer batch did not start")
      p.gate = null
      val before = Array.tabulate(Partitions)(p.broker.endOffset(_) - 1)
      produce(p, burst)
      p.pump()
      gate.countDown()
      p.paused = false
      val drained = p.drain(90)
      val batches = p.commits.asScala.toSeq
        .filter(c => c._3.indices.exists(i => c._3(i) > before(i))).sortBy(_._1)
      val catchUpS = if (batches.isEmpty) 0.0 else (batches.last._2 - batches.head._1) / 1e9
      (drained, catchUpS, batches.size)
    }
    val drained = bursts.forall(_._1)
    val drainS = Stats.median(bursts.map(_._2))
    Layers.end(spark)
    Mem.sample()

    // Lag: first commit whose committed SN covers each steady record.
    val commits = p.commits.asScala.toSeq.sortBy(_._2)
    val lags = sent.flatMap { s =>
      commits.find(_._3(s.partition) >= s.sn).map(c => (c._2 - s.dueNs) / 1e6)
    }

    val layers = mutable.ArrayBuffer[(String, Double)]()
    if (ctx.trace) {
      Trace.drain(spark)
      val prog = Trace.progress.asScala.toSeq
      val commitProg = prog.filter(_._2.id == p.commitQuery.id).map(_._2).filter(_.numInputRows > 0)
      val liveProg = prog.filter(_._2.id == p.liveView.id).map(_._2)
      def dur(k: String) = Stats.mean(commitProg.map(x =>
        Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val spanMs = (name: String) => Stats.mean(Trace.spansNamed(_ == name)
        .filter(_.startNs >= start).map(s => (s.endNs - s.startNs) / 1e6))
      val state = liveProg.flatMap(_.stateOperators.headOption)
      layers ++= Seq(
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.get_batch_ms" -> dur("getBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.offset_log_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "streaming.append_ms" -> spanMs("op:append"),
        "streaming.pump_ms" -> spanMs("wal.pump"),
        "streaming.backlog_max" -> steadyBacklog.toDouble,
        "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_commit_ms" -> Stats.mean(state.map(_.commitTimeMs.toDouble)),
        "streaming.rows_per_trigger" -> Stats.mean(bursts.map(b => burst.toDouble / math.max(1, b._3))),
        "ops" -> commitProg.size.toDouble)
    }
    p.stop()

    // Untimed correctness: committed rows are exactly the distinct keys
    // produced, the dedup dropped exactly the planted duplicates, and every
    // partition's committed SN reached its end offset.
    val stats = spark.read.schema(rowSchema).parquet(p.table)
      .agg(count(lit(1)), countDistinct(col("_idem")), count(col("_idem"))).head()
    val (rows, distinct, keyed) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val problems = mutable.ArrayBuffer[String]()
    if (!steadyCaught || !drained) problems += "the committer did not catch up"
    if (rows != distinct || rows != recs.keys.size)
      problems += s"$rows rows committed, $keyed with a key, $distinct distinct, ${recs.keys.size} keys produced"
    val dropped = recs.produced - rows
    if (dropped != recs.planted) problems += s"dedup dropped $dropped, planted ${recs.planted}"
    layers += "streaming.dedup_dropped" -> dropped.toDouble
    val (lagP50, lagP95) =
      if (lags.isEmpty) (0.0, 0.0) else (Stats.pct(lags.toSeq, 50), Stats.pct(lags.toSeq, 95))
    Outcome(
      setupS = setups,
      p50Ms = lagP50, tailMs = lagP95,
      workS = drainS,
      attempted = sent.size + (burst + Partitions) * Bursts, failed = problems.size,
      correct = problems.isEmpty && lags.size == sent.size,
      detail = Seq(
        "wal_lag_p50_ms" -> lagP50, "wal_lag_p95_ms" -> lagP95,
        "wal_catchup_rows_per_s" -> burst / drainS,
        "steady_records" -> sent.size, "burst_records" -> burst, "bursts" -> Bursts,
        "burst_catch_up_s" -> bursts.map(_._2), "burst_batches" -> bursts.map(_._3),
        "planted_duplicates" -> recs.planted, "committed_rows" -> rows,
        "commits" -> commits.size,
        "commit_batch_ms" -> commits.map(c => (c._2 - c._1) / 1e6),
        // saturation signs: lag that grows over the phase, and a backlog
        // still draining long after the last append
        "lag_p50_first_third_ms" -> (if (lags.size < 3) 0.0 else Stats.median(lags.take(lags.size / 3).toSeq)),
        "lag_p50_last_third_ms" -> (if (lags.size < 3) 0.0 else Stats.median(lags.takeRight(lags.size / 3).toSeq)),
        "steady_drain_s" -> steadyDrainS,
        "generator_late_ms_mean" -> lateNs / 1e6 / math.max(1, (end - start) / tickNs)),
      layers = layers.toSeq,
      problems = problems.toSeq)
  }
}
