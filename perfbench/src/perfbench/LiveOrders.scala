package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.Engine

/** `live_orders`: the Engine running live (`Engine.start`, 200 ms trigger,
  * merge-on-read replicas, default dedup and DLQ) over the order
  * aggregate, fed open-loop by a driver-local feeder and read closed-loop
  * by one reader thread.
  *
  * Set-up stages the seeded snapshot (the sideload source), publishes it
  * with `Engine.genesis("order")`, starts the Engine, whose first
  * consumer micro-batch merges the whole snapshot into the replicas, and
  * feeds `warmupFiles` change files. The measured window opens once the
  * snapshot and the warm-up files' producer batches are committed, feeds
  * one file of `rowsPerFile` updates every `Feed.periodMs` for
  * `--seconds`, and drains until every fed row is committed or `drainMs`
  * passes. */
object LiveOrders {
  val nOrders = 15000
  val rowsPerFile = 25
  val warmupFiles = 4
  val readerPeriodMs = 2000L
  val warmupMs = 90000L
  val drainMs = 60000L

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    // adaptive execution re-plans every shuffle stage as its own job: the
    // right trade for batch scans, pure fixed cost on a micro-batch of a
    // few hundred rows (the repository's own stream harness, StreamBench,
    // turns it off for the same reason)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val data = s"${ctx.work}/data"
    val feedDir = s"${ctx.work}/feed"
    val wd = s"${ctx.work}/engine"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feedDir))
    Orders.stage(spark, ctx.seed, nOrders, data)
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val opts = Orders.options(mergeOnRead = true, tracer)
    val bindings = new Orders.Bindings(data, feedDir)
    val reg = Orders.registry
    ctx.log(f"live_orders: staged at ${ctx.sinceStartS}%.1f s")
    val genesisStart = Tracer.epochMs
    Engine.genesis(spark, reg, bindings, "order", wd)
    val genesisS = (Tracer.epochMs - genesisStart) / 1000.0
    val topicDir = s"$wd/topics/${Orders.topic}"
    val genesisFiles = Attribution.dataFiles(topicDir)

    ctx.log(f"live_orders: genesis took $genesisS%.1f s")
    val (queries, res) = Engine.start(spark, reg, bindings, wd, options = opts)
    ctx.log(f"live_orders: engine started at ${ctx.sinceStartS}%.1f s")
    val consumerCp = s"$wd/cp/consume/${Orders.topic}"
    val producerCp = s"$wd/cp/produce/${Orders.topic}"
    val feed = new Feed(ctx.seed, nOrders, rowsPerFile)
    val fed = scala.collection.mutable.ArrayBuffer.empty[FeedRow]
    val feedFiles = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Every fed file consumed by a committed producer batch, and every
      * topic file by a committed consumer batch. */
    def drained(): Boolean = {
      val produced = Attribution.committedFiles(producerCp)
      feedFiles.forall(produced.contains) && {
        val consumed = Attribution.committedFiles(consumerCp)
        Attribution.dataFiles(topicDir).forall(consumed.contains)
      }
    }
    def awaitDrained(deadlineMs: Long): Boolean = {
      while (!drained() && System.currentTimeMillis() < deadlineMs) Thread.sleep(50)
      drained()
    }
    /** Feed files `from until to`, file `f` due `(f - from) × period`
      * after `baseMs`; returns each file's due time and lateness. */
    def feedFrom(from: Int, to: Int, baseMs: Long): Seq[(Int, Long, Long)] =
      (from until to).map { f =>
        val due = baseMs + (f - from) * Feed.periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val rows = feed.rows(f)
        feedFiles += Feed.write(feedDir, f, rows)
        fed ++= rows
        (f, due, System.currentTimeMillis() - due)
      }

    try {
      // warm-up, outside the window: the producer's first batches and
      // the consumer's merge of the snapshot. The window opens once both
      // are committed; the consumer then starts on the warm-up rows, so
      // the first measured rows meet a micro-batch in flight, as every
      // later row does
      feedFrom(0, warmupFiles, System.currentTimeMillis())
      def warmed(): Boolean = {
        val produced = Attribution.committedFiles(producerCp)
        val consumed = Attribution.committedFiles(consumerCp)
        feedFiles.forall(produced.contains) && genesisFiles.forall(consumed.contains)
      }
      val warmDeadline = System.currentTimeMillis() + warmupMs
      while (!warmed() && System.currentTimeMillis() < warmDeadline) Thread.sleep(50)
      require(warmed(), s"the snapshot and the warm-up files were not merged within $warmupMs ms")

      val measured = (ctx.seconds * 1000L / Feed.periodMs).toInt
      val heap = new HeapWatch
      heap.start()
      val windowStart = System.currentTimeMillis()
      val setupS = (windowStart - ctx.jvmStartMs) / 1000.0
      val stop = new AtomicBoolean(false)
      val reads = new ConcurrentLinkedQueue[Double]()
      val badReads = new java.util.concurrent.atomic.AtomicInteger()
      val reader = new Thread(() => {
        var next = System.currentTimeMillis()
        while (!stop.get()) {
          val t0 = Stats.nowMs
          try {
            val n = res.replicas("order").read()
              .groupBy(col("o_orderstatus"))
              .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("v"))
              .collect().map(_.getLong(1)).sum
            reads.add(Stats.nowMs - t0)
            // every order was published by genesis, and soft deletes
            // keep their rows
            if (n != nOrders) badReads.incrementAndGet()
          } catch { case e: Exception =>
            ctx.log(s"live_orders: read failed: $e"); badReads.incrementAndGet()
          }
          next += readerPeriodMs
          val wait = next - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait) else next = System.currentTimeMillis()
        }
      }, "perfbench-reader")
      reader.start()
      val schedule = feedFrom(warmupFiles, warmupFiles + measured, windowStart)
      val dueOf = schedule.map { case (f, due, _) => f -> due }.toMap
      val lastDue = schedule.last._2
      val allMerged = awaitDrained(lastDue + drainMs)
      ctx.log(f"live_orders: window started at $setupS%.1f s, drained at ${ctx.sinceStartS}%.1f s")
      val windowEnd = System.currentTimeMillis()
      val (heapMb, gcMs) = heap.stop()
      stop.set(true)
      reader.join()
      queries.foreach(_.stop())
      tracer.foreach(_.drain(queries.map(_.id.toString)))

      // lag: commit of the consumer batch that merged the row − row due
      val commits = Attribution.rowCommits(consumerCp)
      val measuredRows = fed.filter(r => dueOf.contains(Feed.fileOf(r.tsUs)))
      val lags = measuredRows.flatMap(r =>
        commits.get(r.tsUs).map(_ - dueOf(Feed.fileOf(r.tsUs)))).toSeq
      val unseen = measuredRows.count(r => !commits.contains(r.tsUs))

      // final state: the fed rows replayed batch by batch, as committed
      val batches = fed.filter(r => commits.contains(r.tsUs))
        .groupBy(r => commits(r.tsUs)).toSeq.sortBy(_._1).map(_._2.toSeq)
      val expected = Feed.replay(Orders.snapshotState(spark, data), batches)
      import spark.implicits._
      val expectedDf = expected.toSeq.map { case (id, s) =>
        (id, s.price, s.status, s.canceledUs, s.updatedUs)
      }.toDF("id", "o_totalprice", "o_orderstatus", "canceled_us", "updated_us")
      // genesis published every order with all of its lines
      val bad = Orders.check(res, expectedDf, Orders.lines(spark, data))
      val dlqRows = failureRows(spark, s"$wd/dlq") + failureRows(spark, s"$wd/quarantine")
      val failedRows = measuredRows.count(r => !commits.contains(r.tsUs) || bad(r.id))
      val failed = math.min(measuredRows.size.toLong,
        failedRows + (bad -- measuredRows.map(_.id)).size + dlqRows + badReads.get())
      ctx.log(s"live_orders: rows=${measuredRows.size} unseen=$unseen " +
        s"bad_orders=${bad.size} dlq_rows=$dlqRows bad_reads=${badReads.get()} " +
        s"all_merged=$allMerged basis=${Orders.fsType(ctx.work)}")

      val lagGeo = Stats.geomean(lags)
      val lagMean = Stats.mean(lags)
      val e2e = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("latency_geomean_ms", lagGeo, "ms"),
        Metric("latency_mean_ms", lagMean, "ms"),
        Metric("heap_peak_mb", heapMb, "MB"))
      val metrics = tracer match {
        case None => e2e
        case Some(t) =>
          val lateness = schedule.map(_._3.toDouble)
          Seq(Metric("genesis.s", genesisS, "s")) ++
            Layers.streaming(t, windowStart, windowEnd) ++
            Layers.replica(t, windowStart, windowEnd) ++
            Layers.disk(wd) ++ Seq(
              Metric("dlq.batches", Layers.dlqBatches(wd), "count"),
              Metric("quarantine.rows", failureRows(spark, s"$wd/quarantine"), "count"),
              Metric("gc_ms", gcMs, "ms"),
              Metric("feeder.late_p99_ms", Stats.pct(lateness, 99), "ms"),
              Metric("reader.reads", reads.size.toDouble, "count"),
              Metric("reader.read_p50_ms", Stats.median(reads.asScala.toSeq), "ms"),
              Metric("traced.latency_geomean_ms", lagGeo, "ms"),
              Metric("traced.latency_mean_ms", lagMean, "ms"))
      }
      tracer.foreach(_.dump(s"${ctx.work}/../trace-live_orders.jsonl"))
      Result(failed == 0 && lags.nonEmpty, measuredRows.size.toLong, failed, metrics)
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }

  /** Rows parked under a failure-path directory (DLQ or quarantine). */
  def failureRows(spark: org.apache.spark.sql.SparkSession, dir: String): Long =
    if (Orders.diskUsage(dir)._1 == 0) 0L
    else spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
}
