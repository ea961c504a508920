package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics derived from a [[Tracer]] and from the work dir. */
object Layers {
  private def inWindow(s: Span, from: Long, to: Long): Boolean =
    s.startMs >= from && s.startMs <= to

  /** Producer and consumer micro-batch phases (query progress) plus the
    * Spark work each batch ran (job/task listener), for batches that
    * started inside the window and carried data. */
  def streaming(t: Tracer, from: Long, to: Long): Seq[Metric] = {
    def start(p: StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    def dur(p: StreamingQueryProgress, ph: String) =
      Option(p.durationMs.get(ph)).map(_.toDouble).getOrElse(0.0)
    val ps = t.progress.asScala.toSeq.filter(p => start(p) >= from && start(p) <= to)
    val windowMs = (to - from).toDouble
    Seq("producer", "consumer").flatMap { role =>
      val all = ps.filter(Tracer.role(_) == role)
      val data = all.filter(_.numInputRows > 0)
      def d(ph: String) = data.map(dur(_, ph))
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val work = data.map(p => t.workOf(s"${p.id}/${p.batchId}"))
      // trigger time inside the window (the last trigger may end after it)
      val busy = all.map(p => math.min(start(p) + dur(p, "triggerExecution"), to) - start(p)).sum
      val common = Seq(
        Metric(s"$role.discover_ms", p50(d("latestOffset")), "ms"),
        Metric(s"$role.plan_ms", p50(d("queryPlanning")), "ms"),
        Metric(s"$role.commit_ms",
          p50(d("walCommit").zip(d("commitOffsets")).map { case (a, b) => a + b }), "ms"),
        Metric(s"$role.busy_share", busy / windowMs, "ratio"),
        Metric(s"$role.jobs_per_batch", p50(work.map(_.jobs.toDouble)), "count"),
        Metric(s"$role.tasks_per_batch", p50(work.map(_.tasks.toDouble)), "count"))
      if (role == "producer")
        common :+ Metric("producer.write_ms", p50(d("addBatch")), "ms")
      else common ++ Seq(
        Metric("consumer.apply_ms", p50(d("addBatch")), "ms"),
        Metric("consumer.rows_per_batch", p50(data.map(_.numInputRows.toDouble)), "count"),
        Metric("consumer.shuffle_kb_per_batch",
          p50(work.map(_.shuffleBytes / 1024.0)), "KB"),
        Metric("consumer.state_rows", all.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "count"))
    }
  }

  /** Calls into the replica wrapper inside the window: per-call median of
    * merges, totals of the rest. */
  def replica(t: Tracer, from: Long, to: Long): Seq[Metric] = {
    val rs = t.spans.asScala.toSeq.filter(s =>
      s.name.startsWith("replica.") && inWindow(s, from, to))
    def of(op: String) = rs.filter(_.name == s"replica.$op").map(_.durMs)
    val merges = of("merge")
    Seq(
      Metric("replica.merge_ms", if (merges.isEmpty) 0.0 else Stats.median(merges), "ms"),
      Metric("replica.merge_calls", merges.size.toDouble, "count"),
      Metric("replica.destroy_ms", of("destroy").sum, "ms"),
      Metric("replica.read_buckets_ms", of("read_buckets").sum, "ms"),
      Metric("replica.lock_wait_ms", of("lock_wait").sum, "ms"),
      Metric("replica.read_ms", of("read").sum, "ms"))
  }

  /** Storage left on disk by the Engine under work dir `wd`. */
  def disk(wd: String): Seq[Metric] = {
    val reps = new java.io.File(s"$wd/replicas").listFiles().toSeq
    val (files, bytes) = reps.map(r => Orders.diskUsage(r.getPath))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val versions = reps.map(r => Option(r.listFiles()).getOrElse(Array.empty)
      .count(_.getName.matches("v\\d+\\.manifest"))).sum
    val topics = s"$wd/topics/${Orders.topic}"
    val topicFiles = Attribution.dataFiles(topics)
    val topicRows = topicFiles.map(f => Attribution.eventTimes(f).size.toLong).sum
    Seq(
      Metric("replica.files", files.toDouble, "count"),
      Metric("replica.bytes", bytes.toDouble, "bytes"),
      Metric("replica.versions", versions.toDouble, "count"),
      Metric("topic.files", topicFiles.size.toDouble, "count"),
      Metric("topic.bytes_per_row",
        topicFiles.map(f => new java.io.File(f).length).sum.toDouble /
          math.max(1L, topicRows), "bytes"))
  }

  def dlqBatches(wd: String): Double = {
    val dlq = new java.io.File(s"$wd/dlq")
    Option(dlq.listFiles()).getOrElse(Array.empty)
      .flatMap(t => Option(t.listFiles()).getOrElse(Array.empty))
      .count(_.getName.startsWith("__batch=")).toDouble
  }
}
