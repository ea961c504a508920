package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.Engine
import graft.registry.ModelDef
import graft.streaming.{ParquetReplica, Replica}

/** A traced interval. `group` is the micro-batch (`<queryId>/<batchId>`)
  * or query it belongs to; `parent` is the id of the enclosing span. */
final case class Span(id: String, name: String, parent: String,
    group: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Self time per span id: its duration minus the part of its interval
    * that its children cover (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

/** Per-group Spark work: jobs, tasks and shuffle bytes written. */
final case class Work(jobs: Int, tasks: Int, shuffleBytes: Long)

/** In-memory tracing from outside the program: Spark's public listener
  * APIs (streaming progress, job/task events, query-execution phases) and
  * a delegating [[Replica]] installed through
  * `EngineOptions.replicaFactory`. Nothing is written until [[dump]]. */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** (end of planning, planning ms) per successful action. */
  val planning = new ConcurrentLinkedQueue[(Double, Double)]()
  private val work = TrieMap.empty[String, Work]
  private val stageGroup = TrieMap.empty[Int, String]
  private val terminated = TrieMap.empty[String, Boolean]
  private val markers = TrieMap.empty[String, Boolean]
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def record(name: String, parent: String, group: String,
      startMs: Double, endMs: Double, id: String = ""): String = {
    val sid = if (id.nonEmpty) id else s"$name#${ids.incrementAndGet()}"
    spans.add(Span(sid, name, parent, group, startMs, endMs))
    sid
  }

  /** Time `f` as a span; wall-clock epoch ms so spans from listener
    * timestamps and from the harness share one axis. */
  def timed[A](name: String, parent: String = "", group: String = "")(f: => A): A = {
    val t0 = Tracer.epochMs
    try f finally record(name, parent, group, t0, Tracer.epochMs)
  }

  /** The current thread's micro-batch, when it runs inside one. */
  def currentBatch: String = {
    val sc = spark.sparkContext
    Option(sc.getLocalProperty("sql.streaming.queryId"))
      .map(q => s"$q/${sc.getLocalProperty("streaming.sql.batchId")}")
      .getOrElse(Option(sc.getLocalProperty(Tracer.GroupKey)).getOrElse(""))
  }

  def workOf(group: String): Work = work.getOrElse(group, Work(0, 0, 0L))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val g = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))
          .map(q => s"$q/${x.getProperty("streaming.sql.batchId")}"))
        .orElse(p.flatMap(x => Option(x.getProperty(Tracer.GroupKey))))
      g.foreach { k =>
        if (k.startsWith(Tracer.MarkerPrefix)) markers(k) = true
        else {
          work.synchronized {
            val w = workOf(k); work(k) = w.copy(jobs = w.jobs + 1)
          }
          e.stageIds.foreach(s => stageGroup(s) = k)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageGroup.get(e.stageId).foreach { k =>
        val sb = Option(e.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        work.synchronized {
          val w = workOf(k); work(k) = w.copy(tasks = w.tasks + 1,
            shuffleBytes = w.shuffleBytes + sb)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      terminated(e.id.toString) = true
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(p)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val g = s"${p.id}/${p.batchId}"
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val role = Tracer.role(p)
      record(s"$role.batch", "", g, start, start + d.getOrElse("triggerExecution", 0.0), g)
      // phases run back to back in this order inside one trigger
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").foldLeft(start) { (t, ph) =>
        val dur = d.getOrElse(ph, 0.0)
        record(s"$role.$ph", g, g, t, t + dur, s"$g/$ph")
        t + dur
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // the marker action's root outputs the marker column; checking the
      // root only keeps every other action free of plan rendering
      if (qe.analyzed.output.exists(_.name == Tracer.QeMarker)) markers(Tracer.QeMarker) = true
      else {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) planning.add(
          (ph.map(_.endTimeMs).max.toDouble, ph.map(_.durationMs).sum.toDouble))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every listener has seen all events posted so far: a
    * marker job and a marker action go through the same ordered queues. */
  def drain(queryIds: Seq[String] = Nil, timeoutMs: Long = 20000): Unit = {
    val sc = spark.sparkContext
    val key = s"${Tracer.MarkerPrefix}${ids.incrementAndGet()}"
    val prev = sc.getLocalProperty(Tracer.GroupKey)
    sc.setLocalProperty(Tracer.GroupKey, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.GroupKey, prev)
    markers.remove(Tracer.QeMarker)
    spark.range(1).toDF(Tracer.QeMarker).collect()
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = markers.contains(key) && markers.contains(Tracer.QeMarker) &&
      queryIds.forall(terminated.contains)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** A replica factory building exactly the replica `Engine.makeReplicas`
    * builds for these options (schema, buckets, merge-on-read, compaction
    * cadence), wrapped so every call is a span. */
  def replicaFactory(opts: Engine.EngineOptions): (SparkSession, ModelDef, String) => Replica = {
    require(!opts.syncedDataVariant, "the traced replica mirrors the STRING payload layout")
    (s, m, root) => new TracingReplica(new ParquetReplica(s, root,
      m.replicaSchema.toDDL, buckets = m.buckets,
      mergeOnRead = opts.mergeOnRead, compactEvery = opts.replicaCompactEvery),
      m.name, this)
  }

  /** Write every span, with its self time, as JSON lines. */
  def dump(path: String): Unit = {
    val all = spans.asScala.toSeq.sortBy(_.startMs)
    val self = Span.selfTimes(all)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val out = all.map(s =>
      s"""{"id": ${q(s.id)}, "name": ${q(s.name)}, "parent": ${q(s.parent)}, """ +
        s""""group": ${q(s.group)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""self_ms": ${self(s.id)}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.asJava)
  }
}

object Tracer {
  /** Local property naming the harness operation a job belongs to. */
  val GroupKey = "perfbench.group"
  val MarkerPrefix = "perfbench_marker_"
  val QeMarker = MarkerPrefix + "qe"
  def epochMs: Double = System.currentTimeMillis().toDouble

  /** `producer` reads the change feed, `consumer` reads a topic. */
  def role(p: StreamingQueryProgress): String =
    if (p.sources.exists(_.description.contains("/topics/"))) "consumer" else "producer"
}

/** Delegates every call to the wrapped replica and records it as a span
  * in the caller's micro-batch. `readBuckets` and `neverCommitted` are
  * delegated too: the trait defaults would degrade to full-table reads. */
final class TracingReplica(u: ParquetReplica, model: String, t: Tracer)
    extends Replica {
  private def span[A](op: String)(f: => A): A = {
    val g = t.currentBatch
    t.timed(s"replica.$op", if (g.contains("/")) s"$g/addBatch" else g, g)(f)
  }
  def read(): DataFrame = span("read")(u.read())
  override def readBuckets(keys: DataFrame): DataFrame =
    span("read_buckets")(u.readBuckets(keys))
  override def neverCommitted: Boolean = u.neverCommitted
  def merge(updates: DataFrame, prepare: (DataFrame, DataFrame) => DataFrame): Unit =
    span("merge")(u.merge(updates, prepare))
  def destroy(ids: DataFrame, idCol: String): Unit =
    span("destroy")(u.destroy(ids, idCol))
  def transform(f: DataFrame => DataFrame): Unit = span("transform")(u.transform(f))
  def vacuum(retainVersions: Int): Unit = span("vacuum")(u.vacuum(retainVersions))
  def withLock[A](f: => A): A = {
    val t0 = Tracer.epochMs
    u.withLock {
      val g = t.currentBatch
      t.record("replica.lock_wait", if (g.contains("/")) s"$g/addBatch" else g, g,
        t0, Tracer.epochMs)
      f
    }
  }
  override def toString: String = s"TracingReplica($model)"
}
