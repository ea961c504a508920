package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: a workload, a seed, a measuring time and
  * a tracing switch in; one result file out (see `Result.json`).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <file>
  *   perfbench.Main --selftest --work <dir>
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Int = 15, trace: Boolean = false, work: String = "",
      out: String = "", selftest: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--selftest" :: t => parse(t, a.copy(selftest = true))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work is required")
    if (a.selftest) sys.exit(if (SelfTest.run(a.work)) 0 else 1)
    val spark = session(a.work)
    val ctx = Ctx(spark, a.seed, a.seconds, a.trace, a.work,
      ManagementFactory.getRuntimeMXBean.getStartTime)
    val result = a.workload match {
      case "live_orders" => LiveOrders.run(ctx)
      case "operator_mix" => OperatorMix.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(a.out), result.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    ctx.log(f"stopped at ${ctx.sinceStartS}%.1f s")
    sys.exit(if (result.correct) 0 else 1)
  }

  /** `local[4]` sized for a 4-core box; every directory Spark writes to
    * lives under the run's work directory. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What every workload receives. `jvmStartMs` anchors `setup_s`. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Boolean, work: String, jvmStartMs: Long) {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def sinceStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
}

final case class Metric(name: String, value: Double, unit: String)

/** The run's result object; `json` is the line `run.py` prints last. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric]) {
  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Runs tasks on a fixed pool; results in task order. */
object Parallel {
  def apply[A](threads: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Arithmetic and geometric means; NaN when empty. */
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
  def nowMs: Double = System.nanoTime() / 1e6
}

/** Heap and GC time over a timed window, from the JVM's collector MX
  * beans and their GC notifications (no Spark involvement). Every
  * collection inside the window, young or full, reports the old
  * generation's occupancy after it; the heap figure is the largest of
  * these: the peak the program's work promoted and kept. */
final class HeapWatch {
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var gcStartMs = 0L
  @volatile private var peakMb = 0.0

  private def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
        .asScala.collect { case (pool, u) if pool.contains("Old Gen") ||
          pool.contains("Tenured") => u.getUsed }.sum / 1048576.0
      peakMb = math.max(peakMb, after)
    }
  private def emitters = gcs.collect { case e: NotificationEmitter => e }

  /** Collect what set-up left, then watch. */
  def start(): Unit = {
    System.gc()
    gcStartMs = gcMs
    peakMb = 0.0
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }

  /** (peak old-gen MB after GC, GC ms) inside the window. */
  def stop(): (Double, Double) = {
    emitters.foreach(_.removeNotificationListener(listener))
    (peakMb, (gcMs - gcStartMs).toDouble)
  }
}
