package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Engine
import graft.registry.{Association, Attribute, ModelDef, Registry, TopicDef}

/** The order aggregate the Engine workload replicates: topic `orders`
  * publishes model `order` with its `order_lines` embedded (sideload), and
  * `order_line` is the dependency model the consumer extracts into its own
  * replica (with a `(order_id, synced_id)` key index for C11).
  *
  * Inputs are generated from the seed: `orders` and `order_lines`
  * snapshots (staged once as parquet under the run's work dir) and, for
  * the live workload, a change feed of order updates ([[Feed]]). Every
  * line has its own id — TPC-H's `(l_orderkey, l_linenumber)` is not
  * unique in the repository's test data, and a non-unique child key would
  * let last-writer-wins collapse rows while the check still passed. */
object Orders {
  val order = ModelDef("order",
    attributes = Seq(Attribute("o_totalprice", DoubleType),
      Attribute("o_orderstatus", StringType)),
    hasMany = Seq(Association("order_lines", "order_line", fk = "order_id")),
    sideloads = Seq("order_line"))
  val orderLine = ModelDef("order_line",
    attributes = Seq(Attribute("order_id", LongType),
      Attribute("l_quantity", DoubleType),
      Attribute("l_extendedprice", DoubleType),
      Attribute("l_returnflag", StringType)))
  val registry = Registry("bench", Seq(TopicDef("orders", Seq(order))),
    dependencyModels = Seq(orderLine))
  val topic: String = registry.topicName(registry.topics.head)

  /** Event time of every snapshot row; feed rows are later. */
  val snapshotTs = "2026-01-01 00:00:00"

  val feedSchema: StructType = StructType.fromDDL(
    "id LONG, o_totalprice DOUBLE, o_orderstatus STRING, __op STRING, " +
      "__old_canceled TIMESTAMP, __new_canceled TIMESTAMP, __ts TIMESTAMP")

  /** Seeded snapshot generation: `nOrders` orders and `4 × nOrders`
    * lines, each line assigned to a pseudo-random order (so some orders
    * have no lines and publish an empty child list). */
  def stage(spark: SparkSession, seed: Long, nOrders: Int, dir: String): Unit = {
    def h(salt: Int): org.apache.spark.sql.Column =
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(Long.MaxValue))
    val parts = 4
    val orders = spark.range(0, nOrders.toLong, 1, parts)
      .select(col("id"),
        (lit(1000.0) + (h(1) % 49900000L) / 100.0).as("o_totalprice"),
        element_at(array(lit("O"), lit("F"), lit("P")),
          (h(2) % 3L + 1).cast("int")).as("o_orderstatus"),
        lit(snapshotTs).cast("timestamp").as("__ts"))
    val lines = spark.range(0, 4L * nOrders, 1, parts)
      .select(col("id"),
        (h(3) % nOrders.toLong).as("order_id"),
        (lit(1.0) + h(4) % 50L).cast("double").as("l_quantity"),
        (lit(900.0) + (h(5) % 10410000L) / 100.0).as("l_extendedprice"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h(6) % 3L + 1).cast("int")).as("l_returnflag"),
        lit(snapshotTs).cast("timestamp").as("__ts"))
    Parallel(2)(Seq(() => orders.write.parquet(s"$dir/orders"),
      () => lines.write.parquet(s"$dir/lines")))
    ()
  }

  /** Change feed = the parquet files the feeder drops into `feedDir`;
    * snapshots = the staged tables. */
  final class Bindings(dataDir: String, feedDir: String)
      extends Engine.ModelBindings {
    def changes(s: SparkSession, m: ModelDef): DataFrame =
      s.readStream.schema(feedSchema).parquet(feedDir)
    def snapshot(s: SparkSession, m: ModelDef): DataFrame = m.name match {
      case "order" => s.read.parquet(s"$dataDir/orders")
      case "order_line" => s.read.parquet(s"$dataDir/lines")
    }
  }

  /** Staged lines in the line replica's shape. */
  def lines(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(s"$dataDir/lines")
      .select("id", "order_id", "l_quantity", "l_extendedprice", "l_returnflag")

  /** Compare the replicas and the key index with the expected state:
    * `expectedOrders` carries (id, o_totalprice, o_orderstatus,
    * canceled_us, updated_us); `lines` are the lines the line replica
    * must hold. Returns the ids of orders whose state is wrong (the order
    * row, one of its lines or one of its key-index pairs). */
  def check(res: Engine.EngineResult, expectedOrders: DataFrame,
      lines: DataFrame): Set[Long] = {
    val ord = res.replicas("order").read().select(col("synced_id").as("id"),
      col("o_totalprice"), col("o_orderstatus"),
      unix_micros(col("synced_canceled_at")).as("canceled_us"),
      unix_micros(col("synced_updated_at")).as("updated_us"))
    val lineRep = res.replicas("order_line").read().select(
      col("synced_id").as("id"), col("order_id"), col("l_quantity"),
      col("l_extendedprice"), col("l_returnflag"))
    val idx = res.keyIndexes("order_line").read()
      .select(col("synced_id").as("id"), col("order_id"))
    def diff(what: String, a: DataFrame, e: DataFrame, key: String): Seq[Long] =
      if (OperatorMix.fingerprint(a) == OperatorMix.fingerprint(e)) Nil
      else {
        val extra = a.exceptAll(e).collect()
        val missing = e.exceptAll(a).collect()
        // the first few differences, for whoever has to explain a failure
        (extra.map("replica" -> _) ++ missing.map("expected" -> _)).take(6)
          .foreach { case (side, r) => System.err.println(s"[perfbench] $what $side: $r") }
        (extra ++ missing).map(_.getAs[Long](key)).toSeq
      }
    Parallel(3)(Seq(() => diff("order", ord, expectedOrders, "id"),
      () => diff("order_line", lineRep, lines, "order_id"),
      () => diff("key index", idx, lines.select("id", "order_id"), "order_id")))
      .flatten.toSet
  }

  /** Order state once genesis published the staged snapshot. */
  def snapshotState(spark: SparkSession, dataDir: String): Map[Long, OrderState] =
    spark.read.parquet(s"$dataDir/orders").select(col("id"),
      col("o_totalprice"), col("o_orderstatus"), unix_micros(col("__ts")))
      .collect().map(r => r.getLong(0) ->
        OrderState(Some(r.getDouble(1)), Some(r.getString(2)), None, r.getLong(3)))
      .toMap

  def options(mergeOnRead: Boolean, tracer: Option[Tracer]): Engine.EngineOptions = {
    val base = Engine.EngineOptions(mergeOnRead = mergeOnRead)
    tracer.fold(base)(t => base.copy(replicaFactory = Some(t.replicaFactory(base))))
  }

  /** Total size and count of the regular files under `dir`. */
  def diskUsage(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        val fs = s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .filterNot(_.getFileName.toString.startsWith("."))
          .map(java.nio.file.Files.size).toSeq
        (fs.size.toLong, fs.sum)
      } finally s.close()
    }
  }

  /** Filesystem type of the store holding `dir` (the work-dir basis). */
  def fsType(dir: String): String =
    java.nio.file.Files.getFileStore(java.nio.file.Paths.get(dir)).`type`()
}
