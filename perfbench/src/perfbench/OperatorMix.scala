package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BatchConcurrency, SparkEntry}

/** `operator_mix`: the batch-operator surface (`SparkEntry.queries`) on
  * generated TPC-H-like, event, document and embedding tables.
  *
  * The queries are `BatchConcurrency.mix` (one per family) plus the
  * chunked-retrieval query and the four stored-index queries. Set-up
  * stages the tables, then runs timed passes until `--seconds` have
  * passed (at least one). A pass runs each query once in a fixed order,
  * computing its fingerprint (row count + order-independent row hash,
  * which reads every row and column of the result) inside the timer and
  * checking it against the values recorded in
  * `perfbench/operator_mix.fingerprints`; caches are cleared and a GC
  * runs between queries, outside the timer. Per-query times are medians
  * over passes. The first pass is each query's first execution in the
  * JVM, so it includes the query's code generation; a pass takes longer
  * than the benchmark's `run_seconds`, so a benchmark run times one pass.
  *
  * The tables come from one fixed data seed, not from `--seed`, so the
  * fingerprints can be pinned once; `--seed` is accepted and ignored. */
object OperatorMix {
  val queries: Seq[String] = BatchConcurrency.mix ++ Seq(
    "x147_chunked_retrieval", "x149_ann_index_upsert", "x153_bm25_stored_probe",
    "x158_stored_minhash_probe", "x159_bm25_stored_maintenance")
  /** Table sizes relative to the repository's sf0.1 test data. */
  val scale = 0.02
  val dataSeed = 42L
  val fingerprintFile = "perfbench/operator_mix.fingerprints"

  final case class Fingerprint(rows: Long, hash: String)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val data = s"${ctx.work}/data"
    stage(spark, dataSeed, scale, data)
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val pinned = loadFingerprints()

    val heap = new HeapWatch
    heap.start()
    val windowStart = System.currentTimeMillis()
    val setupS = (windowStart - ctx.jvmStartMs) / 1000.0
    ctx.log(f"operator_mix: window started at $setupS%.1f s")
    val times = queries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val failedQ = scala.collection.mutable.Set.empty[String]
    val plans = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pass = 0
    while (pass == 0 || System.currentTimeMillis() - windowStart < ctx.seconds * 1000L) {
      pass += 1
      val passStart = Tracer.epochMs
      queries.foreach { q =>
        val sc = spark.sparkContext
        sc.setLocalProperty(Tracer.GroupKey, s"ops.$q#$pass")
        val t0 = Stats.nowMs
        try {
          val fp = fingerprint(SparkEntry.queries(q)(spark, data))
          times(q) += (Stats.nowMs - t0) / 1000.0
          if (!pinned.get(q).contains(fp)) {
            ctx.log(s"operator_mix: $q fingerprint $fp does not match the pinned ${pinned.get(q)}")
            failedQ += q
          }
        } catch { case e: Exception =>
          ctx.log(s"operator_mix: $q failed: $e"); failedQ += q
        } finally sc.setLocalProperty(Tracer.GroupKey, null)
        tracer.foreach(_.record(s"ops.$q", "", s"ops.$q#$pass", t0, Stats.nowMs))
        clear(spark)
      }
      val passEnd = Tracer.epochMs
      tracer.foreach { t =>
        t.drain()
        plans += t.planning.asScala.collect {
          case (end, ms) if end >= passStart && end <= passEnd => ms
        }.sum
      }
    }
    val (heapMb, gcMs) = heap.stop()
    val med = queries.map(q => q -> Stats.median(times(q).toSeq)).toMap
    ctx.log(f"operator_mix: window ended at ${ctx.sinceStartS}%.1f s, passes=$pass " +
      queries.map(q => f"$q=${med(q)}%.2f").mkString(" "))
    val ok = queries.filterNot(failedQ).map(med(_) * 1000.0)
    val geo = Stats.geomean(ok)
    val mean = Stats.mean(ok)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("latency_geomean_ms", geo, "ms"),
      Metric("latency_mean_ms", mean, "ms"),
      Metric("heap_peak_mb", heapMb, "MB"))
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        queries.flatMap { q =>
          val w = t.workOf(s"ops.$q#$pass")
          Seq(Metric(s"ops.$q.s", med(q), "s"),
            Metric(s"ops.$q.jobs", w.jobs.toDouble, "count"),
            Metric(s"ops.$q.tasks", w.tasks.toDouble, "count"),
            Metric(s"ops.$q.shuffle_mb", w.shuffleBytes / 1048576.0, "MB"))
        } ++ Seq(
          Metric("ops.plan_ms", Stats.median(plans.toSeq), "ms"),
          Metric("gc_ms", gcMs, "ms"),
          Metric("traced.latency_geomean_ms", geo, "ms"),
          Metric("traced.latency_mean_ms", mean, "ms"))
    }
    tracer.foreach(_.dump(s"${ctx.work}/../trace-operator_mix.jsonl"))
    Result(failedQ.isEmpty, queries.size.toLong, failedQ.size.toLong, metrics)
  }

  /** Drop cached plans and blocks, then collect garbage, outside any
    * timer (as `Bench.timeOnce` does between queries). */
  def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
  }

  /** Row count and the sum of per-row hashes of the JSON rendering of
    * each row: independent of row order and partitioning. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val row = to_json(struct(df.columns.map(c => col(s"`$c`")): _*))
    val r = df.agg(count(lit(1)),
      sum(xxhash64(row).cast("decimal(38,0)"))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def loadFingerprints(): Map[String, Fingerprint] = {
    val p = Paths.get(fingerprintFile)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filterNot(_.startsWith("#"))
      .map(_.split("\t")).collect { case Array(q, n, h) => q -> Fingerprint(n.toLong, h) }
      .toMap
  }

  /** Seeded tables shaped like the repository's test data (same columns,
    * value ranges and categorical domains), `scale` × the sf0.1 sizes. */
  def stage(spark: SparkSession, seed: Long, scale: Double, dir: String): Unit = {
    def n(base: Int): Long = math.max(1L, math.round(base * scale))
    def h(salt: Int, key: Column = col("id")): Column =
      pmod(xxhash64(lit(seed), key, lit(salt)), lit(Long.MaxValue))
    def pick(salt: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (h(salt) % xs.size.toLong + 1).cast("int"))
    def day(from: String, salt: Int, span: Int): Column =
      date_add(lit(from).cast("date"), (h(salt) % span.toLong).cast("int")).cast("timestamp")
    def money(salt: Int, lo: Double, cents: Long): Column =
      lit(lo) + (h(salt) % cents) / 100.0
    def range(rows: Long) = spark.range(0, rows, 1, 4)
    val nCust = n(15000); val nOrd = n(150000)
    val customer = range(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        (h(1) % 25L).cast("int").as("c_nationkey"),
        money(2, -999.99, 1099979L).as("c_acctbal"),
        pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
          .as("c_mktsegment"))
    val orders = range(nOrd).select(col("id").as("o_orderkey"), (h(1) % nCust).as("o_custkey"),
        pick(2, "O", "F", "P").as("o_orderstatus"),
        money(3, 1000.0, 49900000L).as("o_totalprice"),
        day("1995-01-01", 4, 2404).as("o_orderdate"),
        pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          .as("o_orderpriority"))
    val lineitem = range(n(600000)).select((h(1) % nOrd).as("l_orderkey"),
        (h(2) % n(20000)).as("l_partkey"), (h(3) % n(1000)).as("l_suppkey"),
        (h(4) % 7L + 1).cast("int").as("l_linenumber"),
        (h(5) % 50L + 1).cast("double").as("l_quantity"),
        money(6, 900.0, 10410000L).as("l_extendedprice"),
        ((h(7) % 11L) / 100.0).as("l_discount"), ((h(8) % 9L) / 100.0).as("l_tax"),
        pick(9, "A", "N", "R").as("l_returnflag"), pick(10, "O", "F").as("l_linestatus"),
        day("1995-01-02", 11, 2498).as("l_shipdate"))
    val events = range(n(100000)).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + h(1) % 2592000000000L).as("ts"),
        (h(2) % n(15000)).as("user_id"),
        pick(3, "signup", "click", "error", "view", "purchase").as("event_type"),
        ((h(4) % 56022L) / 100.0).as("value"),
        format_string("{\"k\": %d}", h(5) % 100L).as("props"))
    // documents: 8-90 words over a small vocabulary; every 50th document
    // repeats its predecessor with one extra word (near-duplicates)
    val vocab = ("a the key agg row scan slow fast table value part hash " +
      "line sort window merge batch data column join small customer query " +
      "order group stream spark filter big").split(" ")
    val base = when(h(1) % 50L === 0 && col("id") > 0, col("id") - 1).otherwise(col("id"))
    val words = transform(sequence(lit(0), (h(2, base) % 83L + 7).cast("int")),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), base, i), lit(vocab.length.toLong)) + 1).cast("int")))
    val text = when(base =!= col("id"), concat_ws(" ", words, lit("extra")))
      .otherwise(concat_ws(" ", words))
    val documents = range(n(5000)).select(col("id").as("doc_id"), text.as("text"),
        pick(3, "en", "en", "de", "es", "fr", "zh").as("lang"),
        concat(lit("src"), (h(4) % 20L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // embeddings: 64-d, ten labelled clusters plus noise
    val label = (h(1) % 10L).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), d =>
      ((pmod(xxhash64(lit(seed), label, d), lit(2001L)) - 1000) / 5000.0 +
        (pmod(xxhash64(lit(seed), col("id"), d), lit(2001L)) - 1000) / 10000.0)
        .cast("float"))
    val embeddings = range(n(2000))
      .select(col("id").as("vec_id"), emb.as("embedding"), label.as("label"))
    Parallel(4)(Seq("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
      .map { case (name, df) => () => df.write.parquet(s"$dir/$name.parquet") })
    ()
  }
}
