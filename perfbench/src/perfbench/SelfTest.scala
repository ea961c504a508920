package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Checks of the harness itself (no Spark session):
  *  - the same seed gives byte-identical feed files, another seed not;
  *  - the expected-state fold follows the engine's soft-delete rules;
  *  - lag attribution from offset/commit logs recovers known lags;
  *  - self time = duration − the union of child intervals.
  */
object SelfTest {
  def run(work: String): Boolean = {
    val checks = Seq(
      "feed files are byte-identical per seed" -> (() => feedDeterminism(work)),
      "expected state follows soft-delete rules" -> (() => expectedState()),
      "lag attribution recovers known lags" -> (() => lagAttribution(work)),
      "self time subtracts covered child time" -> (() => selfTime()))
    val results = checks.map { case (name, f) =>
      val ok = try f() catch { case e: Throwable =>
        System.err.println(s"  $name threw $e"); false
      }
      System.err.println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name")
      ok
    }
    results.forall(identity)
  }

  private def writeFeed(dir: String, seed: Long, files: Int): Seq[Array[Byte]] = {
    Files.createDirectories(Paths.get(dir))
    val feed = new Feed(seed, nOrders = 100, rowsPerFile = 25)
    (0 until files).map(f => Files.readAllBytes(Paths.get(Feed.write(dir, f, feed.rows(f)))))
  }

  def feedDeterminism(work: String): Boolean = {
    val a = writeFeed(s"$work/st-feed-a", 7, 4)
    val b = writeFeed(s"$work/st-feed-b", 7, 4)
    val c = writeFeed(s"$work/st-feed-c", 8, 4)
    a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) } &&
      a.zip(c).exists { case (x, y) => !java.util.Arrays.equals(x, y) }
  }

  def expectedState(): Boolean = {
    val upd = FeedRow(1, 11.0, "F", None, None, 100)
    val cancel = FeedRow(1, 12.0, "P", None, Some(200), 200)
    val restore = FeedRow(1, 13.0, "O", Some(200), None, 300)
    val upd2 = FeedRow(2, 15.0, "O", None, None, 350)
    val cancel2 = FeedRow(2, 14.0, "O", None, Some(400), 400)
    val snap = OrderState(Some(10.0), Some("P"), None, 50)
    // one event per batch: soft delete keeps attrs, restore takes them
    val s1 = Feed.replay(Map.empty, Seq(Seq(upd), Seq(cancel)))
    val s2 = Feed.replay(Map.empty, Seq(Seq(upd), Seq(cancel), Seq(restore)))
    // update + soft delete in one batch: only the latest event merges
    val s3 = Feed.replay(Map.empty, Seq(Seq(upd2, cancel2)))
    // on a published snapshot: the soft delete keeps the snapshot's attrs
    val s4 = Feed.replay(Map(2L -> snap), Seq(Seq(upd2, cancel2)))
    s1(1L) == OrderState(Some(11.0), Some("F"), Some(200), 200) &&
      s2(1L) == OrderState(Some(13.0), Some("O"), None, 300) &&
      s3(2L) == OrderState(None, None, Some(400), 400) &&
      s4 == Map(2L -> OrderState(Some(10.0), Some("P"), Some(400), 400))
  }

  private val tsSchema = MessageTypeParser.parseMessageType(
    "message t { optional int64 ts (TIMESTAMP(MICROS,true)); }")

  private def topicFile(p: Path, ts: Seq[Long]): Unit = {
    val fac = new SimpleGroupFactory(tsSchema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(p)).withType(tsSchema).build()
    try ts.foreach(t => w.write(fac.newGroup().append("ts", t))) finally w.close()
  }

  /** A consumer checkpoint for three micro-batches over three topic
    * files: batch 0 takes file a, batch 1 takes b (its source entry
    * arrives through a compacted log file), batch 2 takes c but never
    * commits. Commit times are set explicitly; every row of a and b must
    * map to its batch's commit time, no row of c may appear. */
  def lagAttribution(work: String): Boolean = {
    val root = Paths.get(work, "st-lag")
    val topic = root.resolve("topic"); val cp = root.resolve("cp")
    Seq(topic, cp.resolve("sources/0"), cp.resolve("offsets"), cp.resolve("commits"))
      .foreach(Files.createDirectories(_))
    val rows = Map("a" -> Seq(1000000L, 1000001L), "b" -> Seq(1500000L), "c" -> Seq(2000000L))
    rows.foreach { case (n, ts) => topicFile(topic.resolve(s"$n.parquet"), ts) }
    def entry(n: String, b: Int) =
      s"""{"path":"${topic.resolve(s"$n.parquet").toUri}","timestamp":1,"batchId":$b}"""
    def put(p: Path, lines: String*) = Files.write(p, ("v1" +: lines).mkString("\n").getBytes)
    put(cp.resolve("sources/0/0"), entry("a", 0))
    put(cp.resolve("sources/0/1.compact"), entry("a", 0), entry("b", 1))
    put(cp.resolve("sources/0/2"), entry("c", 2))
    (0 to 2).foreach(b => put(cp.resolve(s"offsets/$b"),
      """{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}""", s"""{"logOffset":$b}"""))
    val commitMs = Map(0 -> 1700000001234L, 1 -> 1700000005678L)
    commitMs.foreach { case (b, ms) =>
      val p = cp.resolve(s"commits/$b")
      put(p, """{"nextBatchWatermarkMs":0}""")
      Files.setLastModifiedTime(p, FileTime.fromMillis(ms))
    }
    val got = Attribution.rowCommits(cp.toString)
    val want = rows("a").map(_ -> commitMs(0).toDouble) ++
      rows("b").map(_ -> commitMs(1).toDouble)
    // known due times → known lags
    val due = Map(1000000L -> 1700000000000.0, 1000001L -> 1700000001000.0,
      1500000L -> 1700000005000.0)
    val lags = due.map { case (ts, d) => ts -> (got(ts) - d) }
    got == want.toMap &&
      lags == Map(1000000L -> 1234.0, 1000001L -> 234.0, 1500000L -> 678.0)
  }

  def selfTime(): Boolean = {
    val spans = Seq(
      Span("p", "parent", "", "", 0, 100),
      Span("c1", "child", "p", "", 10, 30),
      Span("c2", "child", "p", "", 20, 50),   // overlaps c1
      Span("c3", "child", "p", "", 90, 120),  // runs past the parent
      Span("g", "grandchild", "c1", "", 12, 18))
    val self = Span.selfTimes(spans)
    self == Map("p" -> 50.0, "c1" -> 14.0, "c2" -> 30.0, "c3" -> 30.0, "g" -> 6.0)
  }
}
