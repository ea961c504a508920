package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** One change row of the live feed: an update of an order, a soft delete
  * (`newCanceledUs` set) or a restore (`oldCanceledUs` set). */
final case class FeedRow(id: Long, price: Double, status: String,
    oldCanceledUs: Option[Long], newCanceledUs: Option[Long], tsUs: Long)

/** Expected replica state of one order; attributes are empty when the
  * order was soft-deleted before any live publish (the wire payload of a
  * soft delete carries only the key and timestamps). */
final case class OrderState(price: Option[Double], status: Option[String],
    canceledUs: Option[Long], updatedUs: Long)

/** The seeded change feed of the live workload. File `f` is due `f ×
  * periodMs` after the feed starts and holds `rowsPerFile` updates of
  * distinct orders. An order that is soft-deleted is restored the next
  * time it is drawn; a live order is soft-deleted with probability
  * `toggleShare`. Row event times are logical (`Feed.tsUs`), so the same
  * seed gives byte-identical files on every run, and a row's event time
  * identifies its file and position. Files must be drawn in order. */
final class Feed(seed: Long, nOrders: Int, rowsPerFile: Int,
    toggleShare: Double = 0.04) {
  private val canceled = scala.collection.mutable.Map.empty[Long, Long]
  private var nextFile = 0

  def rows(f: Int): Seq[FeedRow] = {
    require(f == nextFile, s"feed files are drawn in order: want $nextFile, got $f")
    nextFile += 1
    val rnd = new java.util.SplittableRandom(seed * 1000003L + f)
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (ids.size < rowsPerFile) ids += rnd.nextLong(nOrders.toLong)
    ids.toSeq.zipWithIndex.map { case (id, j) =>
      val ts = Feed.tsUs(f, j)
      val price = 1000.0 + rnd.nextInt(49900000) / 100.0
      val status = Feed.statuses(rnd.nextInt(3))
      val toggle = rnd.nextDouble() < toggleShare
      canceled.get(id) match {
        case Some(c) =>
          canceled -= id
          FeedRow(id, price, status, Some(c), None, ts)
        case None if toggle =>
          canceled(id) = ts
          FeedRow(id, price, status, None, Some(ts), ts)
        case None => FeedRow(id, price, status, None, None, ts)
      }
    }
  }
}

object Feed {
  val statuses: IndexedSeq[String] = IndexedSeq("O", "F", "P")
  val periodMs = 500L
  /** 2026-06-01T00:00:00Z — after the snapshot's event time. */
  val t0Us = 1780272000000000L

  def tsUs(f: Int, j: Int): Long = t0Us + f * periodMs * 1000L + j
  def fileOf(tsUs: Long): Int = ((tsUs - t0Us) / (periodMs * 1000L)).toInt

  private val schema = MessageTypeParser.parseMessageType(
    """message feed {
      |  required int64 id;
      |  required double o_totalprice;
      |  required binary o_orderstatus (UTF8);
      |  required binary __op (UTF8);
      |  optional int64 __old_canceled (TIMESTAMP(MICROS,true));
      |  optional int64 __new_canceled (TIMESTAMP(MICROS,true));
      |  required int64 __ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Write file `f` driver-locally (no Spark job) under a hidden name and
    * move it into place atomically, so a polling source never lists a
    * half-written file. Returns the final path. */
  def write(dir: String, f: Int, rows: Seq[FeedRow]): String = {
    val tmp = Paths.get(dir, f".feed-$f%05d.parquet.tmp")
    val dst = Paths.get(dir, f"feed-$f%05d.parquet")
    val fac = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(schema).build()
    try rows.foreach { r =>
      val g = fac.newGroup()
      g.add("id", r.id)
      g.add("o_totalprice", r.price)
      g.add("o_orderstatus", r.status)
      g.add("__op", "update")
      r.oldCanceledUs.foreach(g.add("__old_canceled", _))
      r.newCanceledUs.foreach(g.add("__new_canceled", _))
      g.add("__ts", r.tsUs)
      w.write(g)
    } finally w.close()
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    dst.toString
  }

  /** Expected order state after the consumer merged `batches` (rows
    * grouped by the micro-batch that committed them, in commit order) on
    * top of `init` (the published snapshot). The engine's consumer keeps
    * only the latest event per key within a micro-batch (C2 keep-latest,
    * the reference's default remove-duplicates strategy) and merges it
    * into the state before the batch: an update or a restore replaces
    * the attributes and clears the soft delete; a soft delete keeps the
    * attributes it finds (none for an order never published) and sets
    * the cancel time. */
  def replay(init: Map[Long, OrderState],
      batches: Seq[Seq[FeedRow]]): Map[Long, OrderState] =
    batches.foldLeft(init) { (s, batch) =>
      batch.groupBy(_.id).values.map(_.maxBy(_.tsUs)).foldLeft(s) { (s1, r) =>
        r.newCanceledUs match {
          case Some(c) =>
            val cur = s1.getOrElse(r.id, OrderState(None, None, None, 0L))
            s1.updated(r.id, cur.copy(canceledUs = Some(c), updatedUs = r.tsUs))
          case None =>
            s1.updated(r.id, OrderState(Some(r.price), Some(r.status), None, r.tsUs))
        }
      }
    }
}
