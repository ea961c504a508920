package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Maps rows to the micro-batch that committed them, from a streaming
  * query's checkpoint alone (no Spark job, no hook in the program):
  *
  *  - `sources/0/<n>[.compact]` — the file source's log: which input file
  *    entered in which source batch;
  *  - `offsets/<b>` — micro-batch `b` consumed source batches up to its
  *    `logOffset`;
  *  - `commits/<b>` — written once micro-batch `b` finished its sink
  *    work; its modification time is the commit time.
  */
object Attribution {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r
  private val LogOffsetRe = "\"logOffset\":(\\d+)".r

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  private def isLogFile(p: Path): Boolean =
    p.getFileName.toString.matches("\\d+(\\.compact)?")

  private def batchNo(p: Path): Long =
    p.getFileName.toString.stripSuffix(".compact").toLong

  private def lines(p: Path): Seq[String] =
    try Files.readAllLines(p).asScala.toSeq
    catch { case _: java.io.IOException => Nil } // mid-rename: next poll

  /** Input file (absolute path) → commit time (epoch ms) of the
    * micro-batch of `checkpoint` that consumed it; files of uncommitted
    * batches are absent. */
  def committedFiles(checkpoint: String): Map[String, Double] = {
    val cp = Paths.get(checkpoint)
    val commits: Map[Long, Double] = list(cp.resolve("commits"))
      .filter(isLogFile).map(p => batchNo(p) ->
        Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0)
      .toMap
    if (commits.isEmpty) return Map.empty
    val logOffsets: Seq[(Long, Long)] = list(cp.resolve("offsets"))
      .filter(isLogFile).map(batchNo).filter(commits.contains).sorted
      .flatMap(b => lines(cp.resolve("offsets").resolve(b.toString))
        .flatMap(l => LogOffsetRe.findFirstMatchIn(l)).lastOption
        .map(m => b -> m.group(1).toLong))
    // source batch → file, from regular and compacted log files alike
    val entries: Seq[(Long, String)] = list(cp.resolve("sources").resolve("0"))
      .filter(isLogFile).flatMap(lines).flatMap { l =>
        for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
          yield b.group(1).toLong -> Paths.get(new java.net.URI(p.group(1))).toString
      }.distinct
    var prev = -1L
    logOffsets.flatMap { case (b, upTo) =>
      val lo = prev
      prev = math.max(prev, upTo)
      entries.collect { case (sb, f) if sb > lo && sb <= upTo => f -> commits(b) }
    }.toMap
  }

  /** Event times (µs) of the `ts` column of one parquet file, read
    * driver-locally; `ts` may be stored as INT64 micros or as INT96
    * (Spark's default timestamp encoding). */
  def eventTimes(file: String): Seq[Long] = {
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96
    val conf = new org.apache.hadoop.conf.Configuration()
    val path = new org.apache.hadoop.fs.Path(file)
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val tsType = try { val s = footer.getFooter.getFileMetaData.getSchema; s.getType(s.getFieldIndex("ts")) }
      finally footer.close()
    val int96 = tsType.isPrimitive && tsType.asPrimitiveType.getPrimitiveTypeName == INT96
    val reader = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf)
      .set("parquet.read.schema", s"message m { $tsType; }").build()
    def micros(g: org.apache.parquet.example.data.Group): Long =
      if (!int96) g.getLong("ts", 0)
      else {
        // 8 bytes nanos-of-day then 4 bytes Julian day, little-endian
        val b = g.getInt96("ts", 0).toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanos = b.getLong
        (b.getInt - 2440588L) * 86400000000L + nanos / 1000
      }
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .filter(_.getFieldRepetitionCount("ts") > 0).map(micros).toSeq
    finally reader.close()
  }

  /** Data files of a topic directory (Spark's own bookkeeping excluded). */
  def dataFiles(dir: String): Seq[String] =
    list(Paths.get(dir)).map(_.toString)
      .filter(f => f.endsWith(".parquet") && !Paths.get(f).getFileName.toString.startsWith("."))

  /** Row event time (µs) → commit time (epoch ms) of the consumer
    * micro-batch that merged it, for every row of every committed topic
    * file. */
  def rowCommits(consumerCheckpoint: String): Map[Long, Double] =
    committedFiles(consumerCheckpoint).toSeq.flatMap { case (f, c) =>
      eventTimes(f).map(_ -> c)
    }.toMap
}
