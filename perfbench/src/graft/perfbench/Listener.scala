package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, expr, lit, sum, unix_micros, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sinks.StagedCommitSink

/** One listener pass and its output check. */
final case class ListenerPass(
    backfillS: Double, backfillRows: Long, resumeMs: Double,
    tailBatchMs: Seq[Double], backfillProgress: Seq[StreamingQueryProgress],
    tailProgress: Seq[StreamingQueryProgress], wallS: Double,
    expectedRows: Long, failures: Seq[String])

/** The listener path end to end: BurnEventSource → wei decode →
  * StagedCommitSink, run as backfill, restart, then tail, each phase
  * with `Trigger.AvailableNow` on one checkpoint. */
object Listener {
  val BackfillBlocks = 150000L
  val BackfillPerTrigger = 50000L
  val TailBatches = 20
  val TailPerTrigger = 10L

  /** The seed shifts the block range: same size, other content. */
  def startBlock(seed: Long): Long = 1000000L + math.floorMod(seed, 997L) * 10000000L

  def endBlock(seed: Long): Long = startBlock(seed) + BackfillBlocks + TailBatches * TailPerTrigger - 1

  val sinkSchema: StructType = StructType(Seq(
    StructField("transactionHash", StringType), StructField("logIndex", IntegerType),
    StructField("blockNumber", LongType), StructField("fromAddress", StringType),
    StructField("aeAddress", StringType), StructField("valueWei", StringType),
    StructField("tokenWhole", LongType), StructField("burnCount", LongType),
    StructField("blockTsUs", LongType)))

  /** The wei decode of `s_dsv2_burn_ingest`, projected onto the sink's
    * column types. */
  def decode(raw: DataFrame): DataFrame = raw.select(
    col("transactionHash"), col("logIndex"), col("blockNumber"),
    col("fromAddress"), col("aeAddress"), col("valueWei").cast("string").as("valueWei"),
    expr("valueWei div CAST(1000000000000000000 AS DECIMAL(19,0))").cast("long").as("tokenWhole"),
    col("burnCount"), unix_micros(col("blockTs")).as("blockTsUs"))

  private def source(spark: SparkSession, lo: Long, hi: Long, perTrigger: Long, n: Int) =
    spark.readStream.format("graft.sources.BurnEventSource")
      .option("startBlock", lo.toString).option("endBlock", hi.toString)
      .option("blocksPerTrigger", perTrigger.toString)
      .option("numPartitions", n.toString)
      .load()

  def batchRead(spark: SparkSession, lo: Long, hi: Long, n: Int): DataFrame =
    spark.read.format("graft.sources.BurnEventSource")
      .option("startBlock", lo.toString).option("endBlock", hi.toString)
      .option("blocksPerTrigger", (hi - lo + 1).toString)
      .option("numPartitions", n.toString)
      .load()

  private def runStream(df: DataFrame, sink: String, ckpt: String): StreamingQuery =
    decode(df).writeStream.format("graft.sinks.StagedCommitSink")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()

  def pass(spark: SparkSession, dir: File, seed: Long, n: Int, spans: Spans,
           layers: Option[Layers]): ListenerPass = {
    val sink = new File(dir, "sink").getPath
    val ckpt = new File(dir, "checkpoint").getPath
    val lo = startBlock(seed)
    val mid = lo + BackfillBlocks - 1
    val hi = endBlock(seed)
    def phase[A](name: String)(body: => A): A =
      spans(s"streaming.$name")(layers.fold(body)(_.within(s"listener.$name")(body)))
    val t0 = System.nanoTime()
    val (backfillS, backfillProgress) = phase("backfill") {
      val q = runStream(source(spark, lo, mid, BackfillPerTrigger, n), sink, ckpt)
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, q.recentProgress.toSeq.filter(_.numInputRows > 0))
    }
    // restart: a new query on the same checkpoint, with a higher head
    // and tail-sized batches
    val (resumeMs, tailProgress) = phase("tail") {
      val r0 = System.currentTimeMillis()
      val q = runStream(source(spark, lo, hi, TailPerTrigger, n), sink, ckpt)
      q.awaitTermination()
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val firstCommit = ps.headOption.map(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration).getOrElse(r0)
      ((firstCommit - r0).toDouble, ps)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val (expectedRows, failures) = spans("check.listener")(check(spark, sink, lo, hi, n))
    ListenerPass(backfillS, backfillProgress.map(_.numInputRows).sum, resumeMs,
      tailProgress.drop(1).map(_.batchDuration.toDouble), backfillProgress, tailProgress,
      wallS, expectedRows, failures)
  }

  /** The sink's rows after backfill, restart and tail must equal a
    * batch read of the same block range, with no duplicate
    * (transactionHash, logIndex). */
  def check(spark: SparkSession, sink: String, lo: Long, hi: Long, n: Int): (Long, Seq[String]) = {
    val got = StagedCommitSink.readEpochs(spark, sink, sinkSchema)
    val want = decode(batchRead(spark, lo, hi, n))
    checkFrames(got, want)
  }

  def checkFrames(got: DataFrame, want: DataFrame): (Long, Seq[String]) = {
    def stats(df: DataFrame) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")),
        countDistinct(col("transactionHash"), col("logIndex"))).head()
      (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"), r.getLong(2))
    }
    val (gRows, gSum, gKeys) = stats(got)
    val (wRows, wSum, _) = stats(want)
    val failures = Seq(
      if (gRows != gKeys) Some(s"listener: ${gRows - gKeys} duplicate (transactionHash, logIndex) rows") else None,
      if (gRows != wRows) Some(s"listener: sink has $gRows rows, batch read has $wRows") else None,
      if (gSum != wSum) Some("listener: sink rows differ from the batch read") else None).flatten
    (wRows, failures)
  }

  /** Standalone per-layer probes: source decode, sink write and commit
    * floor, and a stateful stream over the same source. */
  def probes(spark: SparkSession, dir: File, seed: Long, n: Int, backfillRows: Long, spans: Spans,
             layers: Layers): Map[String, Double] = {
    val lo = startBlock(seed)
    val mid = lo + BackfillBlocks - 1
    val decodeS = spans("sources.decode")(layers.within("probe.sources") {
      val t0 = System.nanoTime()
      batchRead(spark, lo, mid, n).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    val frame = decode(batchRead(spark, lo, lo + 99999, n)).localCheckpoint(eager = true)
    val frameRows = frame.count()
    val table = new File(dir, "probe_sink").getPath
    val writeS = spans("sinks.write")(layers.within("probe.sinks") {
      val t0 = System.nanoTime()
      frame.write.format("graft.sinks.StagedCommitSink").option("path", table).mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    val bytes = dirBytes(new File(StagedCommitSink.currentDir(spark, table).stripPrefix("file:")))
    val one = frame.limit(1).localCheckpoint(eager = true)
    val commitMs = spans("sinks.commit_floor")(layers.within("probe.sinks.commit") {
      Stats.median((1 to 9).map { _ =>
        val t0 = System.nanoTime()
        one.write.format("graft.sinks.StagedCommitSink").option("path", table).mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      })
    })
    Map(
      "sources.decode_rows_per_s" -> backfillRows / decodeS,
      "sinks.write_rows_per_s" -> frameRows / writeS,
      "sinks.bytes_per_row" -> bytes.toDouble / frameRows,
      "sinks.commit_floor_ms" -> commitMs) ++ stateProbe(spark, dir, seed, n, spans, layers)
  }

  /** A stateful stream over the burn source — duplicate delivery
    * dropped within a watermark — for the state-store layer. */
  private def stateProbe(spark: SparkSession, dir: File, seed: Long, n: Int, spans: Spans,
                         layers: Layers): Map[String, Double] = {
    val lo = startBlock(seed)
    val ps = spans("streaming.state")(layers.within("probe.state") {
      val q = source(spark, lo, lo + 19999, 2000, n)
        .withWatermark("blockTs", "1 hour")
        .dropDuplicatesWithinWatermark("transactionHash", "logIndex")
        .transform(decode)
        .writeStream.format("graft.sinks.StagedCommitSink")
        .option("path", new File(dir, "state_sink").getPath)
        .option("checkpointLocation", new File(dir, "state_ckpt").getPath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    })
    val ops = ps.flatMap(_.stateOperators.toSeq)
    Map(
      "streaming.state_commit_ms" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_rows" -> ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_mem_mb" -> ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).getOrElse(0.0),
      "streaming.state_stores" -> ops.map(_.numShufflePartitions).maxOption.getOrElse(0L).toDouble,
      "streaming.rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  /** Per-batch p50 of the trigger phases in `durationMs`. */
  def phaseP50(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val names = Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
      "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
      "commitOffsets" -> "commit_offsets_ms")
    names.map { case (k, m) =>
      m -> Stats.median(ps.map(p => p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
    }.toMap
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()
}
