package perfbench

import graft.Tables
import graft.sources.Snapshots
import graft.streaming.{ReplayProducer, WeatherPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Open loop: `sources` rate sources at `rate / sources` rows/s each
  * replay `events` (row n of source k is event `(n * sources + k +
  * offset) mod |events|` through `ReplayProducer.indexed`), unioned into
  * `WeatherPipeline.windowed` on the rate timestamp. The window value is
  * the row's due time in ms, so each window row carries the due time of
  * the last event that contributed to it (`max_value`). Every trigger
  * lands through `Snapshots.commitStreamBatch` in `foreachBatch`.
  *
  * The first `warmup_s` seconds are set-up; then the run's seconds are
  * timed. Afterwards the committed rows are exported for the latency
  * arithmetic in `run.py`, and checked: the final window counts must
  * add up to the rows the sources reported, and every final window must
  * equal `WeatherPipeline.windowed` run as a batch over the replayed
  * rows, rebuilt from each rate source's start time and row count. */
object StreamIngest {
  private val Leg = "stream_ingest"
  private val Keys = Seq("event_type", "user_id")

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val cfg = ctx.cfg(Leg)
    val rate = cfg.get("rate").asInt
    val nSrc = cfg.get("sources").asInt
    val offset = cfg.get("offset").asLong
    val window = cfg.get("window").asText
    val perSrc = rate / nSrc
    val (sink, ckpt) = (s"${ctx.work}/sink", s"${ctx.work}/checkpoint")

    val indexed = ReplayProducer.indexed(Tables.events(spark, ctx.data), Seq("event_id"))
      .select("__idx", "event_id", "user_id", "event_type").cache()
    val n = indexed.count()
    /** Replayed rows from a frame of rate rows (`timestamp`, `value`). */
    def replay(rows: DataFrame, k: Int): DataFrame =
      rows.join(broadcast(indexed),
          pmod(rows("value") * nSrc + (k + offset), lit(n)) === col("__idx"))
        .select(rows("timestamp").as("emit_ts"),
          unix_millis(rows("timestamp")).as("emit_ms"),
          col("event_id"), col("user_id"), col("event_type"))
    def pipeline(streams: Seq[DataFrame]): DataFrame =
      WeatherPipeline.windowed(streams, "emit_ts", Keys, "emit_ms", "event_id", window)

    val commits = mutable.ArrayBuffer[Map[String, Any]]()
    val out = pipeline((0 until nSrc).map(k => replay(
      spark.readStream.format("rate").option("rowsPerSecond", perSrc).load(), k)))
    // start at a fixed phase of the wall-clock second. The trigger fires
    // on whole seconds and the rate source releases whole seconds of rows
    // counted from its own start, so the offset between the two is part
    // of every latency sample. With the source starting mid-second, that
    // wait is about the same whether a trigger ends within its second or
    // overruns it and the next one starts at once.
    val phase = cfg.get("start_phase_ms").asInt
    Thread.sleep(Math.floorMod(phase - System.currentTimeMillis(), 1000L))
    val q = out.writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(cfg.get("trigger").asText))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = Clock.ms
        Snapshots.commitStreamBatch(df.withColumn("batch_id", lit(id)), sink, id)
        commits.synchronized(commits += Map("batch" -> id, "t0" -> t0, "t1" -> Clock.ms))
        ()
      }.start()
    Thread.sleep(cfg.get("warmup_s").asInt * 1000L)
    ctx.ready(Leg)
    ctx.time(Leg)(Thread.sleep((ctx.seconds(Leg) * 1000).toLong))
    stopBetweenTriggers(q)
    ctx.takeHealth()

    val progress = q.recentProgress.toSeq.map { p =>
      Map("batch" -> p.batchId,
        "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "rows_per_s" -> (if (p.inputRowsPerSecond.isNaN) -1.0 else p.inputRowsPerSecond),
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "source_rows" -> p.sources.map(_.numInputRows).toSeq)
    }
    val failure = q.exception.map(e => Recorder.describe(e))

    // committed rows for the latency arithmetic
    val committed = Snapshots.read(spark, sink)
    committed.select("batch_id", "max_value", "min_value", "processing_end_ts")
      .coalesce(1).write.parquet(s"${ctx.work}/latency")

    val check: Map[String, Any] = try {
      val rowsBy = progress.map(p => p("batch").asInstanceOf[Long] ->
        p("source_rows").asInstanceOf[Seq[Long]]).toMap
      val committedIds = commits.synchronized(commits.map(_("batch").asInstanceOf[Long]).toSeq)
      val perSource = (0 until nSrc).map(k =>
        committedIds.flatMap(rowsBy.get).map(_(k)).sum)
      val finalRows = committed
        .withColumn("__last", max("batch_id").over(
          Window.partitionBy(("window_start" +: Keys).map(col): _*)))
        .filter(col("batch_id") === col("__last"))
        .drop("__last", "batch_id", "processing_end_ts").cache()
      val counted = finalRows.agg(sum("message_count")).head().getLong(0)
      val starts = (0 until nSrc).map(k => startMs(s"$ckpt/sources/$k/0"))
      val rebuilt = pipeline((0 until nSrc).map { k =>
        replay(spark.range(perSource(k)).select(col("id").as("value"),
          timestamp_millis(lit(starts(k)) +
            round(col("id") * 1000.0 / perSrc).cast("long")).as("timestamp")), k)
      }).drop("processing_end_ts").cache()
      val equal = Compare.same(finalRows, rebuilt)
      Seq(finalRows, rebuilt, indexed).foreach(_.unpersist())
      Map("committed_batches" -> committedIds.size,
        "missing_progress" -> committedIds.count(id => !rowsBy.contains(id)),
        "source_rows" -> perSource.sum, "counted_rows" -> counted,
        "windows_equal" -> equal, "source_start_ms" -> starts)
    } catch { case e: Throwable => Map("error" -> Recorder.describe(e)) }

    Map("progress" -> progress, "failure" -> failure.orNull,
      "commits" -> commits.toSeq, "check" -> check,
      "sink_files" -> Snapshots.fileCount(spark, sink),
      "latency_dir" -> s"${ctx.work}/latency")
  }

  /** Stops the query while it waits for its next trigger, so that no
    * micro-batch is cut off between its sink commit and its progress. */
  private def stopBetweenTriggers(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (q.status.isTriggerActive && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
    q.stop()
  }

  /** The rate source's start time, from the first entry of its
    * metadata log in the checkpoint: a version line, then the ms. */
  private def startMs(path: String): Long =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .split("\n").last.trim.toLong
}
