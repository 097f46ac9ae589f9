package perfbench

import graft.Tables
import graft.sources.{IncrementalViews, Snapshots}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod}

import java.io.File
import scala.jdk.CollectionConverters._

/** Closed loop, one client, driving the storage and view API: an
  * aggregate view over `events`, bootstrapped from half of the source.
  * Rows are split into buckets by `pmod(event_id, buckets)`; the plan
  * says which buckets the bootstrap and each tick commit, and which
  * committed bucket a delete tick removes. A tick commits its bucket,
  * deletes if it is a delete tick, refreshes the view and reads it.
  * Set-up runs the bootstrap and the plan's warm ticks; the timed part
  * runs whole tick cycles until the run's seconds are spent. Afterwards
  * the final view is compared with a fresh refresh over the final
  * source. */
object ViewTicks {
  private val Leg = "view_ticks"

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val cfg = ctx.cfg(Leg)
    val buckets = cfg.get("buckets").asInt
    val root = s"${ctx.work}/views"
    val (src, view) = (s"$root/events", s"$root/agg")
    val events = Tables.events(spark, ctx.data)
      .select("event_id", "user_id", "event_type", "value")
    val bucket: Column = pmod(col("event_id"), lit(buckets))
    def slice(bs: Seq[Int]): DataFrame = events.filter(bucket.isin(bs: _*))
    def commit(bs: Seq[Int]): Unit = ctx.rec.span("snapshots.commit")(
      Snapshots.commit(slice(bs), src, statsCol = Some("event_id")))
    def refresh(dir: String): Unit = IncrementalViews.refreshAgg(
      spark, src, dir, Seq("event_type"), Seq("value"), minMaxCols = Seq("value"))

    def tick(t: com.fasterxml.jackson.databind.JsonNode): Boolean = {
      val delete = t.get("delete").asInt
      ctx.rec.attempt("tick", "tick" -> t.get("index").asInt,
        "warm" -> t.get("warm").asBoolean, "delete" -> (delete >= 0)) {
        ctx.rec.span("tick.agg") {
          commit(Seq(t.get("bucket").asInt))
          if (delete >= 0) ctx.rec.span("snapshots.deleteWhere")(
            Snapshots.deleteWhere(spark, src, bucket === delete))
          ctx.rec.span("views.refreshAgg")(refresh(view))
        }
        ctx.rec.span("read.agg")(ctx.rec.span("snapshots.read")(
          Snapshots.read(spark, view).collect()))
      }
    }

    ctx.rec.span("bootstrap.agg") {
      commit(cfg.get("bootstrap").elements.asScala.map(_.asInt).toSeq)
      ctx.rec.span("views.refreshAgg")(refresh(view))
    }
    val (warm, timed) = cfg.get("ticks").elements.asScala.toSeq
      .partition(_.get("warm").asBoolean)
    warm.foreach(tick)
    ctx.ready(Leg)
    val ran = ctx.time(Leg) {
      val end = Clock.ms + ctx.seconds(Leg) * 1000.0
      timed.grouped(cfg.get("cycle").asInt)
        .takeWhile(_ => Clock.ms < end).map(_.map(tick).size).sum
    }
    ctx.takeHealth()

    val storage = Map(
      "data_files" -> Snapshots.fileCount(spark, view),
      "disk_bytes" -> Health.dirBytes(new File(root)),
      "live_source_bytes" -> Snapshots.read(spark, src).inputFiles
        .map(f => new File(new java.net.URI(f)).length).sum)
    val check: Map[String, Any] =
      try {
        refresh(s"${ctx.work}/check")
        Map("view_equal" -> Compare.same(Snapshots.read(spark, view),
          Snapshots.read(spark, s"${ctx.work}/check")),
          "view_rows" -> Snapshots.read(spark, view).count())
      } catch { case e: Throwable => Map("error" -> Recorder.describe(e)) }

    Map("ticks_run" -> ran, "check" -> check, "storage" -> storage)
  }
}
