package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one workload run needs: the plan written by `run.py`, the
  * session, the span recorder and, in a traced run, the listeners. A
  * workload runs one or more legs; each leg has an untimed set-up part
  * (begin to ready) and a timed part. */
final class Ctx(val plan: JsonNode, val spark: SparkSession) {
  val traced: Boolean = plan.get("trace").asBoolean
  val data: String = plan.get("data").asText
  val work: String = plan.get("work").asText
  val rec = new Recorder(spark.sparkContext, traced)
  val jobs: Option[JobTap] = if (traced) Some(new JobTap) else None
  val plans: Option[PlanTap] = if (traced) Some(new PlanTap) else None
  jobs.foreach(spark.sparkContext.addSparkListener)
  plans.foreach(spark.listenerManager.register)

  def cfg(leg: String): JsonNode = plan.get("legs").get(leg)
  def seconds(leg: String): Double = cfg(leg).get("seconds").asDouble
  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  private val legs = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
  private var cal0: Map[String, Double] = Map.empty
  private var gc0 = 0L
  var health: Map[String, Any] = Map.empty

  def begin(leg: String): Unit = legs(leg) = mutable.Map("begin" -> Clock.ms)

  /** The leg's set-up is done: for the first leg, the session is up, the
    * tables are loaded and the untimed warm-up has run. The first ready
    * also takes the pre-run calibration. */
  def ready(leg: String): Unit = {
    legs(leg)("ready") = Clock.ms
    if (cal0.isEmpty) {
      cal0 = Health.calibrate(spark)
      gc0 = Health.gcMs
    }
  }

  def time[T](leg: String)(f: => T): T = {
    legs(leg)("t0") = Clock.ms
    try f finally legs(leg)("t1") = Clock.ms
  }

  /** Post-run calibration and health, read right after a timed part;
    * the last leg's reading is the one reported. */
  def takeHealth(): Unit = {
    val cal1 = Health.calibrate(spark)
    health = Map("cal_pre" -> cal0, "cal_post" -> cal1,
      "gc_pause_ms" -> (Health.gcMs - gc0)) ++ Health.snapshot(spark, work)
  }

  /** Waits until the listener bus has delivered every event posted so
    * far: a marker job is the last event, and the bus is FIFO. */
  def drain(): Unit = jobs.foreach { tap =>
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.Prop, null)
    sc.setJobGroup("perfbench.drain", "listener drain marker")
    spark.range(1).collect()
    sc.clearJobGroup()
    val marker = sc.statusTracker.getJobIdsForGroup("perfbench.drain")
      .foldLeft(-1)(math.max)
    val deadline = System.currentTimeMillis() + 20000
    while (!tap.ended(marker) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    Thread.sleep(200) // the SQL listener's queue runs beside the job queue
  }

  def json: Map[String, Any] = Map(
    "legs" -> legs.map { case (k, v) => k -> v.toMap }.toMap,
    "health" -> health,
    "spans" -> rec.json) ++ (if (!traced) Map.empty else Map(
      "jobs" -> jobs.get.json,
      "phases" -> plans.get.json,
      "tracer_ms" -> (rec.ownNs + jobs.get.ownNs + plans.get.ownNs) / 1e6))
}

object Health {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Single-thread fixed spin (CPU health) and a tiny fixed Spark job
    * (scheduler health), best of three each, in ms. */
  def calibrate(spark: SparkSession): Map[String, Double] = {
    def spin(): Double = {
      var x = 0x9E3779B97F4A7C15L
      val t0 = System.nanoTime()
      var i = 0
      while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) print("")
      (System.nanoTime() - t0) / 1e6
    }
    def job(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 20).agg(sum("id")).collect()
      (System.nanoTime() - t0) / 1e6
    }
    Map("spin_ms" -> (1 to 3).map(_ => spin()).min,
      "spark_ms" -> (1 to 3).map(_ => job()).min)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).fold(0L)(_.map(dirBytes).sum)

  def snapshot(spark: SparkSession, work: String): Map[String, Any] = {
    System.gc()
    Map(
      "heap_after_gc_mb" ->
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0,
      "threads" -> ManagementFactory.getThreadMXBean.getThreadCount,
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "scratch_mb" -> dirBytes(new File(work)) / 1048576.0)
  }
}

object Compare {
  /** Multiset equality of two frames with the same columns. */
  def same(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    cols.sorted == b.columns.toSeq.sorted && {
      val bb = b.select(cols.map(col): _*)
      a.exceptAll(bb).isEmpty && bb.exceptAll(a).isEmpty
    }
  }
}

/** Runs one workload as the plan file names it and writes the raw
  * record (spans, jobs, phases, checks, health) as JSON. All arithmetic
  * on that record happens in `run.py`. */
object Main {
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val plan = mapper.readTree(new File(args(0)))
    val cpus = plan.get("cpus").asInt
    val work = plan.get("work").asText
    val spark = graft.GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000"), cpus)
    val ctx = new Ctx(plan, spark)
    val legs: Seq[(String, Ctx => Map[String, Any])] = Seq(
      "batch_mix" -> BatchMix.run, "view_ticks" -> ViewTicks.run,
      "stream_ingest" -> StreamIngest.run)
    val out = legs.filter { case (leg, _) => plan.get("legs").has(leg) }
      .map { case (leg, run) => ctx.begin(leg); leg -> run(ctx) }.toMap
    ctx.drain()
    val record = ctx.json ++ Map("out" -> out,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime)
    mapper.writeValue(new File(s"$work/record.json"), record)
    spark.stop()
  }
}
