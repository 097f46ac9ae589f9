package perfbench

import graft.SparkEntry

/** Closed loop, one client: whole passes over a fixed set of stateless
  * `SparkEntry.queries` in the plan's seeded order, each result written
  * to the noop sink, until the run's seconds are spent (at least one
  * pass). The untimed warm-up pass writes every result as parquet
  * instead, beside the oracle SQL, for the DuckDB compare in `run.py`:
  * the queries keep no state, so every pass computes the same result. */
object BatchMix {
  private val Leg = "batch_mix"

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val order = ctx.strings(ctx.cfg(Leg).get("queries"))
    val fns = SparkEntry.queries
    val checkDir = s"${ctx.work}/check"

    def query(q: String, pass: Int)(sink: org.apache.spark.sql.DataFrame => Unit): Boolean =
      ctx.rec.attempt("query", "query" -> q, "pass" -> pass) {
        val df = ctx.rec.span("build")(fns(q)(spark, ctx.data))
        ctx.rec.span("execute")(sink(df))
      }

    val failedWarm = order.filterNot(q => query(q, -1)(
      _.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")))
    ctx.ready(Leg)
    val passes = ctx.time(Leg) {
      val end = Clock.ms + ctx.seconds(Leg) * 1000.0
      var n = 0
      while (n == 0 || Clock.ms < end) {
        order.foreach(q => query(q, n)(_.write.format("noop").mode("overwrite").save()))
        n += 1
      }
      n
    }
    ctx.takeHealth()
    val oracle = SparkEntry.oracleSql
    Map("passes" -> passes,
      "check" -> Map("dir" -> checkDir, "failed" -> failedWarm,
        "oracle" -> order.flatMap(q => oracle.get(q).map(q -> _)).toMap))
  }
}
