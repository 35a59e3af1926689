package perfbench

import scala.collection.mutable

import graft.QuerySession
import org.apache.spark.sql.Row

/** Workload `log_query`: hours over two days exported once in setup, opened with
  * `QuerySession.open`, then one client runs a closed loop of seeded
  * Athena-style queries over the layout. */
object LogQuery {

  /** A result as sorted JSON rows: order-independent, exact. */
  private def canonical(rows: Array[Row]): Seq[String] =
    rows.map(r => Main.json.writeValueAsString(r.toSeq.map {
      case i: java.lang.Integer => i.longValue
      case v => v
    })).toSeq.sorted

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val dst = ctx.str("dst")
    // the layout export_hour writes: one runHour per hour, in order
    val t0 = System.nanoTime()
    val lay = ctx.strs("hours").map { h =>
      val r = Export.runHour(ctx, ctx.str("src"), dst, ctx.str("tracking"), h)
      HeapWatch.sample()
      r
    }
    val layoutS = (System.nanoTime() - t0) / 1e9
    val (_, openS) = ctx.tracer.span("query_session.open")(QuerySession.open(spark, dst, "logs"))

    val pool = ctx.manifest.get("pool")
    val sqls = (0 until pool.size).map(i => pool.get(i).get("sql").asText)
    val templates = (0 until pool.size).map(i => pool.get(i).get("template").asText)

    def runOnce(i: Int): (Either[String, Seq[String]], Map[String, Any]) = {
      val u0 = Usage.sample()
      val r = try Right(canonical(spark.sql(sqls(i)).collect()))
              catch { case e: Exception => Left(e.toString) }
      (r, Usage.sample().since(u0))
    }

    // warm-up: every instance once; its answer is what run.py checks
    // against DuckDB and what every later execution must repeat
    val w0 = System.nanoTime()
    val answers = sqls.indices.map(runOnce)
    val warmupS = (System.nanoTime() - w0) / 1e9
    HeapWatch.sample()
    val setupUsage = ctx.setupUsage

    val order = ctx.manifest.get("order")
    val minOps = ctx.manifest.get("min_ops").asInt
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val l0 = System.nanoTime()
    def elapsed = (System.nanoTime() - l0) / 1e9
    var k = 0
    while (k < order.size && (elapsed < ctx.seconds || ops.size < minOps) && elapsed < 3 * ctx.seconds) {
      val i = order.get(k).asInt
      val (r, usage) = runOnce(i)
      val op = mutable.Map[String, Any]("i" -> i, "ok" -> (r == answers(i)._1)) ++= usage
      if (ctx.tracer.enabled) op ++= traced(ctx, k, templates(i), sqls(i))
      ops += op.toMap
      // every tenth query: a full collection per query would add a tenth
      // to the loop's wall time
      if (k % 10 == 9) HeapWatch.sample()
      k += 1
    }
    Map("layout" -> lay, "layout_s" -> layoutS, "open_s" -> openS, "warmup_s" -> warmupS,
      "setup_usage" -> setupUsage,
      "answers" -> answers.map { case (r, usage) =>
        Map("s" -> usage("s"), "rows" -> r.toOption.orNull, "error" -> r.left.toOption.orNull) },
      "ops" -> ops.toSeq)
  }

  /** One more execution of the same query with planning and execution in
    * separate spans, plus its scan and task counters. */
  private def traced(ctx: Ctx, k: Int, template: String, sql: String): Map[String, Any] = {
    val tag = s"lq-$k"
    val tr = ctx.tracer
    val ((rows, scan, planS), s) = tr.span(s"lq.$template", tag) {
      val (df, planS) = tr.span("lq.plan") {
        val df = ctx.spark.sql(sql)
        df.queryExecution.executedPlan
        df
      }
      val (rows, _) = tr.span("lq.execute")(df.collect())
      (rows, PlanStats.scans(df.queryExecution.executedPlan), planS)
    }
    val c = ctx.counters.get.take(ctx.spark.sparkContext, tag)
    Map("traced_s" -> s, "plan_s" -> planS, "rows_returned" -> rows.length,
      "files_read" -> scan.files, "bytes_read" -> scan.bytes, "rows_read" -> scan.rows,
      "jobs" -> c.jobs, "tasks" -> c.tasks, "shuffle_bytes" -> c.shuffleWriteBytes)
  }
}
