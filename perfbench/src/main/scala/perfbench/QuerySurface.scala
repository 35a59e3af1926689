package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row}

/** Workload `query_surface`: a fixed subset of `SparkEntry.queries` over
  * seeded star-schema tables, one query after another with `clearCache`
  * between them, each result collected in full. */
object QuerySurface {

  /** One execution: its answer or error, the frame it came from, and its
    * usage. */
  type Outcome = (Either[String, Array[Row]], Option[DataFrame], Map[String, Any])

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val tables = ctx.str("tables")
    val names = ctx.strs("queries")
    val fns = names.map(n => SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"no query $n in SparkEntry.queries")))

    /** Runs query `i`; with a `tag`, inside a span whose tasks count under it. */
    def runOnce(i: Int, tag: String): Outcome = {
      spark.catalog.clearCache()
      var df: Option[DataFrame] = None
      def exec(): Either[String, Array[Row]] =
        try { df = Some(fns(i)(spark, tables)); Right(df.get.collect()) }
        catch { case e: Exception => Left(e.toString) }
      val u0 = Usage.sample()
      val r = if (tag.isEmpty) exec() else ctx.tracer.span(s"ops.${names(i)}", tag)(exec())._1
      (r, df, Usage.sample().since(u0))
    }

    // warm-up: the first query once, so the pass does not charge the
    // session's first-query costs to whichever query comes first
    val w0 = System.nanoTime()
    runOnce(0, "")
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupUsage = ctx.setupUsage

    // the timed phase: whole passes over the subset until --seconds have
    // passed, at least one; traced on a traced run
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val answers = mutable.Map.empty[Int, Either[String, Seq[String]]]
    val l0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - l0) / 1e9 < ctx.seconds) {
      names.indices.foreach { i =>
        val tag = if (ctx.tracer.enabled) s"ops-${names(i)}" else ""
        val (r, df, usage) = runOnce(i, tag)
        val answer = r.map(canonical)
        if (pass == 0) {
          answers(i) = answer
          // the first answer, as Parquet, for run.py to compare with the
          // query's DuckDB oracle; later passes must repeat it
          for (rows <- r; d <- df)
            spark.createDataFrame(rows.toSeq.asJava, d.schema).coalesce(1)
              .write.mode("overwrite").parquet(s"${ctx.str("answers")}/${names(i)}")
        }
        val op = mutable.Map[String, Any]("i" -> i, "pass" -> pass,
          "ok" -> (answer == answers(i)), "error" -> r.left.toOption.orNull) ++= usage
        if (ctx.tracer.enabled) op ++= counters(ctx, tag)
        ops += op.toMap
        HeapWatch.sample()
      }
      pass += 1
    }
    val overhead = if (ctx.tracer.enabled) traceOverhead(ctx, names, runOnce) else Map.empty
    // after the queries ran: oracles interpolate the paths of the sidecars
    // the queries persisted
    val oracles = SparkEntry.oracleSql
    Map("warmup_s" -> warmupS, "setup_usage" -> setupUsage,
      "oracle_sql" -> names.map(n => oracles.getOrElse(n, null)), "ops" -> ops.toSeq) ++ overhead
  }

  /** A result as sorted rows: order-independent, exact. */
  private def canonical(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private def counters(ctx: Ctx, tag: String): Map[String, Any] = {
    val c = ctx.counters.get.take(ctx.spark.sparkContext, tag)
    Map("jobs" -> c.jobs, "tasks" -> c.tasks, "shuffle_bytes" -> c.shuffleWriteBytes,
      "task_cpu_s" -> c.cpuNs / 1e9, "task_run_s" -> c.runMs / 1e3, "gc_s" -> c.gcMs / 1e3,
      "spill_bytes" -> c.spillBytes)
  }

  /** Every query once more untraced and once traced, the order alternating
    * from query to query so neither side always runs second and warmer. */
  private def traceOverhead(ctx: Ctx, names: Seq[String], runOnce: (Int, String) => Outcome)
      : Map[String, Any] = {
    var traced, untraced = 0.0
    names.indices.foreach { i =>
      val tag = s"ops-${names(i)}"
      (if (i % 2 == 0) Seq("", tag) else Seq(tag, "")).foreach { t =>
        val s = runOnce(i, t)._3("s").asInstanceOf[Double]
        if (t.isEmpty) untraced += s
        else { traced += s; counters(ctx, t) }
      }
    }
    Map("overhead_traced_s" -> traced, "overhead_untraced_s" -> untraced)
  }
}
