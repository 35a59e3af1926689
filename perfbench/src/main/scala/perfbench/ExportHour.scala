package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{Enrich, ExportJob}
import graft.functions.exprs
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The export pipeline seen from outside: `runHour` as cron calls it, and a
  * traced replay of `runHour` from its public parts with noop-sink cuts
  * between the fused scan, tokenize and enrich steps. */
object Export {

  /** Parquet files under `dst`, relative path -> size. */
  def snapshot(dst: String): Map[String, Long] = {
    val root = Paths.get(dst)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** What one export added to `dst`: new files, their dirs and bytes. */
  def added(before: Map[String, Long], after: Map[String, Long]): Map[String, Any] = {
    val fresh = after.keySet.diff(before.keySet).toSeq.sorted
    Map("files" -> fresh,
        "dirs" -> fresh.map(f => Paths.get(f).getParent.toString).distinct.size,
        "bytes" -> fresh.map(after).sum)
  }

  def inputBytes(src: String, prefix: String): (Int, Long) = {
    val s = Files.list(Paths.get(src))
    try {
      val fs = s.iterator.asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq
      (fs.size, fs.map(p => Files.size(p)).sum)
    } finally s.close()
  }

  /** One `ExportJob.runHour`, as cron calls it, with its usage and what it
    * added to `dst`. A thrown error is recorded as the row count. */
  def runHour(ctx: Ctx, src: String, dst: String, tracking: String, hour: String): Map[String, Any] = {
    val before = snapshot(dst)
    val u0 = Usage.sample()
    val rows = try ExportJob.runHour(ctx.spark, src, dst, tracking, hour).toString
               catch { case e: Exception => s"error: $e" }
    Usage.sample().since(u0) ++ Map("hour" -> hour, "rows" -> rows,
      "out" -> added(before, snapshot(dst)))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def tokenized(lines: DataFrame): DataFrame =
    lines.select(exprs.tokenize_s3_log(col("value")).as("tokens"))

  /** `runHour` rebuilt from readHour, parseLines, write,
    * renameToReferenceLayout and Tracking.mark, with a span around each
    * call. Scan, tokenize and enrich run fused in one codegen stage, so
    * each gets a noop-sink cut and its self time is the difference
    * between consecutive cuts; the write's self time is the write minus
    * the enrich cut it re-runs. */
  def replay(ctx: Ctx, src: String, hour: String, dst: String, tracking: String): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val tag = s"replay-$hour/write"
    val before = snapshot(dst)
    val ((rows, cuts), totalS) = tr.span("etl.export") {
      val (lines, listS) = tr.span("etl.list")(ExportJob.readHour(spark, src, hour).get)
      val (_, scanS) = tr.span("etl.scan")(noop(lines))
      val (_, tokS) = tr.span("functions.tokenize")(noop(tokenized(lines)))
      val parsed = Enrich.parseLines(lines)
      val (_, enrichS) = tr.span("etl.enrich")(noop(parsed))
      val obs = Observation(s"perfbench-$hour")
      val (_, writeS) = tr.span("etl.write", tag)(
        ExportJob.write(parsed.observe(obs, count(lit(1)).as("rows")), dst))
      val n = obs.get("rows").asInstanceOf[Long]
      val (_, renameS) = tr.span("etl.rename")(
        ExportJob.renameToReferenceLayout(spark, dst, Some(hour)))
      val (_, markS) = tr.span("etl.mark")(
        ExportJob.Tracking.mark(spark, tracking, hour, s"exported hour=$hour rows=$n"))
      (n, Map("etl.list_s" -> listS, "etl.scan_s" -> scanS,
        "functions.tokenize_s" -> (tokS - scanS), "etl.enrich_s" -> (enrichS - tokS),
        "etl.write_s" -> (writeS - enrichS), "etl.rename_s" -> renameS, "etl.mark_s" -> markS))
    }
    // input and null bookkeeping: one extra job, outside every layer span
    val lines = ExportJob.readHour(spark, src, hour).get
    val c = Enrich.parseLines(lines).agg(
      count(lit(1)),
      sum(when(col("ts").isNull, 1).otherwise(0)),
      sum(when(col("remoteip_int").isNull, 1).otherwise(0)),
      // fewer than the 24 raw tokens leaves the last raw field null
      sum(when(col("tlsversion").isNull, 1).otherwise(0))).head()
    val (inFiles, inBytes) = inputBytes(src, hour)
    val out = added(before, snapshot(dst))
    // task totals of the write alone: it re-runs scan, tokenize and enrich,
    // so it holds the export's whole task cost, which the cuts would repeat
    val wr = ctx.counters.get.take(spark.sparkContext, tag)
    val writeTasks = wr.resultTaskMs.sorted
    cuts ++ Map(
      "traced_s" -> totalS, "rows" -> rows, "out" -> out,
      "etl.task_cpu_s" -> wr.cpuNs / 1e9,
      "etl.gc_s" -> wr.gcMs / 1e3,
      "etl.shuffle_write_bytes" -> wr.shuffleWriteBytes,
      "etl.spill_bytes" -> wr.spillBytes,
      "etl.write_task_max_s" -> writeTasks.lastOption.getOrElse(0L) / 1e3,
      "etl.write_task_p50_s" -> (if (writeTasks.isEmpty) 0.0 else writeTasks(writeTasks.size / 2) / 1e3),
      "etl.partition_dirs" -> out("dirs"), "etl.files_written" -> out("files").asInstanceOf[Seq[_]].size,
      "etl.bytes_written" -> out("bytes"), "etl.input_files" -> inFiles, "etl.input_bytes" -> inBytes,
      "etl.lines_read" -> c.getLong(0), "etl.rows_written" -> rows,
      "etl.rows_null_ts" -> c.getLong(1), "etl.rows_null_ip" -> c.getLong(2),
      "etl.rows_short" -> c.getLong(3))
  }
}

/** Workload `export_hour`: one `ExportJob.runHour` of the next hour per
  * operation, into one growing DST and TRACKING_DST (the cron model). */
object ExportHour {
  def run(ctx: Ctx): Map[String, Any] = {
    val (src, dst, tracking) = (ctx.str("src"), ctx.str("dst"), ctx.str("tracking"))
    val hours = ctx.strs("hours")
    val warmup = ctx.manifest.get("warmup_hours").asInt
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]

    def exportHour(h: String, phase: String): Unit = {
      records += Export.runHour(ctx, src, dst, tracking, h) + ("phase" -> phase)
      HeapWatch.sample()
    }

    val setupT0 = System.nanoTime()
    exportHour(hours.head, "first")
    hours.slice(1, 1 + warmup).foreach(exportHour(_, "warmup"))
    val warmupS = (System.nanoTime() - setupT0) / 1e9
    val setupUsage = ctx.setupUsage

    // at least `min_timed_hours`, so every run holds as many samples
    val minTimed = ctx.manifest.get("min_timed_hours").asInt
    val t0 = System.nanoTime()
    var i = 1 + warmup
    while (i < hours.size && (i < 1 + warmup + minTimed || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      exportHour(hours(i), "timed")
      if (ctx.tracer.enabled) {
        val r = Export.replay(ctx, src, hours(i), ctx.str("dst_replay"), ctx.str("tracking_replay"))
        records(records.size - 1) = records.last + ("replay" -> r)
      }
      i += 1
    }
    Map("hours" -> records.toSeq, "warmup_s" -> warmupS, "setup_usage" -> setupUsage,
      "hours_left" -> (hours.size - i))
  }
}
