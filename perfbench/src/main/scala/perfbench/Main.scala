package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, the listener (only
  * on traced runs), the run length and the manifest run.py wrote. */
final case class Ctx(spark: SparkSession, tracer: Tracer, counters: Option[Counters],
                     seconds: Double, manifest: JsonNode, start: Sample) {
  /** Usage from the start of main to the end of a workload's set-up. */
  def setupUsage: Map[String, Any] = Usage.sample().since(start)

  def str(key: String): String = manifest.get(key).asText
  def strs(key: String): IndexedSeq[String] = {
    val a = manifest.get(key)
    (0 until a.size).map(a.get(_).asText)
  }
}

/** JVM side of the benchmark: `--workload W --work DIR --seconds S
  * --trace 0|1 --cores N`. Reads DIR/manifest.json, drives the program
  * through its public entry points and writes the raw per-operation record
  * to DIR/jvm.json; run.py checks outputs and derives the metrics. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val start = Usage.sample()
    val manifest = json.readTree(new File(s"$work/manifest.json"))
    val spark = graft.GraftSession.builder(s"local[${opts("cores")}]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM start through a usable session: what every cron launch pays
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val traced = opts("trace") == "1"
    val counters = if (traced) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val ctx = Ctx(spark, new Tracer(traced, spark.sparkContext), counters, opts("seconds").toDouble, manifest, start)
    try {
      val result = opts("workload") match {
        case "export_hour" => ExportHour.run(ctx)
        case "log_query"   => LogQuery.run(ctx)
        case "query_surface" => QuerySurface.run(ctx)
        case w             => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val out = result ++ Map(
        "session_s" -> sessionS,
        "peak_heap_mb" -> HeapWatch.peakBytes / 1048576.0,
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.vm.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spans" -> ctx.tracer.dump)
      Files.write(Paths.get(s"$work/jvm.json"), json.writeValueAsBytes(out))
    } finally spark.stop()
  }
}
