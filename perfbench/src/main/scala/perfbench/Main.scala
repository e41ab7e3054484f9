package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line options, passed by `perfbench/run.py`. */
final case class Opts(workload: String, data: Path, work: Path, seconds: Double,
    trace: Boolean, cores: Int, dashboard: Path, out: Path, spans: Path)

/** What one workload hands back: set-up rounds, per-operation latencies in
  * the measured windows, failures, values for the external oracle, and (in a
  * traced run) per-layer metrics. `windowS` is the length of the untraced
  * window, or in a traced run of the traced one, whose Spark work `spark`
  * holds. */
final class Outcome {
  val setupS = mutable.ArrayBuffer.empty[Double]
  var warmupS = 0.0
  val opMs = mutable.ArrayBuffer.empty[Double]
  val tracedOp = mutable.ArrayBuffer.empty[Boolean]
  var windowS = 0.0
  var clients = 1
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val oracle = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var spark = new SparkCounts

  def record(ms: Double, traced: Boolean, errs: Seq[String]): Unit = synchronized {
    opMs += ms; tracedOp += traced; attempted += 1
    failures ++= errs.take(1)
  }
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) failures += what
  }
}

final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  /** The measured windows of a run, each flagged traced or not: one
    * untraced window, or in a traced run an untraced, a traced and an
    * untraced one. Every operation of the traced window is traced, and the
    * tracer's Spark listener is registered only for that window, so the
    * tracer's whole cost shows against the untraced operations on either
    * side of it. */
  def windows: Seq[Boolean] = if (opts.trace) Seq(false, true, false) else Seq(false)

  /** Run one measured window of `opts.seconds`: `body` gets the window's
    * end (nanoTime) and drives the load until then. */
  def window(o: Outcome, traced: Boolean)(body: Long => Unit): Unit = {
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(tracer)
    val start = System.nanoTime()
    body(start + (opts.seconds * 1e9).toLong)
    val s = (System.nanoTime() - start) / 1e9
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(tracer)
      o.spark = tracer.takeWindow()
    }
    if (traced || !opts.trace) o.windowS = s
  }
}

object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), Paths.get(kv("data")), Paths.get(kv("work")),
      kv("seconds").toDouble, kv("trace") == "1", kv("cores").toInt,
      Paths.get(kv("dashboard")), Paths.get(kv("out")), Paths.get(kv("spans")))
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val t0 = System.nanoTime()
    val spark = session(opts)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, opts, tracer)
    // Exit explicitly: a failed run may leave non-daemon server threads.
    val code = try {
      val out = opts.workload match {
        case "bi_dashboard" => BiDashboard.run(ctx)
        case "curation_batch" => CurationBatch.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (opts.trace) {
        Layers.finish(ctx, out)
        writeSpans(opts.spans, tracer)
      }
      mapper.writeValue(opts.out.toFile, Map(
        "session_s" -> sessionS, "setup_s" -> out.setupS.toSeq, "warmup_s" -> out.warmupS,
        "op_ms" -> out.opMs.toSeq, "traced_op" -> out.tracedOp.toSeq,
        "window_s" -> out.windowS, "clients" -> out.clients, "attempted" -> out.attempted,
        "failures" -> out.failures.toSeq, "oracle" -> out.oracle.toMap,
        "layers" -> out.layers.toMap, "extra" -> out.extra.toMap,
        "peak_rss_mb" -> peakRssMb()))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally spark.stop()
    System.exit(code)
  }

  /** The engine's production session settings (as in graft.Bench), with
    * every scratch location inside the run's work directory. */
  def session(o: Opts): SparkSession = {
    val tmp = o.work.resolve("tmp").toString
    SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hive.exec.scratchdir", o.work.resolve("hive").toString)
      .config("spark.hadoop.hive.exec.local.scratchdir", o.work.resolve("hive-local").toString)
      .config("spark.hadoop.hive.server2.logging.operation.enabled", "false")
      .getOrCreate()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private def writeSpans(path: Path, tracer: Tracer): Unit = {
    val w = Files.newBufferedWriter(path)
    try tracer.spans.foreach { s =>
      val sc = tracer.sparkFor(s.id)
      w.write(mapper.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> s.counts, "spark_jobs" -> sc.jobs, "spark_tasks" -> sc.tasks,
        "task_run_ms" -> sc.runMs)))
      w.newLine()
    } finally w.close()
  }

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e6)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def copyTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
  }

  /** Parquet data files directly under a table directory and their bytes. */
  def dataFiles(dir: String): (Int, Long) = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) (0, 0L) else {
      val fs = Files.list(p).iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size, fs.map(f => Files.size(f)).sum)
    }
  }
}
