package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` groups the spans of one operation
  * (ingest batch, dashboard query, curation job); `parent` is 0 at the
  * root. Times are JVM nanoTime. */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
    name: String, startNs: Long, endNs: Long, counts: Map[String, Double])

/** Spark work attributed to one span: jobs launched while the span was the
  * innermost open one on its thread (matched by job tag), or, for SQL that
  * runs on the JDBC server's own threads, by a `/* pb:<id> */` marker in
  * the statement text that the server copies into the job description. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, inputRecords, outputRecords = 0L
  var shuffleWriteBytes, spillBytes = 0L
}

/** In-memory span recorder. Spans open only on threads where tracing is
  * switched on (`traced`); as a Spark listener it is registered only for a
  * run's traced window (`Ctx.window`). Nothing is written until the run
  * ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val ids = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val depth = new ConcurrentHashMap[Long, Int]()
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span id, req)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val on = new ThreadLocal[Boolean] { override def initialValue() = false }

  // listener state (single listener-bus thread)
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val perSpan = mutable.HashMap.empty[Long, SparkCounts]
  private var window = new SparkCounts
  private val Marker = """/\* pb:(\d+) \*/""".r.unanchored

  def traced[T](flag: Boolean)(body: => T): T = {
    val prev = on.get; on.set(flag)
    try body finally on.set(prev)
  }
  def active: Boolean = on.get

  /** Open a span; `counts` lets the body report work counts at the
    * boundary (rows offered, files added, ...). */
  def span[T](layer: String, name: String)(body: mutable.Map[String, Double] => T): T = {
    val counts = mutable.Map.empty[String, Double]
    if (!on.get) return body(counts)
    val id = ids.incrementAndGet()
    val stack = open.get
    val (parent, req) = stack.headOption.getOrElse((0L, id))
    depth.put(id, stack.size)
    open.set((id, req) :: stack)
    sc.addJobTag(s"pb$id")
    val t0 = System.nanoTime()
    try body(counts)
    finally {
      val t1 = System.nanoTime()
      sc.removeJobTag(s"pb$id")
      open.set(stack)
      done.add(Span(id, parent, req, layer, name, t0, t1, counts.toMap))
    }
  }

  /** Id of the innermost open span on this thread, 0 when untraced. */
  def currentId: Long = open.get.headOption.map(_._1).getOrElse(0L)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def sparkFor(spanId: Long): SparkCounts = synchronized {
    perSpan.getOrElse(spanId, new SparkCounts)
  }

  /** Spark work of every job seen since the last call (attributed or not). */
  def takeWindow(): SparkCounts = synchronized {
    val w = window
    window = new SparkCounts
    w
  }

  private def ownerOf(props: java.util.Properties): Long = {
    if (props == null) return 0L
    val tags = Option(props.getProperty("spark.job.tags")).toSeq
      .flatMap(_.split(",")).filter(_.startsWith("pb")).map(_.drop(2).toLong)
    if (tags.nonEmpty) tags.maxBy(t => depth.getOrDefault(t, -1))
    else Option(props.getProperty("spark.job.description")) match {
      case Some(Marker(id)) => id.toLong
      case _ => 0L
    }
  }

  private def bucket(span: Long): Seq[SparkCounts] =
    if (span == 0L) Seq(window)
    else Seq(window, perSpan.getOrElseUpdate(span, new SparkCounts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = ownerOf(e.properties)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, owner))
    bucket(owner).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bucket(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    bucket(stageSpan.getOrElse(e.stageId, 0L)).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputRecords += m.outputMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
