package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{BiServe, Warehouse}

final case class DashQuery(name: String, sql: String)

/** Canonical text of JDBC result values; mirrors `canon` in inputs.py so the
  * engine's results and the DuckDB oracle hash identical strings. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: java.lang.Boolean => b.toString
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte) => n.toString
    case d: java.math.BigDecimal => dec(d)
    case d: java.lang.Double =>
      if (d.doubleValue == math.rint(d) && math.abs(d) < 1e15) d.longValue.toString
      else dec(new java.math.BigDecimal(d.doubleValue))
    case other => other.toString
  }

  private def dec(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  def of(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(rows.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

/** bi_dashboard: three JDBC clients in a closed loop, each cycling a fixed
  * Metabase-style dashboard through the Thrift JDBC endpoint, beside a
  * fixed number of batches of the hourly pipeline ([[PriceWriter]]) per
  * measured window into the served `crypto_prices` table. The batches run
  * back to back from the window's start, and the window lasts `--seconds`
  * or until the last batch ends, whichever is later, so every window
  * carries the same write load and a faster write path leaves more of the
  * window to the readers alone. */
object BiDashboard {
  val Clients = 3

  /** TCP ports in LISTEN state on this host (IPv4 and IPv6). */
  def listening(): Set[Int] =
    Seq("/proc/net/tcp", "/proc/net/tcp6").map(Paths.get(_)).filter(Files.exists(_))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map(_.trim.split("\\s+")).filter(f => f.length > 3 && f(3) == "0A")
      .map(f => Integer.parseInt(f(1).split(":").last, 16)).toSet

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    o.clients = Clients
    val spark = ctx.spark
    val tr = ctx.tracer
    val queries = Main.mapper.readTree(ctx.opts.dashboard.toFile).elements().asScala
      .map(n => DashQuery(n.get("name").asText, n.get("spark").asText)).toVector
    val feed = new Feed(ctx.opts.data)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val connectMs = mutable.ArrayBuffer.empty[Double]

    // Set-up, three rounds, each from a clean copy of the backfill: expose
    // the tables, register the warehouse table, gate it and bootstrap its
    // rollup, start the JDBC endpoint and open the client connections.
    var endpoint: BiServe.Endpoint = null
    var conns: Seq[Connection] = Nil
    var writer, warmWriter: PriceWriter = null
    for (r <- 1 to 3) {
      val dir = ctx.opts.work.resolve(s"bi$r")
      Main.copyTree(ctx.opts.data.resolve("backfill"), dir.resolve("crypto_prices"))
      writer = new PriceWriter(ctx, feed, dir.resolve("crypto_prices").toString,
        dir.resolve("rollup").toString)
      val before = listening()
      val (_, ms) = Main.timed {
        BiServe.exposeTables(spark, ctx.opts.data.toString)
        Warehouse.dropTable(spark, "crypto_prices")
        Warehouse.ensureTable(spark, "crypto_prices", writer.tablePath)
        val errs = writer.bootstrap()
        o.check(errs.isEmpty, errs.mkString("; "))
        endpoint = BiServe.start(spark, port = 0)
        // The endpoint may report a port another process already held
        // (port 0 is not honoured as "ephemeral"): refuse to talk to
        // whatever server owns it.
        if (before.contains(endpoint.port)) {
          endpoint.stop()
          throw new IllegalStateException(
            s"BiServe.start reported port ${endpoint.port}, which was already " +
              "listening before the endpoint started; refusing to connect")
        }
        conns = (1 to Clients).map { _ =>
          val (c, cm) = Main.timed(DriverManager.getConnection(endpoint.jdbcUrl, "", ""))
          connectMs += cm
          c
        }
        verifyIdentity(ctx, conns.head)
      }
      o.setupS += ms / 1000.0
      if (r == 1) warmWriter = writer
      if (r < 3) {
        conns.foreach(_.close())
        endpoint.stop()
        awaitClosed(endpoint.port)
      }
    }

    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()

    def runQuery(conn: Connection, q: DashQuery): Seq[String] =
      tr.span("etl.biserve", q.name) { c =>
        val sql = if (tr.active) s"/* pb:${tr.currentId} */ ${q.sql}" else q.sql
        val st = conn.createStatement()
        try {
          val rs = tr.span("etl.biserve", "execute") { _ => st.executeQuery(sql) }
          val rows = tr.span("etl.biserve", "fetch") { _ =>
            val n = rs.getMetaData.getColumnCount
            val b = Vector.newBuilder[String]
            while (rs.next())
              b += (1 to n).map(i => Digest.canon(rs.getObject(i))).mkString("\u001f")
            b.result()
          }
          c("rows_fetched") = rows.size
          val d = Digest.of(rows)
          val first = seen.putIfAbsent(q.name, d)
          if (first != null && first != d) Seq(s"${q.name}: result digest changed")
          else Nil
        } finally st.close()
      }

    /** Each client cycles the dashboard from its own offset while `more`
      * holds; `record` times the queries, else they are an untimed
      * warm-up whose failures still count. */
    def clients(more: Int => Boolean, record: Boolean, traced: Boolean): Unit = {
      val threads = conns.zipWithIndex.map { case (conn, k) =>
        val t = new Thread(() => {
          var j = 0
          while (more(j)) {
            val q = queries((k * 3 + j) % queries.size)
            val (errs, ms) = Main.timed {
              tr.traced(traced) {
                try runQuery(conn, q) catch { case e: Exception => Seq(s"${q.name}: $e") }
              }
            }
            if (record) o.record(ms, traced, errs)
            else o.check(errs.isEmpty, errs.mkString("; "))
            j += 1
          }
        }, s"bi-client-$k")
        t.start(); t
      }
      threads.foreach(_.join())
    }

    // Warm-up (untimed): the clients between them run every dashboard query
    // at least once (first queries pay planning, codegen and file listing),
    // while the writer runs a fresh batch and a replay against the first
    // round's table.
    val (_, warmMs) = Main.timed {
      val w = new Thread(() => feed.warmup.foreach { case (h, r) =>
        val errs = warmWriter.batch(h, r)
        o.check(errs.isEmpty, errs.mkString("; "))
      })
      w.start()
      clients(_ < 4, record = false, traced = false)
      w.join()
    }
    o.warmupS = warmMs / 1000.0

    val hours = mutable.SortedSet.empty[Int]
    val writerMs = mutable.ArrayBuffer.empty[Double]
    for ((traced, batch) <- ctx.windows.zip(feed.windows)) ctx.window(o, traced) { end =>
      val writing = new AtomicBoolean(true)
      val writerThread = new Thread(() => try batch.foreach { hour =>
        val (errs, ms) = Main.timed {
          tr.traced(traced) {
            try writer.batch(hour, replay = false)
            catch { case e: Exception => Seq(s"hour $hour: $e") }
          }
        }
        writerMs += ms
        hours += hour
        o.check(errs.isEmpty, errs.mkString("; "))
      } finally writing.set(false), "bi-writer")
      writerThread.start()
      clients(_ => writing.get || System.nanoTime() < end, record = true, traced)
      writerThread.join()
    }

    o.oracle("digests") = seen.asScala.toMap
    o.oracle("table") = writer.tablePath
    o.oracle("rollup") = writer.rollupPath
    o.oracle("hours") = hours.toSeq
    o.extra("writer_batches") = writerMs.size
    o.extra("writer_batch_ms") = Main.median(writerMs.toSeq)
    o.extra("connect_ms") = Main.median(connectMs.toSeq)
    val (files, bytes) = Main.dataFiles(writer.tablePath)
    o.extra("warehouse_files") = files
    o.extra("warehouse_bytes") = bytes
    if (ctx.opts.trace) o.extra("plans") = planReplay(ctx, queries)
    conns.foreach(_.close())
    endpoint.stop()
    o
  }

  /** Prove the connection reaches this process's endpoint: a nonce view
    * registered here must come back over the wire. */
  private def verifyIdentity(ctx: Ctx, conn: Connection): Unit = {
    val nonce = java.util.UUID.randomUUID().toString
    ctx.spark.sql(s"SELECT '$nonce' AS v").createOrReplaceGlobalTempView("perfbench_nonce")
    val rs = conn.createStatement().executeQuery("SELECT v FROM global_temp.perfbench_nonce")
    if (!rs.next() || rs.getString(1) != nonce)
      throw new IllegalStateException("JDBC endpoint is not this benchmark's server")
  }

  private def awaitClosed(port: Int): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (listening().contains(port) && System.nanoTime() < deadline) Thread.sleep(50)
    if (listening().contains(port))
      throw new IllegalStateException(s"port $port still listening after endpoint stop")
  }

  /** In-process replay of the dashboard SQL, reading Catalyst's phase
    * timings: median over three replays of the per-phase dashboard total. */
  private def planReplay(ctx: Ctx, queries: Seq[DashQuery]): Map[String, Double] = {
    val phases = Seq("analysis", "optimization", "planning")
    val reps = (1 to 3).map { _ =>
      val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      queries.foreach { q =>
        ctx.tracer.traced(true) {
          ctx.tracer.span("plans", q.name) { _ =>
            val qe = ctx.spark.sql(q.sql).queryExecution
            qe.executedPlan
            qe.tracker.phases.foreach { case (k, v) => totals(k) += v.durationMs.toDouble }
          }
        }
      }
      totals
    }
    phases.map(p => p -> Main.median(reps.map(_(p)))).toMap
  }
}
