package perfbench

/** Per-layer metrics of a traced run, from the recorded spans and the Spark
  * work attributed to them. Timings are medians per call; counts are means
  * per call; `spark.*` are per operation over the traced window; a layer's
  * self time is its spans' duration minus what their child spans cover,
  * per traced operation. Layers a workload does not touch read 0. The
  * tracer's overhead is the median traced operation against the median
  * untraced one of the windows on either side, which ran with no listener. */
object Layers {
  val SelfLayers = Seq("harness", "etl.ingest", "etl.upsert", "etl.gate",
    "streaming.rollup", "etl.biserve", "operators.dedup", "operators.decontaminate",
    "operators.pii", "operators.similarity", "cache")

  def finish(ctx: Ctx, o: Outcome): Unit = {
    val tr = ctx.tracer
    val spans = tr.spans.filter(_.layer != "plans")
    val children = spans.groupBy(_.parent)
    def ms(s: Span) = (s.endNs - s.startNs) / 1e6
    def of(layer: String, name: String = null) =
      spans.filter(s => s.layer == layer && (name == null || s.name == name))
    def medMs(ss: Seq[Span]) = Main.median(ss.map(ms))
    def mean(ss: Seq[Span])(f: Span => Double) =
      if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    def cnt(s: Span, k: String) = s.counts.getOrElse(k, 0.0)
    def sum(ss: Seq[Span])(f: Span => Double) = ss.map(f).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val L = o.layers
    def ex(k: String): Double = o.extra.get(k).map(_.toString.toDouble).getOrElse(0.0)

    val ingest = of("etl.ingest")
    L("etl.ingest.pivot_ms") = medMs(ingest)
    L("etl.ingest.jobs") = mean(ingest)(s => tr.sparkFor(s.id).jobs.toDouble)
    val up = of("etl.upsert")
    L("etl.upsert.ms") = medMs(up)
    L("etl.upsert.rows_read_per_row_offered") = ratio(
      sum(up)(s => tr.sparkFor(s.id).inputRecords.toDouble), sum(up)(cnt(_, "rows_offered")))
    L("etl.upsert.insert_ratio") = ratio(sum(up)(cnt(_, "rows_inserted")),
      sum(up)(cnt(_, "rows_offered")))
    L("etl.upsert.files_added") = mean(up)(cnt(_, "files_added"))
    val gate = of("etl.gate")
    L("etl.gate.ms") = medMs(gate)
    L("etl.gate.jobs") = mean(gate)(s => tr.sparkFor(s.id).jobs.toDouble)
    L("etl.gate.rows_scanned") = mean(gate)(s => tr.sparkFor(s.id).inputRecords.toDouble)
    val roll = of("streaming.rollup")
    L("streaming.rollup.merge_ms") = medMs(roll)
    L("streaming.rollup.rows_rewritten") = mean(roll)(s => tr.sparkFor(s.id).outputRecords.toDouble)
    L("warehouse.files") = ex("warehouse_files")
    L("warehouse.bytes") = ex("warehouse_bytes")
    L("etl.biserve.connect_ms") = ex("connect_ms")
    L("etl.biserve.exec_ms") = medMs(of("etl.biserve", "execute"))
    L("etl.biserve.fetch_ms") = medMs(of("etl.biserve", "fetch"))
    L("etl.biserve.rows_fetched") = mean(of("etl.biserve").filter(_.parent == 0))(
      cnt(_, "rows_fetched"))
    L("etl.biserve.writer_batch_ms") = ex("writer_batch_ms")
    val plans = o.extra.get("plans").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty)
    for (p <- Seq("analysis", "optimization", "planning"))
      L(s"plans.${p}_ms") = plans.getOrElse(p, 0.0)
    for (n <- Seq("exact", "minhash", "simhash", "cluster"))
      L(s"operators.dedup.${n}_ms") = medMs(of("operators.dedup", n))
    L("operators.dedup.verified_pairs") = mean(of("operators.dedup", "minhash"))(
      cnt(_, "verified_pairs"))
    L("operators.decontaminate.ms") = medMs(of("operators.decontaminate"))
    L("operators.pii.ms") = medMs(of("operators.pii"))
    val lsh = of("operators.similarity")
    L("operators.similarity.lsh_ms") = medMs(lsh)
    L("operators.similarity.lsh_pairs") = mean(lsh)(cnt(_, "lsh_pairs"))
    L("cache.tracked_after_release") = ex("cache_tracked_after_release")
    L("cache.persisted_bytes_peak") = ex("cache_persisted_bytes_peak")

    val w = o.spark
    val ops = math.max(1, o.tracedOp.count(identity)).toDouble
    L("spark.jobs") = w.jobs / ops
    L("spark.stages") = w.stages / ops
    L("spark.tasks") = w.tasks / ops
    L("spark.task_cpu_s") = w.cpuNs / 1e9 / ops
    L("spark.gc_s") = w.gcMs / 1e3 / ops
    L("spark.input_bytes") = w.inputBytes / ops
    L("spark.shuffle_write_bytes") = w.shuffleWriteBytes / ops
    L("spark.spill_bytes") = w.spillBytes / ops
    L("spark.core_busy_ratio") = ratio(w.runMs / 1e3, o.windowS * ctx.opts.cores)

    for (layer <- SelfLayers) {
      val self = spans.filter(_.layer == layer).map { s =>
        ms(s) - children.getOrElse(s.id, Nil).map(ms).sum
      }.sum
      L(s"$layer.self_ms") = self / ops
    }
    val (t, u) = o.opMs.zip(o.tracedOp).partition(_._2)
    L("trace.overhead_ratio") = ratio(Main.median(t.map(_._1).toSeq),
      Main.median(u.map(_._1).toSeq)) - 1.0
    L("trace.spans") = spans.size
  }
}
