package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.{Ingest, QualityGate, Schemas, Upsert}
import graft.streaming.Rollup

/** The generated price feed, as `inputs.py` lays it out in the data
  * directory: hour 0 of the feed, the hours already in the warehouse, the
  * hours the writer offers in the warm-up (with their replay flags) and in
  * each measured window, and every offered hour's payload (coins in the
  * payload, raw JSON). */
final class Feed(dir: Path) {
  private val layout = Main.mapper.readTree(dir.resolve("feed.json").toFile)
  val baseEpochS: Long = layout.get("base_epoch_s").asLong
  val backfillHours: Int = layout.get("backfill_hours").asInt
  val warmup: Seq[(Int, Boolean)] = layout.get("warmup").elements().asScala
    .map(b => (b.get(0).asInt, b.get(1).asInt == 1)).toSeq
  val windows: Seq[Seq[Int]] = layout.get("windows").elements().asScala
    .map(_.elements().asScala.map(_.asInt).toSeq).toSeq
  val payloads: Map[Int, (Int, String)] =
    Files.readAllLines(dir.resolve("payloads.tsv")).asScala.map { l =>
      val Array(h, json) = l.split("\t", 2)
      // coins in the payload = entries of the outer map
      h.toInt -> ("\"usd\"".r.findAllMatchIn(json).size, json)
    }.toMap

  def hourTs(hour: Long): Timestamp = new Timestamp((baseEpochS + 3600L * hour) * 1000L)
}

object PriceWriter {
  /** Per-coin, per-hour partial aggregates for the rollup table. */
  def partials(prices: DataFrame): DataFrame = prices
    .groupBy(col("crypto_id"),
      date_format(col("extracted_at"), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
    .agg(count(lit(1)).as("n_obs"), sum(col("price_usd").cast("decimal(18,2)")).as("sum_usd"))

  val rollupKeys = Seq("crypto_id", "hour_start")
}

/** The hourly pipeline of the reference DAG against one warehouse table:
  * pivot the payload, idempotent upsert, quality gate, then merge the
  * batch into a per-coin, per-hour rollup. `batch` returns failed checks:
  * a fresh hour must insert every offered row and run the merge, a replayed
  * hour must insert nothing and skip it, and the gate must pass. */
final class PriceWriter(ctx: Ctx, feed: Feed, val tablePath: String, val rollupPath: String) {
  import PriceWriter._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var latestHour = feed.backfillHours - 1

  /** Set-up: gate the loaded backfill and bootstrap the rollup from it. */
  def bootstrap(): Seq[String] = {
    val loaded = spark.read.parquet(tablePath)
    val gate = QualityGate.evaluate(loaded, feed.hourTs(latestHour))
    Rollup.mergeInto(spark, partials(loaded), rollupPath, rollupKeys,
      latestHour.toLong)
    if (gate != QualityGate.Pass) Seq(s"backfill gate returned $gate") else Nil
  }

  def batch(hour: Int, replay: Boolean): Seq[String] = tr.span("harness", "ingest_batch") { op =>
    val (offered, json) = feed.payloads(hour)
    op("hour") = hour
    val prices = tr.span("etl.ingest", "pivotPrices") { c =>
      c("rows_offered") = offered
      Ingest.pivotPrices(spark, json, feed.hourTs(hour))
    }
    val inserted = tr.span("etl.upsert", "intoParquet") { c =>
      val before = if (tr.active) Main.dataFiles(tablePath)._1 else 0
      val n = Upsert.intoParquet(spark, prices, tablePath, Schemas.priceKeys)
      c("rows_offered") = offered
      c("rows_inserted") = n.toDouble
      if (tr.active) c("files_added") = Main.dataFiles(tablePath)._1 - before
      n
    }
    latestHour = math.max(latestHour, hour)
    val now = new Timestamp(feed.hourTs(latestHour).getTime + 1800L * 1000L)
    val gate = tr.span("etl.gate", "evaluate") { _ =>
      QualityGate.evaluate(spark.read.parquet(tablePath), now)
    }
    val merged = tr.span("streaming.rollup", "mergeInto") { _ =>
      Rollup.mergeInto(spark, partials(prices), rollupPath, rollupKeys,
        hour.toLong)
    }
    val expectInserted = if (replay) 0L else offered.toLong
    Seq(
      if (inserted != expectInserted)
        Some(s"hour $hour (replay=$replay): inserted $inserted rows, expected $expectInserted")
      else None,
      if (gate != QualityGate.Pass) Some(s"hour $hour: gate returned $gate") else None,
      if (merged == replay) Some(s"hour $hour (replay=$replay): rollup merge ran=$merged")
      else None
    ).flatten
  }
}
