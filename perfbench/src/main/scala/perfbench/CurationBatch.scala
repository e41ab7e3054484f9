package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.CacheLifecycle
import graft.operators.{Decontaminate, Dedup, Pii, Similarity}

/** curation_batch: one corpus-curation job repeated back to back, with the
  * session's operator caches released between jobs. */
object CurationBatch {
  val LshThreshold = 0.9

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    def open(t: String) = {
      val df = spark.read.parquet(ctx.opts.data.resolve(s"$t.parquet").toString)
      df.count(); df
    }
    var docs, holdout, emb: DataFrame = null
    // Set-up, three rounds: open the corpus, holdout and embedding tables.
    for (_ <- 1 to 3) {
      val (_, ms) = Main.timed {
        docs = open("documents"); holdout = open("holdout"); emb = open("embeddings")
      }
      o.setupS += ms / 1000.0
    }
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    var persistedPeak = 0L
    var trackedAfter = 0

    def job(docs: DataFrame, emb: DataFrame): Map[String, Any] =
        ctx.tracer.span("harness", "curation_job") { _ =>
      val tr = ctx.tracer
      val exactDropped = tr.span("operators.dedup", "exact") { _ =>
        Dedup.exact(docs, col("text"), col("doc_id")).filter(!col("keep")).count()
      }
      val (pairs, nPairs) = tr.span("operators.dedup", "minhash") { c =>
        val p = Dedup.nearDuplicatePairs(docs, "doc_id", "text").localCheckpoint(true)
        val n = p.count()
        c("verified_pairs") = n.toDouble
        (p, n)
      }
      val (clusters, clustered) = tr.span("operators.dedup", "cluster") { _ =>
        val cl = Dedup.clusterPairs(pairs)
        (cl.filter(col("is_canonical")).count(), cl.count())
      }
      val simhash = tr.span("operators.dedup", "simhash") { _ =>
        Dedup.simhashPairs(docs, "doc_id", "text").count()
      }
      val contam = tr.span("operators.decontaminate", "ngramOverlap") { _ =>
        Decontaminate.ngramOverlap(docs, holdout, "doc_id", "text", 3)
          .agg(count(lit(1)), coalesce(sum(col("n_hits")), lit(0L))).head()
      }
      val redacted = tr.span("operators.pii", "redact") { _ =>
        docs.select(col("doc_id"), Pii.redact(lower(col("text"))).as("r"))
          .orderBy("doc_id").collect().map(_.getString(1))
      }
      val lsh = tr.span("operators.similarity", "lshSimilarPairs") { c =>
        val n = Similarity.lshSimilarPairs(emb, LshThreshold).count()
        c("lsh_pairs") = n.toDouble
        n
      }
      persistedPeak = math.max(persistedPeak, spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum)
      tr.span("cache", "releaseAll") { _ =>
        CacheLifecycle.releaseAll(spark)
        spark.catalog.clearCache()
      }
      trackedAfter = math.max(trackedAfter, CacheLifecycle.trackedCount(spark))
      def occurrences(tok: String) = redacted.map { t =>
        Iterator.iterate(t.indexOf(tok))(k => t.indexOf(tok, k + 1)).takeWhile(_ >= 0).size
      }.sum
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Map("exact_dropped" -> exactDropped, "near_pairs" -> nPairs,
        "clusters" -> clusters, "clustered_docs" -> clustered,
        "simhash_pairs" -> simhash, "contaminated_docs" -> contam.getLong(0),
        "contamination_hits" -> contam.getLong(1),
        "pii_emails" -> occurrences("<EMAIL>"), "pii_ips" -> occurrences("<IP>"),
        "pii_digest" -> md.digest(redacted.mkString("\n").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString,
        "lsh_pairs" -> lsh)
    }

    // Warm-up: the first job pays class loading, code generation and JIT
    // compilation, about as much again as a warm job. The warm-up job runs
    // on leading slices of the documents and embeddings: the same plans,
    // hence the same generated code, for less of the data-bound work.
    val (_, warmMs) = Main.timed(job(open("warmup_documents"), open("warmup_embeddings")))
    o.warmupS = warmMs / 1000.0

    var i = 0
    for (traced <- ctx.windows) ctx.window(o, traced) { end =>
      do {
        val (errs, ms) = Main.timed {
          ctx.tracer.traced(traced) {
            try { results += job(docs, emb); Nil } catch { case e: Exception => Seq(s"job $i: $e") }
          }
        }
        o.record(ms, traced, errs)
        i += 1
      } while (System.nanoTime() < end)
    }
    o.oracle("jobs") = results.toSeq
    o.extra("cache_tracked_after_release") = trackedAfter
    o.extra("cache_persisted_bytes_peak") = persistedPeak
    o
  }
}
