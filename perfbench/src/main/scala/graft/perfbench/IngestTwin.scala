package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Corpus
import graft.sources.Tables
import graft.streaming.Ingest

/** The `streaming` layer, measured in `corpus_batch`'s traced run: the
  * workload's own docs, in arrival order, fed as micro-batches of 100
  * through `Ingest.ingestCorpus` (the incremental twin of
  * `assembleCorpus`) into a growing parquet store, compacted between
  * triggers every second batch. The audit store must hold every fed id
  * exactly once and the corpus store exactly the audit's `keep` ids. */
object IngestTwin {
  val Batches = 3
  val BatchSize = 100
  val CompactEvery = 2

  final case class Result(metrics: Map[String, Double], problems: Map[Int, String])

  def run(spark: SparkSession, seed: Long, dir: String, docs: DataFrame, bench: DataFrame): Result = {
    import spark.implicits._
    Gen.writeDocs(spark, Gen.plainDocs(seed + 1, 1000, 2000000L), s"$dir/reference.parquet")
    val lm = Trace.span("operators.lmCounts")(
      Corpus.lmCounts(Tables.load(spark, dir, "reference"), "text").cache())
    lm.count()
    val batches = docs.select("doc_id", "text", "source", "lang").orderBy("doc_id")
      .as[(Long, String, String, String)].take(Batches * BatchSize).toSeq.grouped(BatchSize).toSeq
    val store = s"$dir/store"
    val ms = MemoryStream[(Long, String, String, String)](spark)
    val q = Trace.span("streaming.start") {
      Ingest.ingestCorpus(ms.toDF().toDF("doc_id", "text", "source", "lang"),
        s"$store/corpus", s"$store/audit", bench, lm, "doc_id", "text", "source", "lang",
        checkpointDir = s"$store/checkpoint", trigger = Trigger.ProcessingTime(0),
        minTokens = CorpusBatch.MinTokens, maxTopNgramFrac = CorpusBatch.MaxTopNgramFrac,
        minJaccard = CorpusBatch.MinJaccard, minShared = CorpusBatch.MinShared)
    }
    val batchS = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    try batches.zipWithIndex.foreach { case (b, i) =>
      val t0 = System.nanoTime()
      Trace.span("streaming.batch") {
        ms.addData(b: _*)
        q.processAllAvailable()
      }
      batchS += (System.nanoTime() - t0) / 1e9
      if ((i + 1) % CompactEvery == 0) {
        val t1 = System.nanoTime()
        Trace.span("streaming.compactStore") {
          Ingest.compactStore(spark, s"$store/corpus")
          Ingest.compactAuditStore(spark, s"$store/audit")
        }
        compactS += (System.nanoTime() - t1) / 1e9
      }
    } finally {
      q.stop()
      lm.unpersist()
    }

    val audit = spark.read.parquet(s"$store/audit")
    val verdicts = audit.groupBy("drop_stage").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("accepted") -> r.getLong(1).toDouble).toMap
    val auditRows = audit.select("id", "keep").as[(Long, Boolean)].collect()
    val seen = auditRows.groupBy(_._1).map { case (id, xs) => id -> xs.length }
    val keep = auditRows.collect { case (id, true) => id }.toSet
    val stored = spark.read.parquet(s"$store/corpus").select("id").as[Long].collect()
      .groupBy(identity).map { case (id, xs) => id -> xs.length }
    val problems = batches.zipWithIndex.flatMap { case (b, i) =>
      val ids = b.map(_._1)
      val badAudit = ids.count(id => seen.getOrElse(id, 0) != 1)
      val badStore = ids.count(id => stored.getOrElse(id, 0) != (if (keep(id)) 1 else 0))
      if (badAudit > 0) Some(i -> s"ingest batch $i: $badAudit ids not exactly once in the audit store")
      else if (badStore > 0) Some(i -> s"ingest batch $i: $badStore ids where the corpus store disagrees with keep")
      else None
    }.toMap
    val storeDirs = Seq(new File(s"$store/corpus"), new File(s"$store/audit"))
    val storeBytes = storeDirs.map(Gen.diskBytes).sum.toDouble
    val inputBytes = batches.flatten.map(_._2.getBytes("UTF-8").length.toLong).sum
    Result(Map(
      "streaming.batch_p50_s" -> Stats.median(batchS.toSeq),
      "streaming.batch_p90_s" -> Stats.quantile(batchS.toSeq, 0.9),
      "streaming.start_s" -> Trace.spans.filter(_.name == "streaming.start").map(_.seconds).last,
      "streaming.compactStore_s" -> compactS.sum / math.max(1, compactS.size),
      "streaming.store_files" -> storeDirs.map(Gen.dataFiles).sum.toDouble,
      "streaming.store_bytes" -> storeBytes,
      "streaming.store_bytes_per_input_byte" -> storeBytes / math.max(1L, inputBytes),
      "streaming.accepted" -> verdicts.getOrElse("accepted", 0.0)) ++
      Layers.IngestDrops.map(d => s"streaming.dropped.$d" -> verdicts.getOrElse(d, 0.0)),
      problems)
  }
}
