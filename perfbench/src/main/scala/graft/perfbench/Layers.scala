package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The per-layer metrics of the traced run, named after the library's
  * modules. BENCHMARK.json's `per_layer` list is this list. */
object Layers {
  val Shapes: Seq[String] = Seq("q1_filter_project", "q2_groupby_agg", "q3_join_agg", "q4_dropdup",
    "q5_window_topk", "q6_sort_limit", "q7_distinct", "q8_union_agg", "q9_profit_shape",
    "q18_volume_shape")
  val Kernels: Seq[String] = Seq("normalizeText", "shingles", "minhashSignature",
    "winnowFingerprints", "qualityScore", "tokenCount")
  val Stages: Seq[String] = Seq("qualityGate", "winnowNearDup", "decontaminate", "capPerGroup",
    "hashSplit")
  val IngestDrops: Seq[String] = Seq("quality", "duplicate", "duplicate_corpus", "contaminated")

  val PerLayer: Seq[(String, String)] =
    Seq("MetaFrame.build_s" -> "s", "MetaFrame.action_s" -> "s",
      "MetaFrame.overhead_ratio" -> "ratio", "MetaFrame.pk_results" -> "count",
      "MetaFrame.self_s" -> "s") ++
    Shapes.flatMap(q => Seq(s"MetaFrame.$q.p50_s" -> "s", s"MetaFrame.$q.overhead_ratio" -> "ratio")) ++
    Seq("sources.load_s" -> "s", "sources.input_bytes" -> "bytes", "sources.self_s" -> "s") ++
    Kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++
    Stages.map(st => s"operators.${st}_s" -> "s") ++
    Seq("operators.assembleCorpus_s" -> "s", "operators.assembly_glue_s" -> "s") ++
    Stages.map(st => s"operators.$st.kept" -> "count") ++
    Seq("operators.winnowNearDup.planted_found_frac" -> "ratio",
      "operators.self_s" -> "s",
      "streaming.batch_p50_s" -> "s", "streaming.batch_p90_s" -> "s",
      "streaming.start_s" -> "s", "streaming.compactStore_s" -> "s",
      "streaming.store_files" -> "count", "streaming.store_bytes" -> "bytes",
      "streaming.store_bytes_per_input_byte" -> "ratio", "streaming.accepted" -> "count") ++
    IngestDrops.map(d => s"streaming.dropped.$d" -> "count") ++
    Seq(
      "graftbridge.storage_peak_bytes" -> "bytes", "graftbridge.storage_after_bytes" -> "bytes",
      "graftbridge.residue_dirs" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.task_busy_s" -> "s", "spark.idle_frac" -> "ratio",
      "spark.task_skew" -> "ratio", "spark.gc_s" -> "s",
      "trace.overhead.items_per_s" -> "1/s", "trace.overhead.latency_p50_s" -> "s")

  /** Engine counts per operation of the traced loop: every job submitted
    * inside the loop's window, including work between operations. */
  def spark(counts: SparkCounts, loop: LoopResult, cores: Int): Map[String, Double] = counts.synchronized {
    val jobs = counts.jobs.filter { case (_, t, _) => t >= loop.startNs && t <= loop.endNs }
    val stages = jobs.flatMap(_._3).distinct.flatMap(counts.stages.get)
    val n = math.max(1, loop.ops).toDouble
    val busyS = stages.map(_.busyNs).sum / 1e9
    val skews = stages.filter(_.durationsMs.size >= 2).map { s =>
      s.durationsMs.max.toDouble / math.max(1.0, Stats.median(s.durationsMs.map(_.toDouble).toSeq))
    }
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stages.size / n,
      "spark.tasks" -> stages.map(_.tasks).sum / n,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> stages.map(_.spill).sum / n,
      "spark.task_busy_s" -> busyS / n,
      "spark.idle_frac" -> (1.0 - busyS / (loop.elapsed * cores)),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq)),
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / n)
  }

  /** Self time per operation of each traced layer, over the loop's spans. */
  def selfTimes(ops: Int): Map[String, Double] = {
    val loopSpans = Trace.spans.filter(_.op >= 0)
    val self = Trace.selfSeconds(loopSpans)
    Seq("MetaFrame", "sources", "operators").map { layer =>
      s"$layer.self_s" -> loopSpans.filter(_.layer == layer).map(s => self(s.id)).sum / math.max(1, ops)
    }.toMap
  }

  /** Engine counts per span: each job goes to the innermost span open when
    * it was submitted. */
  def attribute(counts: SparkCounts, spans: Seq[Trace.Span]): Map[Int, Map[String, Any]] =
    counts.synchronized {
      val perSpan = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Seq[Int]]]
      counts.jobs.foreach { case (_, t, stageIds) =>
        val open = spans.filter(s => s.startNs <= t && t <= s.endNs)
        if (open.nonEmpty) perSpan.getOrElseUpdate(open.maxBy(_.startNs).id,
          mutable.ArrayBuffer.empty) += stageIds
      }
      perSpan.map { case (id, js) =>
        val st = js.flatten.distinct.flatMap(counts.stages.get)
        id -> Map[String, Any](
          "jobs" -> js.size, "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
          "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
          "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
          "spill_bytes" -> st.map(_.spill).sum,
          "task_busy_s" -> st.map(_.busyNs).sum / 1e9)
      }.toMap
    }
}

/** Residue probe around each traced operation: BlockManager storage at its
  * peak and after the operation, and the directories it left in the run's
  * scratch tree (checkpoint, temp and shuffle directories; neither loop
  * operation writes an output of its own there). */
final class Residue(spark: SparkSession, counts: SparkCounts, work: File) {
  private val peaks = mutable.ArrayBuffer.empty[Long]
  private val after = mutable.ArrayBuffer.empty[Long]
  private val newDirs = mutable.ArrayBuffer.empty[Int]
  private var dirsBefore = Set.empty[String]
  private var startNs = 0L
  private var storageAtStart = 0L
  private def dirs(): Set[String] = {
    val out = mutable.HashSet.empty[String]
    def walk(f: File): Unit = Option(f.listFiles()).foreach(_.foreach { c =>
      if (c.isDirectory) { out += c.getAbsolutePath; walk(c) }
    })
    walk(work)
    out.toSet
  }

  def before(): Unit = {
    org.apache.spark.sql.graftbridge.drainListenerBus(spark)
    storageAtStart = counts.storageBytes
    dirsBefore = dirs()
    startNs = System.nanoTime()
  }

  def after(op: Int): Unit = {
    org.apache.spark.sql.graftbridge.drainListenerBus(spark)
    val inOp = counts.synchronized(counts.storageSeries.filter(_._1 >= startNs).map(_._2).toSeq)
    peaks += (storageAtStart +: inOp).max
    after += counts.storageBytes
    newDirs += (dirs() -- dirsBefore).size
  }

  def metrics: Map[String, Double] =
    if (peaks.isEmpty) Map.empty
    else Map(
      "graftbridge.storage_peak_bytes" -> peaks.max.toDouble,
      "graftbridge.storage_after_bytes" -> Stats.median(after.map(_.toDouble).toSeq),
      "graftbridge.residue_dirs" -> newDirs.sum.toDouble / newDirs.size)
}
