package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Assembly, Corpus, Dedup}
import graft.sources.Tables

/** `corpus_batch`: repeated `Assembly.assembleCorpus` runs over one seeded
  * corpus of 6000 documents with planted near-duplicates, low-quality docs
  * and a planted benchmark slice for decontamination. The text kernels,
  * the `operators` stages and their checkpoint pins do the work; `MetaFrame`
  * does none. Each audit must hold one row per input doc, and its verdicts
  * must equal those of a staged replay of the same stages. */
final class CorpusBatch(ctx: Ctx) extends Workload {
  import CorpusBatch._
  private val spark = ctx.spark
  private val capPerSource = 240 + new SplittableRandom(ctx.seed).nextInt(41)
  private var dir: String = _
  private var gen: Gen.Docs = _
  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private var replayVerdicts: String = _
  private val verdicts = mutable.HashMap.empty[Int, String] // op -> verdict hash
  private val shapeProblems = mutable.HashMap.empty[Int, String]
  // the traced run's ingest micro-batches, checked like loop operations
  private var twinProblems = Map.empty[Int, String]
  private var twinRan = false

  def prepare(rep: Int): Unit = {
    if (dir != null) Main.deleteTree(new java.io.File(dir))
    dir = ctx.path(s"corpus-$rep")
    val benchDocs = Gen.plainDocs(ctx.seed + 2, 40, BenchIdBase)
    gen = Gen.docs(ctx.seed, NDocs, 0L, nearDupShare = 0.12, contamShare = 0.02,
      lowShare = 0.05, benchmark = benchDocs)
    Gen.writeDocs(spark, gen.docs, s"$dir/documents.parquet")
    Gen.writeDocs(spark, benchDocs, s"$dir/benchmark.parquet")
    Trace.span("sources.load") {
      corpus = Tables.load(spark, dir, "documents")
      bench = Tables.load(spark, dir, "benchmark").select("doc_id", "text")
    }
  }

  /** The staged replay runs every stage the loop runs, and its verdicts
    * are what each audit is checked against. One untimed assembly follows
    * it: the first assembly after the replay alone is still measurably
    * slower than the ones after it. */
  def warm(): Unit = {
    replayVerdicts = verdictHash(replay()._1)
    assemble()
  }

  override def minOps: Int = 2

  private def assemble(): Array[Row] = Trace.span("operators.assembleCorpus") {
    Assembly.assembleCorpus(corpus, bench, "doc_id", "text", "source", "lang",
      minTokens = MinTokens, maxTopNgramFrac = MaxTopNgramFrac, minJaccard = MinJaccard,
      minShared = MinShared, capPerSource = capPerSource)
      .select("id", "drop_stage", "keep", "split", "shard_id").collect()
  }

  def op(i: Int): Int = {
    val audit = assemble()
    val ids = audit.map(_.getLong(0))
    if (audit.length != NDocs || ids.distinct.length != NDocs)
      shapeProblems(i) = s"audit has ${audit.length} rows over ${ids.distinct.length} ids for $NDocs docs"
    verdicts(i) = verdictHash(audit)
    NDocs
  }

  /** The assembly's stages called one by one from here, each pinned as
    * `assembleCorpus` pins it, timed under its own span. Returns the
    * audit rows and the per-stage survivor frames. */
  private def replay(): (Array[Row], Map[String, DataFrame]) = {
    val base = corpus.select(col("doc_id").as("id"), col("text"), col("source"), col("lang"))
    val gate = Trace.span("operators.qualityGate") {
      Corpus.qualityGate(base, "id", "text", MinTokens, maxTopNgramFrac = MaxTopNgramFrac)
        .select(col("id"), col("n_tokens"), col("keep").as("gate_keep")).localCheckpoint()
    }
    val kept1 = base.join(gate.filter(col("gate_keep")).select("id"), Seq("id"), "left_semi")
    val dd = Trace.span("operators.winnowNearDup") {
      Dedup.winnowNearDup(kept1, "id", "text", minJaccard = MinJaccard)
        .select(col("id"), col("cluster_id"), (col("cluster_id") <=> col("id")).as("canonical"))
        .localCheckpoint()
    }
    val kept2 = kept1.join(dd.filter(col("canonical")).select("id"), Seq("id"), "left_semi")
    val dec = Trace.span("operators.decontaminate") {
      Corpus.decontaminate(kept2, bench, "id", "text", 3, MinShared)
        .select(col("id"), col("contaminated")).localCheckpoint()
    }
    val kept3 = kept2.join(dec.filter(!col("contaminated")).select("id"), Seq("id"), "left_semi")
    val scored = kept3.withColumn("quality", TextFunctions.qualityScore(col("text")))
    val ranked = Trace.span("operators.capPerGroup") {
      Corpus.capPerGroup(scored, "source", "quality", "id", capPerSource).localCheckpoint()
    }
    val kept4 = scored.join(ranked.select("id"), Seq("id"), "left_semi")
    val packed = Trace.span("operators.hashSplit") {
      val wPack = Window.partitionBy("split", "lang").orderBy("id")
      Corpus.hashSplit(kept4, "id", "graft").select(col("id"), col("lang"), col("split"))
        .join(gate.select(col("id"), col("n_tokens")), Seq("id"))
        .withColumn("__cum", sum(col("n_tokens")).over(wPack))
        .withColumn("shard_id", ((col("__cum") - col("n_tokens")) / lit(5000L)).cast("int"))
        .select(col("id"), col("split"), col("shard_id")).localCheckpoint()
    }
    val audit = base.select(col("id"))
      .join(gate, Seq("id"), "left").join(dd, Seq("id"), "left").join(dec, Seq("id"), "left")
      .join(ranked.select(col("id"), lit(true).as("__cap_kept")), Seq("id"), "left")
      .join(packed, Seq("id"), "left")
      .withColumn("drop_stage",
        when(!col("gate_keep"), "quality")
          .when(!coalesce(col("canonical"), lit(false)), "duplicate")
          .when(col("contaminated"), "contaminated")
          .when(col("__cap_kept").isNull, "capped"))
      .select(col("id"), col("drop_stage"), col("drop_stage").isNull.as("keep"), col("split"),
        col("shard_id"))
      .collect()
    (audit, Map("qualityGate" -> gate.filter(col("gate_keep")), "winnowNearDup" -> dd,
      "decontaminate" -> dec.filter(!col("contaminated")), "capPerGroup" -> ranked,
      "hashSplit" -> packed))
  }

  def fingerprint(): String =
    s"documents=${Gen.fingerprint(corpus)},benchmark=${Gen.fingerprint(bench)},cap=$capPerSource"

  def check(nOps: Int): Map[Int, String] =
    shapeProblems.toMap ++ verdicts.collect { case (i, h) if h != replayVerdicts =>
      i -> s"audit verdicts $h differ from the staged replay's $replayVerdicts"
    } ++ twinProblems.map { case (b, why) => (nOps + b) -> why }

  override def extraOps: Int = if (twinRan) IngestTwin.Batches else 0

  def layers(loop: LoopResult): Map[String, Double] = {
    val loopSpans = Trace.spans.filter(_.op >= 0)
    val inputBytes = Seq("documents", "benchmark")
      .map(t => Gen.diskBytes(new java.io.File(s"$dir/$t.parquet"))).sum.toDouble
    val assembleS = Stats.median(loopSpans.filter(_.name == "operators.assembleCorpus").map(_.seconds))
    val from = Trace.spans.size
    val (_, frames) = replay()
    val stageS = Layers.Stages.map { st =>
      st -> Trace.spans.drop(from).filter(_.name == s"operators.$st").map(_.seconds).sum
    }.toMap
    val twin = IngestTwin.run(spark, ctx.seed, dir, corpus, bench)
    twinProblems = twin.problems
    twinRan = true
    val dd = frames("winnowNearDup").select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = gen.nearDupOf.toSeq.filter { case (c, o) => dd.contains(c) && dd.contains(o) }
    val found = planted.count { case (c, o) => dd(c) == dd(o) }
    Map(
      "operators.assembleCorpus_s" -> assembleS,
      "operators.assembly_glue_s" -> (assembleS - stageS.values.sum),
      "operators.winnowNearDup.planted_found_frac" -> found.toDouble / math.max(1, planted.size),
      "sources.load_s" -> Trace.spans.filter(s => s.op < 0 && s.name == "sources.load")
        .map(_.seconds).lastOption.getOrElse(0.0),
      "sources.input_bytes" -> inputBytes) ++ twin.metrics ++
      stageS.map { case (st, s) => s"operators.${st}_s" -> s } ++
      Layers.Stages.map(st => s"operators.$st.kept" -> (st match {
        case "winnowNearDup" => frames(st).filter(col("canonical")).count()
        case _ => frames(st).count()
      }).toDouble) ++
      Microbench.text(corpus, ctx.cores)
  }
}

object CorpusBatch {
  val NDocs = 6000
  val BenchIdBase = 1000000L
  val MinTokens = 5L
  val MaxTopNgramFrac = 0.3
  val MinJaccard = 0.8
  val MinShared = 5L

  /** Order-insensitive hash of (id, drop_stage, keep, split, shard_id). */
  def verdictHash(rows: Array[Row]): String = {
    val h = rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(
      r.toSeq.mkString("\u0001")).toLong & 0xffffffffL).sum
    s"${rows.length}:${h.toHexString}"
  }
}
