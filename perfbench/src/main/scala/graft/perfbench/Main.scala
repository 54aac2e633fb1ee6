package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State shared by one run: the session, the seed and the run's scratch
  * directory (inside the checkout; deleted when the run ends). */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File, val cores: Int) {
  def path(rel: String): String = new File(work, rel).getPath
}

/** One closed-loop workload: one client, the next operation starts when
  * the previous one returns. */
trait Workload {
  /** One set-up repetition: generate the inputs, load them and build the
    * index or model the loop needs. The run repeats it and keeps the last
    * repetition's state. */
  def prepare(rep: Int): Unit
  /** The rest of set-up, run once: a warm pass over the paths the loop takes. */
  def warm(): Unit
  /** Operations the loop runs at least, however long they take. */
  def minOps: Int = 1
  /** Runs operation `i` and returns the items it handled; throws on failure. */
  def op(i: Int): Int
  /** Order-insensitive fingerprint of the generated inputs. */
  def fingerprint(): String
  /** Checked operations run outside the timed loop (in the traced run). */
  def extraOps: Int = 0
  /** Output checks after the loop: the indices of operations that failed
    * one, each with the reason. Indices from `nOps` on are [[extraOps]]. */
  def check(nOps: Int): Map[Int, String]
  /** Per-layer figures only the traced run measures. */
  def layers(loop: LoopResult): Map[String, Double]
}

final case class LoopResult(latencies: Seq[Double], items: Long, elapsed: Double,
    failed: Map[Int, String], startNs: Long, endNs: Long) {
  def ops: Int = latencies.size
  /** Items per second of operation time (the loop's forced GCs and the
    * traced run's probes between operations are not the program's). */
  def itemsPerS: Double = items / latencies.sum
  def p50: Double = Stats.median(latencies)
}

object Main {
  val Workloads: Seq[String] = Seq("tpch_mix", "corpus_batch")
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", "perfbench/target/work")).getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()
    // Two task threads: on a shared 4-vCPU host, tpch_mix rounds at
    // local[2] held within a few percent over ten minutes in which
    // local[4]'s moved by half, and local[4] was at most a fifth faster;
    // corpus_batch, whose time goes to planning ~90 jobs per assembly, is
    // no faster at local[4].
    val cores = math.min(2, nproc)

    deleteTree(work)
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val ctx = new Ctx(spark, seed, work, cores)
    val w: Workload = workload match {
      case "tpch_mix" => new TpchMix(ctx)
      case "corpus_batch" => new CorpusBatch(ctx)
    }
    val counts = new SparkCounts
    val ok = try {
      // set-up: session start, then generate/load/build repeated (median
      // taken), then the warm pass once; the traced run traces the last
      // repetition and the warm pass
      val repS = (0 until SetupReps).map { rep =>
        if (traced && rep == SetupReps - 1) {
          Trace.reset(); Trace.enabled = true; spark.sparkContext.addSparkListener(counts)
        }
        val t0 = System.nanoTime()
        w.prepare(rep)
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      Trace.span("bench.warm")(w.warm())
      val warmS = (System.nanoTime() - t0) / 1e9
      val setupS = sessionS + Stats.median(repS) + warmS

      val untraced = if (traced) {
        Trace.enabled = false
        org.apache.spark.sql.graftbridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(counts)
        val r = loop(w, seconds, None)
        spark.sparkContext.addSparkListener(counts)
        Trace.enabled = true
        Some(r)
      } else None
      val residue = if (traced) Some(new Residue(spark, counts, work)) else None
      val res = loop(w, seconds, residue)
      val peakRssMb = vmHwmMb()
      val layers = if (traced) {
        org.apache.spark.sql.graftbridge.drainListenerBus(spark)
        Some(w.layers(res))
      } else None
      Trace.enabled = false
      val fp = w.fingerprint()
      val failed = res.failed ++ w.check(res.ops)
      val canary = graft.Bench.loadCanary()
      val attempted = res.ops + w.extraOps
      val failFrac = failed.size.toDouble / math.max(1, attempted)

      val config = Seq(
        "master" -> spark.sparkContext.master,
        "cores" -> cores,
        "nproc" -> nproc,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "cpu_canary_s" -> canary)
      val itemName = if (workload == "tpch_mix") "queries_per_s" else "docs_per_s"
      val report = Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "closed_loop_clients" -> 1,
        "config" -> config.toMap,
        "inputs_fingerprint" -> fp,
        "setup" -> Map("session_s" -> sessionS, "prepare_reps_s" -> repS, "warm_s" -> warmS,
          "setup_s" -> setupS),
        "ops" -> res.ops, "items" -> res.items, "elapsed_s" -> res.elapsed,
        "latencies_s" -> res.latencies,
        "failures" -> failed.toSeq.sortBy(_._1).take(20).map { case (i, why) => s"op $i: $why" },
        "metrics" -> (Seq(
          "setup_s" -> setupS,
          itemName -> res.itemsPerS,
          "latency_p50_s" -> res.p50,
          "latency_p90_s" -> (if (res.ops >= 100) Some(Stats.quantile(res.latencies, 0.9)) else None),
          "fail_frac" -> failFrac,
          "peak_rss_mb" -> peakRssMb)).toMap)

      val metrics: Seq[(String, (Double, String))] = layers match {
        case None => Seq(
          "setup_s" -> (setupS, "s"),
          "items_per_s" -> (res.itemsPerS, "1/s"),
          "latency_p50_s" -> (res.p50, "s"),
          "peak_rss_mb" -> (peakRssMb, "MB"),
          "ok_frac" -> (1.0 - failFrac, "ratio"))
        case Some(l) =>
          val u = untraced.get
          val measured = l ++ Layers.spark(counts, res, cores) ++ Layers.selfTimes(res.ops) ++
            residue.get.metrics ++ Seq(
            "trace.overhead.items_per_s" -> (res.itemsPerS - u.itemsPerS),
            "trace.overhead.latency_p50_s" -> (res.p50 - u.p50))
          writeSpans(workload, seed, counts)
          Layers.PerLayer.map { case (name, unit) => name -> (measured.getOrElse(name, 0.0), unit) }
      }
      val notMeasured = if (traced) Layers.PerLayer.map(_._1).filterNot(n => metrics.exists(m =>
        m._1 == n && m._2._1 != 0.0)) else Nil
      println(Json.obj(Seq("report" -> (report :+ ("per_layer_reading_0" -> notMeasured)).toMap)))
      println(Json.obj(Seq(
        "correct" -> (failed.isEmpty),
        "attempted" -> math.max(1, attempted),
        "failed" -> failed.size,
        "metrics" -> metrics.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) }.toMap)))
      true
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        false
    } finally {
      spark.stop()
      deleteTree(work)
    }
    if (!ok) sys.exit(1)
  }

  def loop(w: Workload, seconds: Double, probe: Option[Residue]): LoopResult = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val failed = mutable.LinkedHashMap.empty[Int, String]
    var items = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < w.minOps) {
      // settle the previous operation's garbage (and the checkpoint blocks
      // the context cleaner frees with it) outside the operation's time
      System.gc()
      probe.foreach(_.before())
      val s = System.nanoTime()
      try items += Trace.op(i)(w.op(i))
      catch { case NonFatal(e) => failed(i) = s"threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
      lat += (System.nanoTime() - s) / 1e9
      probe.foreach(_.after(i))
      i += 1
    }
    val t1 = System.nanoTime()
    LoopResult(lat.toSeq, items, (t1 - t0) / 1e9, failed.toMap, t0, t1)
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
    finally src.close()
  }

  /** Writes the spans, each with the Spark counts attributed to it, as
    * JSON lines under perfbench/target/traces. */
  private def writeSpans(workload: String, seed: Long, counts: SparkCounts): Unit = {
    val dir = new File("perfbench/target/traces")
    dir.mkdirs()
    val perSpan = Layers.attribute(counts, Trace.spans)
    val lines = Trace.spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ perSpan.getOrElse(s.id, Map.empty).toSeq.sortBy(_._1))
    }
    java.nio.file.Files.write(new File(dir, s"$workload-$seed.jsonl").toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
