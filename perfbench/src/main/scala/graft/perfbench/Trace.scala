package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. Spans are opened from the
  * benchmark's own code around calls into the library's modules, named
  * `<layer>.<function>`; each carries its parent and the closed-loop
  * operation it belongs to. When tracing is off, [[span]] only runs its
  * body, so the untraced runs pay one boolean test per call site. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var currentOp = -1

  def reset(): Unit = { done.clear(); stack = Nil; nextId = 0; currentOp = -1 }
  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, parent, currentOp, t0, System.nanoTime())
      }
    }

  /** Runs one closed-loop operation under a root span `bench.op`. */
  def op[T](i: Int)(body: => T): T = {
    currentOp = i
    try span("bench.op")(body) finally currentOp = -1
  }

  /** Self time of each span: its duration minus the union of its direct
    * children's intervals. */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Spark engine counts for the traced run, kept per job and stage and
  * attributed afterwards to the innermost span open when each job started.
  * Also follows BlockManager storage through block updates, so the peak
  * and the residue after each operation can be read per span. */
final class SparkCounts extends SparkListener {
  final class StageAgg {
    var tasks = 0L
    var busyNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
  }
  /** (job id, submission time in System.nanoTime units, stage ids) */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storage = 0L
  /** (System.nanoTime, BlockManager bytes after the update) */
  val storageSeries = mutable.ArrayBuffer.empty[(Long, Long)]

  // listener events carry epoch millis; spans use nanoTime. Jobs are
  // stamped with nanoTime on delivery minus the delivery lag.
  private def nanoAt(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.jobId, nanoAt(e.time), e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.durationsMs += e.taskInfo.duration
    if (m != null) {
      a.busyNs += m.executorRunTime * 1000000L
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    storage += bytes - blocks.getOrElse(id, 0L)
    if (bytes == 0L) blocks.remove(id) else blocks(id) = bytes
    storageSeries += ((System.nanoTime(), storage))
  }

  def storageBytes: Long = synchronized(storage)
}
