package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Spark-side counters of one span: everything summed over the tasks of the
  * jobs submitted while the span was the innermost open one.
  */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val taskDurMs = mutable.ArrayBuffer.empty[Long]

  def add(o: SpanStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    taskDurMs ++= o.taskDurMs
  }
  def taskS: Double = taskMs / 1e3
  def maxTaskS: Double = if (taskDurMs.isEmpty) 0.0 else taskDurMs.max / 1e3
  def p50TaskS: Double = Stats.median(taskDurMs.map(_ / 1e3).toSeq)
  /** max/p50 task time; 1.0 when there are no tasks */
  def skew: Double = if (p50TaskS <= 0) 1.0 else maxTaskS / p50TaskS
}

final case class Span(id: Int, name: String, parent: Option[Int], runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  val stats = new SpanStats
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder: each public layer call is wrapped in [[span]], which
  * tags the jobs it submits with a job description and a local property;
  * a listener attributes every task's metrics to the span of its job.
  * Spans live in memory and are written out by the caller at the end of
  * the run. Also tracks the bytes of persisted RDD blocks (memory + disk)
  * from block-update events, for the peak-cached metric.
  */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val blockBytes = mutable.Map.empty[(Int, String), Long] // (rdd, block) -> bytes
  private var cachedNow = 0L
  @volatile private var cachedPeak = 0L

  sc.addSparkListener(this)

  def all: Seq[Span] = spans.toSeq
  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def span[A](name: String)(body: => A): (A, Span) = {
    val sp = synchronized {
      val s = Span(spans.length, name, stack.headOption.map(_.id), runId, System.nanoTime())
      spans += s
      s
    }
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevSpan = sc.getLocalProperty(SpanKey)
    stack.push(sp)
    sc.setJobDescription(s"perfbench:$name")
    sc.setLocalProperty(SpanKey, sp.id.toString)
    try {
      val out = body
      (out, sp)
    } finally {
      sp.endNs = System.nanoTime()
      stack.pop()
      sc.setJobDescription(prevDesc)
      sc.setLocalProperty(SpanKey, prevSpan)
    }
  }

  /** Spark counters of `sp` plus all its descendants, after the bus drained. */
  def statsOf(sp: Span): SpanStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = new SpanStats
      def walk(s: Span): Unit = {
        out.add(s.stats)
        spans.filter(_.parent.contains(s.id)).foreach(walk)
      }
      walk(sp)
      out
    }
  }

  def resetPeak(): Unit = { org.apache.spark.PerfbenchBus.drain(sc); cachedPeak = cachedNow }
  def peakCachedBytes: Long = { org.apache.spark.PerfbenchBus.drain(sc); cachedPeak }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { id =>
      val sid = id.toInt
      e.stageIds.foreach(st => stageSpan(st) = sid)
      spans(sid).stats.jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { sid =>
      val st = spans(sid).stats
      val m = e.taskMetrics
      st.tasks += 1
      st.taskDurMs += e.taskInfo.duration
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val key = (b.rddId, s"${info.blockManagerId.executorId}/${b.name}")
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        setBlock(key, size)
      case _ => ()
    }
  }

  /** `unpersist` drops an RDD's blocks without a block update per block;
    * this event is the only sign they are gone. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blockBytes.keys.filter(_._1 == e.rddId).toList.foreach(setBlock(_, 0L))
  }

  private def setBlock(key: (Int, String), size: Long): Unit = {
    cachedNow += size - blockBytes.getOrElse(key, 0L)
    if (size == 0L) blockBytes.remove(key) else blockBytes(key) = size
    if (cachedNow > cachedPeak) cachedPeak = cachedNow
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)
}
