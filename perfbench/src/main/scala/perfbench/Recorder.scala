package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: a benchmark-side span around a call into the program.
  * `kind` says what the call does to Spark: `build` constructs a plan,
  * `plan` forces physical planning, `action` runs jobs. */
final case class Span(id: Int, parent: Int, pass: Int, layer: String,
                      name: String, kind: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Scheduler totals of the jobs launched under one span. */
final class Totals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var recordsRead, bytesWritten, blockBytesWritten = 0L
}

/** The benchmark's single listener and span recorder.
  *
  * Every traced call sets the job local property [[Recorder.TagKey]] to its
  * span id, so jobs, stages, tasks and the RDD blocks those stages write are
  * attributed by tag, never by time window. Storage is tracked whether
  * spans are recorded or not: the sum of live block sizes from `onBlockUpdated`
  * and its peak since the last [[resetPeak]]. Spans stay in memory until
  * the run ends. */
final class Recorder extends SparkListener {
  import Recorder.TagKey

  private var sc: SparkContext = _
  private var nextId = 1
  private var stack: List[Int] = Nil
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  /** Pass that new spans belong to, and whether spans are recorded now. */
  var pass: Int = -1
  var active: Boolean = false

  private val stageTag = mutable.Map.empty[Int, Int]
  private val rddTag = mutable.Map.empty[Int, Int]
  private val totals = mutable.Map.empty[Int, Totals]
  private val liveBlocks = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  /** Registers on a (new) SparkContext. Stage and RDD ids and block state
    * restart with each context. */
  def attach(context: SparkContext): Unit = synchronized {
    sc = context
    stageTag.clear(); rddTag.clear()
    liveBlocks.clear(); storageNow = 0L; storagePeak = 0L
    context.addSparkListener(this)
  }

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  /** Runs `body` inside a span; while inactive it just runs `body`. */
  def span[T](layer: String, name: String, kind: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val ctx = sc
      stack = id :: stack
      if (ctx != null) ctx.setLocalProperty(TagKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (ctx != null)
          ctx.setLocalProperty(TagKey, stack.headOption.map(_.toString).orNull)
        synchronized { spanBuf += Span(id, parent, pass, layer, name, kind, t0, t1) }
      }
    }

  def totalsOf(spanId: Int): Totals = synchronized(totals.getOrElse(spanId, new Totals))

  def storageMb: Double = synchronized(storageNow / 1048576.0)
  def peakMb: Double = synchronized(storagePeak / 1048576.0)
  def resetPeak(): Unit = synchronized { storagePeak = storageNow }

  private def tot(tag: Int): Totals = totals.getOrElseUpdate(tag, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      .map(_.toInt).getOrElse(0)
    tot(tag).jobs += 1
    e.stageInfos.foreach { st =>
      if (!stageTag.contains(st.stageId)) stageTag(st.stageId) = tag
      st.rddInfos.foreach(r => if (!rddTag.contains(r.id)) rddTag(r.id) = tag)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    tot(stageTag.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tot(stageTag.getOrElse(e.stageId, 0))
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
      t.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val size = info.memSize + info.diskSize
    val before = liveBlocks.getOrElse(key, 0L)
    if (size > 0) liveBlocks(key) = size else liveBlocks.remove(key)
    storageNow += size - before
    if (storageNow > storagePeak) storagePeak = storageNow
    if (before == 0L && size > 0) info.blockId.asRDDId.foreach { r =>
      tot(rddTag.getOrElse(r.rddId, 0)).blockBytesWritten += size
    }
  }
}

object Recorder {
  val TagKey = "perfbench.span"
}
