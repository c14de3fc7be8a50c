package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

import scala.collection.mutable

/** Work counters of one window (a pass, a setup, a self-test). Times are
  * executor task time; bytes are as the task metrics report them. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var peakExecBytes = 0L

  def addTask(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    taskRunMs += m.executorRunTime
    taskCpuNs += m.executorCpuTime
    shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
    inputBytes += m.inputMetrics.bytesRead
    peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
  }
}

/** Cache and broadcast block accounting of one window, from
  * `SparkListenerBlockUpdated`. A frame is a cached or checkpointed RDD,
  * identified by its RDD name when it has one (a persisted DataFrame's
  * cache RDD is named after its plan, so persisting the same frame again
  * yields a new RDD with the same name) and by its RDD id otherwise. */
final case class CacheStats(
    builds: Int, frames: Int, blocksWritten: Long, distinctBlocks: Long,
    peakBytes: Long, broadcasts: Int, broadcastBytes: Long) {
  def rebuilds: Int = builds - frames
  def buildRatio: Double =
    if (blocksWritten == 0) 1.0 else distinctBlocks.toDouble / blocksWritten
}

/** One listener for every counter the benchmark reports. Jobs carry the
  * layer of the span that submitted them in the local property
  * [[Probe.LayerKey]]; their stages and tasks are counted both in the
  * window total and under that layer. */
final class Probe extends SparkListener {
  private var total = new Counters
  private var byLayer = mutable.Map.empty[String, Counters]
  private val stageLayer = mutable.Map.empty[Int, String]

  private val rddNames = mutable.Map.empty[Int, String]
  private val live = mutable.Map.empty[(Int, Int), Long]
  private var liveBytes = 0L
  private var peakBytes = 0L
  private val builtRdds = mutable.LinkedHashSet.empty[Int]
  private var blocksWritten = 0L
  private val writtenBlocks = mutable.Set.empty[(Int, Int)]
  private val broadcastIds = mutable.Set.empty[Long]
  private var broadcastBytes = 0L

  private def layerOf(stageId: Int): Counters =
    byLayer.getOrElseUpdate(stageLayer.getOrElse(stageId, "other"), new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.LayerKey)))
      .getOrElse("other")
    e.stageIds.foreach(stageLayer(_) = layer)
    total.jobs += 1
    byLayer.getOrElseUpdate(layer, new Counters).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.rddInfos.foreach(r => rddNames(r.id) = r.name)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    layerOf(e.stageInfo.stageId).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      total.addTask(m)
      layerOf(e.stageId).addTask(m)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val bytes = info.memSize + info.diskSize
    info.blockId match {
      case RDDBlockId(rdd, split) =>
        val key = (rdd, split)
        val wasLive = live.remove(key)
        wasLive.foreach(liveBytes -= _)
        if (info.storageLevel.isValid) {
          // a block already held only changed level (memory to disk)
          if (wasLive.isEmpty) {
            writtenBlocks += key
            blocksWritten += 1
            builtRdds += rdd
          }
          live(key) = bytes
          liveBytes += bytes
          peakBytes = math.max(peakBytes, liveBytes)
        }
      case BroadcastBlockId(id, field) if info.storageLevel.isValid =>
        broadcastIds += id
        if (field.startsWith("piece")) broadcastBytes += bytes
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    live.keys.filter(_._1 == e.rddId).toList.foreach(k => liveBytes -= live.remove(k).get)
  }

  /** Counters since the last reset, and a reset; the caller drains the
    * listener bus first. */
  def snapshot(): (Counters, Map[String, Counters], CacheStats) = synchronized {
    val frameOf = (rdd: Int) => rddNames.get(rdd).filter(_ != rdd.toString)
      .getOrElse(s"rdd-$rdd")
    val distinct = writtenBlocks.map { case (rdd, split) => (frameOf(rdd), split) }.size
    val cache = CacheStats(builtRdds.size, builtRdds.map(frameOf).size, blocksWritten,
      distinct, peakBytes, broadcastIds.size, broadcastBytes)
    val snap = (total, byLayer.toMap, cache)
    reset()
    snap
  }

  def reset(): Unit = synchronized {
    total = new Counters
    byLayer = mutable.Map.empty
    stageLayer.clear()
    peakBytes = liveBytes
    builtRdds.clear()
    blocksWritten = 0
    writtenBlocks.clear()
    broadcastIds.clear()
    broadcastBytes = 0
  }
}

object Probe {
  val LayerKey = "perfbench.layer"
}

/** A traced interval: name, start and end (ns since the run began), parent
  * span and op id. Spans stay in memory and are written out at exit. */
final case class Span(id: Int, name: String, parent: Int, op: String,
    startNs: Long, var endNs: Long = -1L)

/** Span recorder. When disabled, [[span]] only runs its body. When enabled
  * it also records the span and sets the Spark local property that
  * attributes the jobs the body submits to the span's layer. */
final class Tracer(var enabled: Boolean, sc: => Option[org.apache.spark.SparkContext]) {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String, layer: String = null, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op.nonEmpty) op else parent.map(_.op).getOrElse(""), System.nanoTime() - t0)
      spans += s
      open = s :: open
      val ctx = if (layer != null) sc else None
      val prevLayer = ctx.map(_.getLocalProperty(Probe.LayerKey)).orNull
      ctx.foreach(_.setLocalProperty(Probe.LayerKey, layer))
      try body
      finally {
        s.endNs = System.nanoTime() - t0
        open = open.tail
        ctx.foreach(_.setLocalProperty(Probe.LayerKey, prevLayer))
      }
    }

  /** Each span's duration minus the part of it its children cover, in
    * seconds, by span id. Children of one span run one after another on
    * the calling thread, so their durations do not overlap. */
  def selfSeconds: Map[Int, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id)) / 1e9).toMap
  }
}
