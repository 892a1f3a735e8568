package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent}
import org.apache.spark.storage.BlockId

/** Marks the start of a timed operation in the listener event order. */
private final case class OpStart(newPass: Boolean) extends SparkListenerEvent

/** The most storage memory one operation's own blocks hold at once, over
  * the operations of a pass. The listener follows every block the block
  * managers report (cached and checkpointed RDD partitions, broadcast
  * pieces): a block counts for the operation during which it appeared,
  * until it is removed, and a broadcast piece until the operation ends.
  * Broadcasts are released when the garbage collector finds them
  * unreachable, which can fall inside or after the operation that made
  * them, so their release is not counted; nor are the blocks of earlier
  * operations. The figure therefore does not depend on when the
  * collector runs. */
final class StoragePeak(sc: SparkContext) extends SparkListener {
  private val held = mutable.HashMap.empty[(String, BlockId), Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val key = (i.blockManagerId.executorId, i.blockId)
    val size = if (i.storageLevel.isValid) i.memSize else 0L
    held.get(key) match {
      case Some(_) if size == 0 && i.blockId.isBroadcast => // released by the garbage collector
      case Some(old) =>
        total += size - old
        if (size > 0) held(key) = size else held.remove(key)
      case None if size > 0 =>
        held(key) = size
        total += size
      case None => // an earlier operation's block
    }
    peak = math.max(peak, total)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case OpStart(newPass) => synchronized {
      held.clear()
      total = 0L
      if (newPass) peak = 0L
    }
    case _ =>
  }

  def start(): Unit = sc.addSparkListener(this)

  /** A pass starts. */
  def reset(): Unit = Listeners.post(sc, OpStart(newPass = true))

  /** An operation starts: blocks reported before now belong to earlier ones. */
  def mark(): Unit = Listeners.post(sc, OpStart(newPass = false))

  /** The peak since the last `reset`, once every event so far is counted. */
  def peakBytes: Long = { Listeners.drain(sc); synchronized(peak) }

  def finish(): Unit = sc.removeSparkListener(this)
}
