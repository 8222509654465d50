package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Books every job, stage and task to the (module, phase) that was open on
  * the submitting thread when the job started.
  *
  * The runner marks phases with two local properties ([[PhaseListener.mark]]);
  * Spark copies a thread's local properties into each job it submits, so a
  * job launched eagerly inside an operator call carries "construct" even
  * though the listener sees it later, on the bus thread. Stages map to
  * their job's key; task metrics map through their stage. Jobs started with
  * no phase open are booked to ("-", "other").
  */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private val accs = mutable.LinkedHashMap.empty[(String, String), Acc]

  private def acc(k: (String, String)): Acc = accs.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val k = (p.flatMap(x => Option(x.getProperty(ModuleProp))).getOrElse("-"),
      p.flatMap(x => Option(x.getProperty(PhaseProp))).getOrElse("other"))
    acc(k).jobs += 1
    e.stageIds.foreach(stageKey(_) = k)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageKey.getOrElse(e.stageId, ("-", "other")))
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals per (module, phase) since the last reset, after draining the bus. */
  def snapshot(sc: SparkContext): Map[(String, String), Acc] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(accs.toMap)
  }

  def reset(): Unit = synchronized { accs.clear(); stageKey.clear() }
}

object PhaseListener {
  val ModuleProp = "graft.perfbench.module"
  val PhaseProp = "graft.perfbench.phase"

  def mark(sc: SparkContext, module: String, phase: String): Unit = {
    sc.setLocalProperty(ModuleProp, module)
    sc.setLocalProperty(PhaseProp, phase)
  }

  def clear(sc: SparkContext): Unit = mark(sc, null, null)
}
