package layerbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Executor metrics of one finished task. */
final case class TaskRec(runMs: Long, cpuNs: Long, spillBytes: Long)

/** Collects task metrics per job group. Each pass runs under its own job
  * group, so a pass's tasks are exactly the tasks of the stages its jobs ran.
  */
final class Probe extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[String, java.util.Queue[TaskRec]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null)
      tasks.computeIfAbsent(g, _ => new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]())
        .add(TaskRec(m.executorRunTime, m.executorCpuTime, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Tasks of a group, once every event posted so far has been delivered. */
  def group(sc: SparkContext, g: String): Seq[TaskRec] = {
    org.apache.spark.layerbench.BusDrain(sc)
    Option(tasks.remove(g)).map(_.asScala.toVector).getOrElse(Vector.empty)
  }
}

/** JVM-wide counters read around each pass. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  private val jit = ManagementFactory.getCompilationMXBean
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def gcMillis: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMillis: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L
  def classesLoaded: Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  def gcNames: String = gcs.map(_.getName).mkString(",")

  /** Old-generation occupancy after a full collection, in bytes. */
  def oldGenAfterGc(): Long = {
    System.gc()
    oldGen.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).getOrElse(0L)
  }
}
