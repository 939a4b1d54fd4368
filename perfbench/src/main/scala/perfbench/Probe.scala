package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with the task metrics of all its
  * stages summed. Times are epoch milliseconds. `longSite` is the call site
  * the job is attributed by; `tableOpen` marks a schema-inference or
  * listing job.
  */
final class JobRec(val id: Int, val start: Long, val shortSite: String,
    val longSite: String, val tableOpen: Boolean) {
  var end: Long = start
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def ms: Long = end - start
}

/** Catalyst phase times of one QueryExecution, in milliseconds. */
final case class Phases(analysis: Long, optimization: Long, planning: Long)

/** Listener the traced run registers on the session: Spark jobs with their
  * call sites and task metrics, Catalyst phase times of every
  * QueryExecution, and the end time of every file write by output path.
  * Events stay in memory; `take` hands over what arrived since the last
  * call.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val byJob = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, JobRec]
  private val phases = ArrayBuffer.empty[Phases]
  private val execSite = scala.collection.mutable.Map.empty[Long, String]
  private val writePath = scala.collection.mutable.Map.empty[Long, String]
  private val writeEnds = ArrayBuffer.empty[(String, Long)]

  private val OutputPath = """InsertIntoHadoopFsRelationCommand\s+((?:file:)?/[^\s,]+)""".r

  private def writeTarget(p: SparkPlanInfo): Option[String] =
    OutputPath.findFirstMatchIn(p.simpleString).map(_.group(1))
      .orElse(p.children.iterator.map(writeTarget).collectFirst { case Some(t) => t })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created last, so it has the highest id; its
    // details are the long call site of the job
    val result = e.stageInfos.maxByOption(_.stageId)
    val props = Option(e.properties)
    val short = result.map(_.name)
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short")))).getOrElse("")
    val own = result.map(_.details).filter(_.nonEmpty)
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.long")))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    // jobs that a query stage submits from a pool thread carry no program
    // frame; the SQL execution they belong to records the caller's
    val long =
      if (CallSites.module(own) != "none") own
      else exec.flatMap(execSite.get).getOrElse(own)
    // schema inference and file listing run outside any SQL execution; a
    // write under the same reader-named call site runs inside one
    val j = new JobRec(e.jobId, e.time, short, long,
      tableOpen = exec.isEmpty && CallSites.isTableOpen(short))
    jobs += j
    byJob(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId) if m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.bytesRead += m.inputMetrics.bytesRead
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.details
      writeTarget(s.sparkPlanInfo).foreach(writePath(s.executionId) = _)
    }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized {
        execSite.remove(s.executionId)
        writePath.remove(s.executionId).foreach(p => writeEnds += p -> s.time)
      }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    synchronized(phases += Phases(ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded since the previous call: jobs, Catalyst phases,
    * and (output path, end time) of each write.
    */
  def take(): (Seq[JobRec], Seq[Phases], Seq[(String, Long)]) = synchronized {
    val out = (jobs.toVector, phases.toVector, writeEnds.toVector)
    jobs.clear()
    phases.clear()
    writeEnds.clear()
    out
  }
}

/** Driver heap and GC, read from the JVM's own beans. The peak heap is the
  * largest heap occupancy right after a full collection, taken from GC
  * notifications. The harness runs one after every call, so this is the
  * largest live heap a call leaves behind; young collections are left out
  * because where they fall inside a call varies from run to run.
  */
object DriverMemory {
  @volatile private var peakAfterGc = 0L

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private lazy val installed: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              if (info.getGcAction == "end of major GC") {
                val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
                if (used > peakAfterGc) peakAfterGc = used
              }
            }
        }, null, null)
      case _ => ()
    }

  /** Start a new peak window. */
  def resetPeak(): Unit = {
    installed
    peakAfterGc = 0L
  }

  def peakMb: Double = peakAfterGc / 1048576.0

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
