package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable.ArrayBuffer

/** Spark listener for the traced run. While `enabled`, it records one
  * `job` record per Spark job (wall interval, call site, stage/task counts
  * and the task metrics summed over its stages) and one `sql` record per
  * SQL execution (interval, call site, whether it writes files).
  *
  * The call site is the job's `callSite.short` property when set, else the
  * result stage's name, which Spark sets to the short call site of the
  * action (`count at WeatherIngest.scala:125`). Jobs that Spark launches
  * from its own threads (broadcast exchanges) carry a JDK frame as call
  * site; for those `run.py` falls back to the call site of the SQL
  * execution the job belongs to, recorded here as `sql_exec`.
  */
final class JobTrace extends SparkListener {
  @volatile var enabled = false

  private final class JobAcc(val start: Long, val site: String,
                             val sqlExec: Long, val stages: Set[Int]) {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sqlStarts = new ConcurrentHashMap[Long, SparkListenerSQLExecutionStart]()
  private val started = new java.util.concurrent.atomic.AtomicLong()
  private val ended = new java.util.concurrent.atomic.AtomicLong()
  val records = ArrayBuffer[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    val sqlExec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobAcc(e.time, site, sqlExec, e.stageIds.toSet))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    started.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    for (a <- acc; m <- Option(e.taskMetrics)) a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val a = jobs.remove(e.jobId)
    if (a != null) {
      a.stages.foreach(stageJob.remove)
      val ok = e.jobResult == JobSucceeded
      synchronized {
        records += Json.obj(Seq("t" -> "job", "id" -> e.jobId, "start" -> a.start,
          "end" -> e.time, "site" -> a.site, "sql_exec" -> a.sqlExec,
          "stages" -> a.stages.size, "tasks" -> a.tasks, "run_ms" -> a.runMs,
          "gc_ms" -> a.gcMs, "shuffle_bytes" -> a.shuffleBytes,
          "spill_bytes" -> a.spillBytes, "ok" -> ok))
      }
      ended.incrementAndGet()
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if enabled => sqlStarts.put(s.executionId, s)
    case f: SparkListenerSQLExecutionEnd =>
      val s = sqlStarts.remove(f.executionId)
      if (s != null) synchronized {
        records += Json.obj(Seq("t" -> "sql", "id" -> s.executionId,
          "root" -> s.rootExecutionId.getOrElse(s.executionId),
          "start" -> s.time, "end" -> f.time, "site" -> s.description,
          "write" -> s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
      }
    case _ =>
  }

  /** Waits until every job this listener saw start has ended and been
    * recorded (the listener bus delivers events asynchronously). */
  def drain(spark: SparkSession, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def busy = spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty ||
      started.get() != ended.get()
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // trailing SQL-execution-end events
  }
}
