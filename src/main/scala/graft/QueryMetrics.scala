package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The job ledger of one measured body (`QueryMetrics.measure`): every
  * Spark job it started, with its interval and call site, every stage it
  * completed, the catalyst phase time (QueryPlanningTracker) of every
  * action — analysis/optimization/planning are the driver-side phases;
  * execution is the jobs — and the janino compiles it ran.
  *
  * Each job line names its call site. AQE stage jobs carry none of
  * their own (their stages are named after an anonymous closure), so
  * a job inside a SQL execution takes the execution's description —
  * the call site of the action that started it, e.g. `head at
  * DedupOps.scala:172` — via its `spark.sql.execution.id` property;
  * any other job takes its result stage's name.
  */
final class QueryMetrics private extends SparkListener
    with QueryExecutionListener {
  private val starts = mutable.Map[Int, (Long, String)]()
  private val execSites = mutable.Map[Long, String]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val lines = mutable.ArrayBuffer[String]()
  private val phaseNs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var taskTimeMs, nStages, nExecs = 0L
  private var nJobs = 0
  // janino compiles: CodegenMetrics counts every compile in the JVM
  private val compiles0 = QueryMetrics.compileCount
  @volatile private var compiles = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.description }
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    nJobs += 1
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
    val site = exec.flatMap(id => execSites.get(id.toLong))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("")
    starts(e.jobId) = (System.nanoTime(), site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (s, site) =>
      val end = System.nanoTime()
      intervals += ((s, end))
      lines += f"job ${e.jobId}%3d ${(end - s) / 1e9}%7.3f s  $site"
    }
  }
  // stage wall far above taskTime/cpus: a serialized or skewed stage
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      taskTimeMs += m.executorRunTime
      nStages += 1
      val wall = (for {
        s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime
      } yield (c - s) / 1000.0).getOrElse(-1.0)
      lines += f"  stage ${e.stageInfo.stageId}%3d tasks=${e.stageInfo.numTasks}%3d " +
        f"wall=$wall%7.2f s " +
        f"taskTime=${m.executorRunTime / 1000.0}%8.2f s " +
        f"sRead=${m.shuffleReadMetrics.recordsRead}%10d " +
        f"sWrite=${m.shuffleWriteMetrics.recordsWritten}%10d " +
        f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%8.1f MB"
    }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    nExecs += 1
    qe.tracker.phases.foreach { case (p, s) =>
      phaseNs(p) += (s.endTimeMs - s.startTimeMs) * 1000000L }
    phaseNs("TOTAL_ACTION") += durationNs
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         error: Exception): Unit = ()

  /** The Spark jobs the body started. */
  def jobs: Int = synchronized(nJobs)

  /** The per-job and per-stage lines `reportJobs` prints. */
  private[graft] def jobLines: Seq[String] = synchronized(lines.toSeq)

  def reportJobs(name: String, rows: Long, wall: Double): Unit =
    synchronized {
      println(f"=== $name rows=$rows wall=$wall%.2fs jobs=$nJobs " +
        s"stages=$nStages taskTime=${taskTimeMs / 1000.0}s")
      lines.foreach(l => println("  " + l))
    }

  /** The union of the job intervals splits the wall into inside-jobs
    * and between-jobs (pure driver work: planning, file listing,
    * commit, parquet footers).
    */
  def reportDriver(wall: Double): Unit = synchronized {
    // by start time, each interval adds only what reaches past the
    // furthest end seen so far
    val (covered, _) = intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }
    val inJobs = covered / 1e9
    println(f"  driver: inJobs=$inJobs%.2f s betweenJobs=${wall - inJobs}%.2f s " +
      f"perJobOverheadIfUniform=${(wall - inJobs) / math.max(1, intervals.size) * 1000}%.1f ms " +
      s"codegenCompiles=$compiles")
    println(s"  catalyst phases over $nExecs tracked executions:")
    phaseNs.toSeq.sortBy(-_._2).foreach { case (p, ns) =>
      println(f"    $p%-16s ${ns / 1e9}%7.3f s") }
  }
}

object QueryMetrics {

  private val DrainTimeoutMs = 30000L

  private def compileCount: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Blocks until the listener bus has delivered every event posted so
    * far, both buses' listeners included (QueryExecutionListeners hear
    * through a listener on the same bus). Starts no job; throws a
    * TimeoutException if the bus has not drained within 30 s.
    */
  def drain(spark: SparkSession): Unit =
    Bridge.waitUntilEmpty(spark.sparkContext, DrainTimeoutMs)

  /** Runs `body` under a fresh ledger and returns its result with the
    * ledger. Drains before registering, so no earlier action's event
    * reaches the ledger, and after `body`, so every event of the body's
    * own jobs has.
    */
  def measure[A](spark: SparkSession)(body: => A): (A, QueryMetrics) = {
    drain(spark)
    val m = new QueryMetrics
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    try {
      val a = body
      m.compiles = compileCount - m.compiles0
      drain(spark)
      (a, m)
    } finally {
      spark.listenerManager.unregister(m)
      spark.sparkContext.removeSparkListener(m)
    }
  }
}
