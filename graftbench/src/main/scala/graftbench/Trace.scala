package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracer. A span is recorded at each call the harness makes into a
  * graft layer (name, start, end, parent, harness job id); spans live in
  * memory and are summarised at the end of the run. Counters come from a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (Catalyst
  * phase times), the codegen compile counters, the Hadoop FileSystem
  * statistics and the JVM's GC beans.
  *
  * The client is single-threaded, so Spark jobs are attributed to harness
  * jobs by time interval — this also covers jobs submitted from helper
  * threads inside a layer call (CorpusRefresh's parallel commit), which
  * thread-local job properties would miss.
  *
  * The listeners are registered only in a traced run (`active`); when
  * `enabled` is false every entry point is a pass-through, so the untimed
  * set-up and the untraced runs pay nothing but a field read.
  */
final class Trace(spark: SparkSession, active: Boolean) {
  @volatile var enabled = false

  case class Span(id: Int, parent: Int, job: Int, layer: String,
                        name: String, startNs: Long, startMs: Long,
                        var endNs: Long = 0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var jobId = -1

  /** Wall-clock interval of each harness job, with the global counter
    * deltas sampled at its boundaries.
    */
  case class JobWindow(name: String, startMs: Long, endMs: Long,
                             wallNs: Long, counters: Map[String, Double])
  private val windows = mutable.ArrayBuffer.empty[JobWindow]

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
                   jobId, layer, name, System.nanoTime(),
                   System.currentTimeMillis())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Wrap one harness job: samples the global counters on both sides. */
  def job[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      jobId = windows.size
      val c0 = counters()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val n1 = System.nanoTime()
        val t1 = System.currentTimeMillis()
        val c1 = counters()
        windows += JobWindow(name, t0, t1, n1 - n0,
                             c1.map { case (k, v) => k -> (v - c0(k)) })
        jobId = -1
      }
    }

  private def fsStats: Seq[FileSystem.Statistics] =
    FileSystem.getAllStatistics.asScala.toSeq.filter(_.getScheme == "file")

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def counters(): Map[String, Double] = Map(
    "codegen.compiles" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "fs.bytes_written" -> fsStats.map(_.getBytesWritten).sum.toDouble,
    "fs.bytes_read" -> fsStats.map(_.getBytesRead).sum.toDouble,
    "fs.write_ops" -> CountingFs.writes.get.toDouble,
    "fs.read_ops" -> CountingFs.reads.get.toDouble,
    "fs.creates" -> CountingFs.creates.get.toDouble,
    "jvm.gc_ms" -> gcMs)

  // ---- Spark listeners ----------------------------------------------------

  final class StageAgg {
    var submitMs = 0L
    var firstLaunchMs = Long.MaxValue
    val runMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs, gcMs, shWrite, shRead, fetchWaitMs, spill = 0L
    var inRows, inBytes, failed = 0L
  }
  case class SparkJob(id: Int, startMs: Long, var endMs: Long,
                            stages: Seq[Int])
  private val sparkJobs = mutable.LinkedHashMap.empty[Int, SparkJob]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val phases = mutable.ArrayBuffer.empty[(Long, String, Long)]
  @volatile private var fenceSeen = false
  private val Fence = "graftbench-trace-fence"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      sparkJobs(e.jobId) = SparkJob(e.jobId, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      sparkJobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        if (Option(e.properties).exists(p =>
              p.getProperty("spark.job.description") == Fence))
          fenceSeen = true
        stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).submitMs =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.firstLaunchMs = s.firstLaunchMs.min(e.taskInfo.launchTime)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      if (!e.taskInfo.successful) s.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inRows += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        phases += ((s.startTimeMs, phase, s.durationMs))
      }
    }
  }

  if (active) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until both listener buses have delivered every event of the
    * jobs run so far: submit a tagged one-task job, then wait for its
    * stage (SparkListener bus) and its query-execution callback.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(Fence)
    fenceSeen = false
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (!fenceSeen && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  // ---- summary ------------------------------------------------------------

  private def covered(ws: Long, we: Long, iv: Seq[(Long, Long)]): Long = {
    val clipped = iv.map { case (a, b) => (a.max(ws), b.min(we)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curS = a; curE = b; open = true }
      else if (a <= curE) curE = curE.max(b)
      else { total += curE - curS; curS = a; curE = b }
    }
    if (open) total += curE - curS
    total
  }

  /** Per-layer metrics over the traced windows, each divided by `passes`
    * (per-pass figures compare across runs of different lengths). `rows`
    * is the result-row count of the traced jobs, `writeInBytes` the
    * input bytes handed to write jobs, `commits` the write-job count.
    */
  def summary(passes: Int, cores: Int, resultRows: Long, writeInBytes: Long,
              commits: Int): Map[String, Double] = synchronized {
    val per = passes.max(1).toDouble
    val inWin = (ms: Long) => windows.exists(w => ms >= w.startMs && ms <= w.endMs)
    val jobs = sparkJobs.values.filter(j => inWin(j.startMs)).toSeq
    val stageIds = jobs.flatMap(_.stages).toSet
    val st = stageIds.toSeq.flatMap(stages.get).filter(_.runMs.nonEmpty)
    val wallMs = windows.map(_.wallNs / 1e6).sum
    val gapMs = windows.map { w =>
      val iv = jobs.map(j => (j.startMs, j.endMs))
      ((w.endMs - w.startMs) - covered(w.startMs, w.endMs, iv)).toDouble
    }.sum
    def counter(k: String) = windows.map(_.counters(k)).sum
    def phase(p: String) =
      phases.filter { case (t, ph, _) => ph == p && inWin(t) }.map(_._3).sum.toDouble
    val runMs = st.map(_.runMs.sum).sum.toDouble
    val skews = st.filter(_.runMs.size >= 2).map { s =>
      val sorted = s.runMs.sorted
      sorted.last.toDouble / sorted(sorted.size / 2).max(1L)
    }
    val inRows = st.map(_.inRows).sum.toDouble
    // self time per layer: span wall minus its child spans
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    val selfMs = spans.groupBy(_.layer).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum).toMap
    val layers = Seq("Tables", "ops", "pipeline", "quality", "io", "dedup",
                     "text", "similarity", "tpch")
    val m = mutable.LinkedHashMap[String, Double](
      "catalyst.analysis_ms" -> phase("analysis") / per,
      "catalyst.optimization_ms" -> phase("optimization") / per,
      "catalyst.planning_ms" -> phase("planning") / per,
      "scheduler.driver_gap_ms" -> gapMs / per,
      "codegen.compiles" -> counter("codegen.compiles") / per,
      "codegen.compile_ms" -> counter("codegen.compile_ms") / per,
      "scheduler.jobs" -> jobs.size / per,
      "scheduler.stages" -> st.size / per,
      "scheduler.tasks" -> st.map(_.runMs.size).sum / per,
      "scheduler.launch_wait_ms" -> st.map(s =>
        (s.firstLaunchMs - s.submitMs).max(0L)).sum / per,
      "executor.run_ms" -> runMs / per,
      "executor.cpu_ms" -> st.map(_.cpuNs).sum / 1e6 / per,
      "executor.gc_ms" -> st.map(_.gcMs).sum / per,
      "executor.slot_util" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "executor.skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "executor.failed_tasks" -> st.map(_.failed).sum / per,
      "shuffle.write_bytes" -> st.map(_.shWrite).sum / per,
      "shuffle.read_bytes" -> st.map(_.shRead).sum / per,
      "shuffle.fetch_wait_ms" -> st.map(_.fetchWaitMs).sum / per,
      "shuffle.spill_bytes" -> st.map(_.spill).sum / per,
      "scan.input_rows" -> inRows / per,
      "scan.input_bytes" -> st.map(_.inBytes).sum / per,
      "scan.rows_per_result" -> inRows / resultRows.max(1L),
      "fs.bytes_written" -> counter("fs.bytes_written") / per,
      "fs.write_ops" -> counter("fs.write_ops") / per,
      "fs.read_ops" -> counter("fs.read_ops") / per,
      "fs.bytes_read" -> counter("fs.bytes_read") / per,
      "io.write_amp" -> counter("fs.bytes_written") / writeInBytes.max(1L),
      "io.files_per_commit" -> counter("fs.creates") / commits.max(1),
    )
    layers.foreach(l => m(s"$l.call_ms") = selfMs.getOrElse(l, 0.0) / per)
    m("action.exec_ms") = selfMs.getOrElse("action", 0.0) / per
    m("jvm.gc_ms") = counter("jvm.gc_ms") / per
    m.toMap
  }

  /** Spark jobs started inside spans of `layer`/`name` (self-check). */
  def sparkJobsIn(layer: String, name: String): Seq[Int] = synchronized {
    spans.filter(s => s.layer == layer && s.name == name).map { s =>
      val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
      sparkJobs.values.count(j => j.startMs >= s.startMs && j.startMs <= endMs)
    }.toSeq
  }

  /** Codegen compiles inside the harness jobs named `name` (self-check). */
  def compilesIn(name: String): Seq[Double] =
    windows.filter(_.name == name).map(_.counters("codegen.compiles")).toSeq

  /** Span dump, one JSON object per line, for offline inspection. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"job":${s.job},""" +
        s""""layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"dur_ms":${(s.endNs - s.startNs) / 1e6}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Operation counters for the local file system, whose Hadoop statistics
  * count bytes but no operations. Installed as `fs.file.impl` in traced
  * runs only.
  */
object CountingFs {
  val reads, writes, creates = new AtomicLong
}

final class CountingRawLocalFs extends RawLocalFileSystem {
  import CountingFs._
  override def open(f: Path, bufferSize: Int) = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path) = { reads.incrementAndGet(); super.listStatus(f) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable) = {
    writes.incrementAndGet(); creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    writes.incrementAndGet(); creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable) = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path) = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean) = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path) = { writes.incrementAndGet(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission) = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

final class CountingLocalFs extends LocalFileSystem(new CountingRawLocalFs)
