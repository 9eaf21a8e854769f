package graft.tools

import scala.collection.mutable

import graft.{QueryMetrics, Session, SparkEntry}

/** Dev probe over driver-contract queries, on the bench's own session
  * (`graft.Session`). Every mode looks the queries up in
  * `SparkEntry.queries`, warms each once (JIT + codegen cache) and drops
  * caches before every measured run.
  *
  *  - `time`: SPARK_GRAFT_RUNS (default 4) timed runs per query. On
  *    the stream rows (q_ingest_stream, q_refresh_stream) the warm run
  *    consumes every stream file into the checkpoint (their
  *    establish-once replay contract), so each timed run is a restart
  *    with no new input: time ingest through q_minhash_index and
  *    refresh through q_incremental_refresh.
  *  - `jobs`: one timed run under a `graft.QueryMetrics` ledger, with
  *    per-job and per-stage lines — separates driver/scheduling overhead
  *    from real compute; each job line ends with the call site of the
  *    action that started it.
  *  - `driver`: `jobs` plus where the driver's own time goes (r12: the
  *    ~50 ms/job fixed cost of the store-lifecycle queries): time
  *    between jobs, catalyst phases, janino compiles, and a stack sample
  *    of the driver threads.
  *  - `ab`: interleaved same-JVM A/B of one RUNTIME conf given twice
  *    (`--conf k=A --conf k=B`) over SPARK_GRAFT_RUNS ABBA pairs,
  *    reporting per-arm min and median. Interleaving makes the comparison
  *    immune to this box's multi-minute contention windows, which defeat
  *    cross-JVM A/Bs (the whole second JVM can land inside one window).
  *
  * Every other `--conf k=v` is a session conf (static ones included),
  * applied over the `graft.Session` defaults.
  *
  * Usage: runMain graft.tools.Probe <time|jobs|driver|ab> [--conf k=v]...
  *   <query> [query ...]; env SPARK_GRAFT_SF_DIR (required) and
  *   SPARK_GRAFT_CPUS as in Bench.
  */
object Probe {

  private val usage =
    "usage: Probe <time|jobs|driver|ab> [--conf k=v]... <query>..."

  private[graft] final case class Args(mode: String,
                                       confs: Seq[(String, String)],
                                       queries: Seq[String]) {
    require(Set("time", "jobs", "driver", "ab")(mode) && queries.nonEmpty,
      usage)
    /** `ab` mode's arms: the one conf given twice, with two values. */
    val arms: Seq[(String, String)] =
      if (mode != "ab") Nil
      else {
        val twice = confs.groupBy(_._1).values.filter(_.distinct.size == 2)
        require(twice.size == 1,
          "ab: give exactly one runtime conf twice: --conf k=A --conf k=B")
        twice.head.distinct
      }
  }

  private[graft] def parse(args: Seq[String]): Args = {
    require(args.nonEmpty, usage)
    val confs = Seq.newBuilder[(String, String)]
    val queries = Seq.newBuilder[String]
    val it = args.tail.iterator
    while (it.hasNext) it.next() match {
      case "--conf" =>
        require(it.hasNext, usage)
        it.next().split("=", 2) match {
          case Array(k, v) => confs += (k -> v)
          case Array(kv) => sys.error(s"--conf needs key=value, got: '$kv'")
        }
      case q => queries += q
    }
    Args(args.head, confs.result(), queries.result())
  }

  /** The median: the middle sample, or the mean of the two middle
    * samples when the count is even.
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Driver-cost categories: a sampled stack belongs to the first
    * category one of whose markers occurs in one of its frames.
    */
  private val categories: Seq[(String, Seq[String])] = Seq(
    "file-listing" -> Seq("InMemoryFileIndex", "listLeafFiles",
      "HadoopFSUtils", "PartitioningAwareFileIndex", "FileStatusCache"),
    "commit-protocol" -> Seq("FileOutputCommitter",
      "HadoopMapReduceCommitProtocol", "commitJob",
      "SQLHadoopMapReduceCommitProtocol"),
    "parquet-meta" -> Seq("ParquetFileFormat", "ParquetFooterReader",
      "ParquetMetadata", "ParquetUtils", "readFooter"),
    "analysis-optimize" -> Seq("RuleExecutor", "catalyst.optimizer",
      "catalyst.analysis", "QueryPlanningTracker"),
    "codegen" -> Seq("CodeGenerator", "janino", "CodegenContext",
      "compileToClass"),
    "plan-serde" -> Seq("closureSerializer", "JavaSerial",
      "broadcastInternal", "TorrentBroadcast"),
    "dag-scheduler" -> Seq("DAGScheduler", "TaskSchedulerImpl",
      "TaskSetManager", "LocalEndpoint", "resourceOffers"),
    "listener-bus" -> Seq("ListenerBus", "AsyncEventQueue",
      "ExecutionListener"),
    "aqe-driver" -> Seq("AdaptiveSparkPlanExec", "QueryStageExec",
      "ShufflePartitionsUtil"),
    "hadoop-fs" -> Seq("RawLocalFileSystem", "ChecksumFileSystem",
      "FileUtil", "getFileStatus", "globStatus"))

  private def classify(stack: Array[StackTraceElement]): String = {
    val frames = stack.map(e => e.getClassName + "." + e.getMethodName)
    categories.collectFirst {
      case (name, marks) if frames.exists(f => marks.exists(f.contains)) =>
        name
    }.getOrElse("other")
  }

  /** Idle-but-RUNNABLE stack tops (netty epoll waits, the Reference
    * handler, parked pool threads): not driver work.
    */
  private def idleTop(h: StackTraceElement): Boolean = {
    val c = h.getClassName
    c.startsWith("java.net") || c.startsWith("sun.nio") ||
      c.contains("EPoll") || c.contains("epoll") ||
      c == "java.lang.ref.Reference" ||
      (c == "jdk.internal.misc.Unsafe" && h.getMethodName == "park") ||
      (c == "java.lang.Object" && h.getMethodName == "wait")
  }

  /** Samples the RUNNABLE driver threads (executor task workers
    * excluded) every ~2 ms into cost categories and representative
    * frames. Both maps share one lock, and `report` reads them only after
    * `halt` has waited for the thread to end.
    */
  private final class Sampler extends Thread("probe-driver-sampler") {
    setDaemon(true)
    @volatile private var sampling = true
    private val cats = mutable.Map[String, Long]().withDefaultValue(0L)
    private val frames = mutable.Map[String, Long]().withDefaultValue(0L)

    override def run(): Unit = while (sampling) {
      Thread.getAllStackTraces.forEach { (t, st) =>
        if (!t.getName.startsWith("Executor task launch worker") &&
            t != this && t.getState == Thread.State.RUNNABLE &&
            st.nonEmpty && !idleTop(st.head)) {
          val cat = classify(st)
          // representative frame: the first graft/spark/hadoop/parquet one
          val rep = st.find { f =>
            val c = f.getClassName
            c.startsWith("org.apache.spark") || c.startsWith("graft") ||
              c.startsWith("org.apache.hadoop") ||
              c.startsWith("org.apache.parquet")
          }.getOrElse(st.head)
          cats.synchronized {
            cats(cat) += 1
            frames(s"[$cat] ${rep.getClassName}.${rep.getMethodName}") += 1
          }
        }
      }
      Thread.sleep(2)
    }

    def halt(): Unit = {
      sampling = false
      join()
    }

    def report(): Unit = {
      require(!isAlive, "report before halt")
      cats.synchronized {
        val tot = math.max(1L, cats.values.sum)
        println(s"  driver-thread RUNNABLE samples: $tot")
        cats.toSeq.sortBy(-_._2).foreach { case (c, k) =>
          println(f"    $c%-18s $k%6d (${k * 100.0 / tot}%5.1f%%)") }
        println("  top frames:")
        frames.toSeq.sortBy(-_._2).take(24)
          .foreach { case (f, k) => println(f"    $k%6d  $f") }
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("Probe reads SPARK_GRAFT_SF_DIR (a testdata scale-factor dir)"))
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "4").toInt
    val spark = Session.local(Session.defaultCpus,
      args.confs.filterNot(args.arms.contains): _*)

    args.queries.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      def timed(): (Long, Double) = {
        Session.dropCaches(spark)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      // warm run: JIT + codegen cache (once per arm value in ab mode)
      if (args.arms.isEmpty) fn(spark, sfDir).count()
      else args.arms.foreach { case (k, v) =>
        spark.conf.set(k, v)
        fn(spark, sfDir).count()
      }
      args.mode match {
        case "time" =>
          (1 to runs).foreach { i =>
            val (n, sec) = timed()
            println(f"[time] $name run$i $sec%.2fs rows=$n")
          }
        case "ab" =>
          val Seq((key, valA), (_, valB)) = args.arms
          val secs = Map(valA -> mutable.ArrayBuffer[Double](),
                         valB -> mutable.ArrayBuffer[Double]())
          // ABBA ordering: arm order alternates per pair so a systematic
          // position effect (GC debt from the previous run, page-cache
          // state) hits both arms equally
          for (i <- 1 to runs;
               v <- if (i % 2 == 1) Seq(valA, valB) else Seq(valB, valA)) {
            spark.conf.set(key, v)
            val (_, sec) = timed()
            secs(v) += sec
            println(f"[ab] $name pair$i $key=$v $sec%.3f s")
          }
          val Seq((minA, medA), (minB, medB)) =
            Seq(valA, valB).map(v => (secs(v).min, median(secs(v).toSeq)))
          println(f"[ab] RESULT $name $key: A=$valA min=$minA%.3f med=$medA%.3f | " +
            f"B=$valB min=$minB%.3f med=$medB%.3f | minB/minA=${minB / minA}%.3f " +
            f"medB/medA=${medB / medA}%.3f")
        case mode => // jobs, driver
          val sampler = Option.when(mode == "driver")(new Sampler)
          val ((n, wall), m) = QueryMetrics.measure(spark) {
            sampler.foreach(_.start())
            try timed() finally sampler.foreach(_.halt())
          }
          m.reportJobs(name, n, wall)
          sampler.foreach { s =>
            m.reportDriver(wall)
            s.report()
          }
      }
    }
    spark.stop()
  }
}
