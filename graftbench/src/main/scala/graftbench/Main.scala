package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftExtensions, Tables}

/** Row counts, file sizes and seeded ids the generator recorded. */
final class Facts(dir: String) {
  private val root = new ObjectMapper().readTree(Paths.get(dir, "facts.json").toFile)
  def rows(t: String): Long = root.get("tables").get(t).get("rows").asLong
  def bytes(t: String): Long = root.get("tables").get(t).get("bytes").asLong
  def ids(name: String): Seq[Long] = root.get(name).elements.asScala.map(_.asLong).toSeq
  def long(name: String): Long = root.get(name).asLong
}

/** The benchmark's JVM side: one closed-loop client thread driving
  * graft's layer functions on a local[4] session.
  *
  * Set-up establishes the workload's stores and then runs one untimed
  * warm-up pass. The timed loop then runs whole passes until `--seconds`
  * have elapsed, so every run measures whole copies of the same job mix. Every job's
  * output, warm-up included, is reduced to a row count and an
  * order-independent hash outside the timing; results, oracle rows and
  * (with `--trace 1`) the per-layer summary are written as JSON lines to
  * `--out` for the runner to check and report.
  */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val work = args("work")
    val out = Paths.get(args("out"))

    val t0 = System.nanoTime()
    val settings = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps per-job/stage/task records even with the UI
      // off; bounded small so the retained heap does not depend on how far
      // its periodic cleanup has got
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "100")
      // flush policy, fixed: output commit algorithm v2 (task output lands
      // in place at task commit), as graft.Bench runs it
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    if (traced) settings.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = settings.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.registerAll(spark)
    val sessionSecs = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(spark, traced)
    val facts = new Facts(data)
    val ctx = new Ctx(spark, data, work, trace, facts)
    val w = Workloads(workload, ctx, seed)
    val h = new Harness(spark, trace, w, out)

    def secs(body: => Unit): Double = {
      val s0 = System.nanoTime(); body; (System.nanoTime() - s0) / 1e9
    }
    val establishSecs = secs(w.establish())
    val warmSecs = secs(h.runPass(0, timed = false))

    // timed loop: whole passes until the run length is reached. A traced
    // run traces every second pass and runs at least three, so its traced
    // pass sits between two untraced ones and the overhead it states is
    // not the drift of a still-warming JVM.
    val minPasses = if (traced) 3 else 1
    val start = System.nanoTime()
    var p = 1
    while (p <= minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      trace.enabled = traced && p % 2 == 0
      h.runPass(p, timed = true)
      trace.enabled = false
      p += 1
    }
    val passes = p - 1
    val wall = (System.nanoTime() - start) / 1e9

    val meta = mutable.LinkedHashMap[String, Any](
      "type" -> "meta", "workload" -> workload, "seed" -> seed,
      "session_s" -> sessionSecs, "establish_s" -> establishSecs,
      "warm_s" -> warmSecs,
      "timed_wall_s" -> wall, "passes" -> passes, "cores" -> Cores,
      "peak_heap_mb" -> h.peakHeapMb, "space_amp" -> h.spaceAmp(w.stores))
    if (traced) {
      trace.drain()
      val tracedPasses = passes / 2
      val tj = h.timedJobs.filter(_.traced)
      val layer = trace.summary(tracedPasses, Cores, tj.map(_.rows).sum,
                                tj.filter(_.write).map(_.inBytes).sum,
                                tj.count(_.write))
      val overhead = h.tracingOverheadPct
      val refreshJobs = trace.sparkJobsIn("dedup", "CorpusRefresh.refresh")
      val refreshCompiles = trace.compilesIn("refresh")
      meta("layers") = (layer ++ Map(
        "jvm.heap_after_gc_mb" -> h.peakHeapMb,
        "trace.overhead_pct" -> overhead)).asJava
      meta("self_check") = Map[String, Any](
        "spark_jobs_per_refresh" -> refreshJobs.map(_.toDouble).asJava,
        "compiles_per_refresh" -> refreshCompiles.asJava).asJava
      trace.dump(out.resolveSibling("spans.jsonl"))
    }
    h.emit(meta)
    h.close()
    spark.stop()
  }
}

/** Runs jobs, times them, checks and records their outputs. */
final class Harness(spark: SparkSession, trace: Trace, w: Workload, out: Path) {
  private val json = new ObjectMapper()
  private val writer = Files.newBufferedWriter(out, UTF_8)
  private val seen = mutable.HashMap.empty[String, (Long, String)]
  private var jobSeq = 0
  var peakHeapMb = 0.0

  case class Rec(key: String, write: Boolean, secs: Double, inBytes: Long,
                       rows: Long, traced: Boolean)
  val timedJobs = mutable.ArrayBuffer.empty[Rec]

  def emit(m: collection.Map[String, Any]): Unit = {
    writer.write(json.writeValueAsString(m.asJava))
    writer.newLine()
  }
  def close(): Unit = writer.close()

  /** Heap still reachable after caches are dropped and two full
    * collections, the second after the ContextCleaner has had time to
    * release the blocks of collected broadcasts and checkpoints.
    */
  private def liveHeapMb(): Double = {
    dropCaches()
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def dropCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def runPass(p: Int, timed: Boolean): Unit = {
    w.beforePass()
    w.pass.foreach(j => runJob(j, p, timed))
    // peak live heap, sampled between passes outside the timing
    if (timed) peakHeapMb = peakHeapMb.max(liveHeapMb())
  }

  private def runJob(j: Job, p: Int, timed: Boolean): Unit = {
    dropCaches()
    val traced = trace.enabled
    val t0 = System.nanoTime()
    val attempt = scala.util.Try {
      trace.job(j.key.takeWhile(_ != '/')) {
        j.run().map(df => trace.span("action", "collect")((df.collect(), df.schema)))
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val rec = mutable.LinkedHashMap[String, Any](
      "type" -> "job", "seq" -> jobSeq, "pass" -> p, "timed" -> timed,
      "key" -> j.key, "kind" -> (if (j.write) "write" else "read"),
      "secs" -> secs, "in_rows" -> j.inRows, "in_bytes" -> j.inBytes)
    jobSeq += 1
    // every pass replays the same jobs on the same state, so the warm-up
    // pass's outputs pin the timed passes'
    val checked = attempt.flatMap { res =>
      scala.util.Try {
        j.check match {
          case Some(c) => val df = c(); (df.collect(), df.schema)
          case None => res.getOrElse((Array.empty[Row], new StructType()))
        }
      }
    }
    var nRows = 0L
    checked match {
      case scala.util.Failure(e) =>
        rec("ok") = false
        rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      case scala.util.Success((rows, schema)) =>
        val (n, hash) = Harness.digest(rows, schema)
        nRows = n
        rec("rows") = n
        rec("hash") = hash
        val err = j.verify(rows).orElse(seen.get(j.key) match {
          case Some(prev) if prev != ((n, hash)) =>
            Some(s"output differs from an earlier run of the same job: $prev vs ${(n, hash)}")
          case _ => None
        })
        rec("ok") = err.isEmpty
        err.foreach(e => rec("error") = e)
        if (!seen.contains(j.key)) {
          seen(j.key) = (n, hash)
          j.oracle.foreach { sql =>
            emit(mutable.LinkedHashMap[String, Any](
              "type" -> "oracle", "key" -> j.key, "sql" -> sql,
              "cols" -> schema.fieldNames.toSeq.asJava,
              "rows" -> rows.map(r => Harness.jsonRow(r)).toSeq.asJava))
          }
        }
    }
    emit(rec)
    if (timed) timedJobs += Rec(j.key, j.write, secs, j.inBytes, nRows, traced)
  }

  /** Median per-job slowdown of traced against untraced timed runs of the
    * same job, in percent.
    */
  def tracingOverheadPct: Double = {
    def med(xs: Seq[Double]) = {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    val byKey = timedJobs.groupBy(_.key)
    val ratios = byKey.values.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(med(t.map(_.secs).toSeq) / med(u.map(_.secs).toSeq))
    }.toSeq
    if (ratios.isEmpty) 0.0 else (med(ratios) - 1.0) * 100
  }

  /** On-disk bytes of the stores over the bytes of the same datasets
    * rewritten once, compactly (one parquet file per dataset, by the same
    * writer). A dataset is a directory holding parquet files or a
    * _SUCCESS marker.
    */
  def spaceAmp(roots: Seq[String]): Double = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
      else if (f.exists) f.length else 0L
    def datasets(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles).toSeq.flatten
      if (kids.exists(k => k.getName == "_SUCCESS" || k.getName.endsWith(".parquet") && k.isFile))
        Seq(f)
      else kids.filter(k => k.isDirectory && !k.getName.startsWith("_") &&
                            !k.getName.startsWith(".")).flatMap(datasets)
    }
    val onDisk = roots.map(r => du(new java.io.File(r))).sum
    val tmp = Files.createTempDirectory(out.getParent, "compact")
    val compact = roots.flatMap(r => datasets(new java.io.File(r))).zipWithIndex.map {
      case (d, i) =>
        val dst = tmp.resolve(s"d$i").toString
        spark.read.parquet(d.getPath).coalesce(1).write.parquet(dst)
        Option(new java.io.File(dst).listFiles).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }.sum
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    onDisk.toDouble / compact.max(1L)
  }
}

object Harness {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Canonical text of one value: doubles to 9 significant digits, so a
    * summation-order ulp cannot change a hash.
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
    case d: java.sql.Date => d.toLocalDate.toString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString

  /** Row count and an order-independent hash (columns by name, rows sorted). */
  def digest(rows: Array[Row], schema: StructType): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def jsonRow(r: Row): java.util.List[Any] = r.toSeq.map(jsonValue).asJava
  private def jsonValue(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case f: Float => jsonValue(f.toDouble)
    case b: java.math.BigDecimal => b.doubleValue
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
    case d: java.sql.Date => d.toLocalDate.toString
    case s: scala.collection.Seq[_] => s.map(jsonValue).asJava
    case r: Row => jsonRow(r)
    case x: java.lang.Number => x
    case x: java.lang.Boolean => x
    case x => x.toString
  }
}
