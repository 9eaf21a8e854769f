package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Central loader for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under the scale-factor dir passed by the
  * driver to every `SparkEntry.queries` entry.
  * `read` is the engine's one parquet read path.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Conf key letting Spark 4 read TIMESTAMP(NANOS) parquet as long.
    * `graft.Session.local` sets it at construction; `load` only
    * check-before-sets as a fallback for sessions built elsewhere, so it
    * stays effectively read-only (no repeated conf mutation, no race
    * when queries share a session).
    */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Read a parquet file or directory: `spark.read.parquet(path)`
    * without its schema-inference job. Spark infers a parquet schema from
    * the first data file in path order (or a `_common_metadata`/`_metadata`
    * summary) through `mergeSchemasInParallel`, a one-task Spark job
    * (60-115 ms per read on a 4-vCPU host, where the read with a known
    * schema takes 5-13 ms). Here the driver lists the path, reads that
    * same file's footer and converts it with Spark's own footer-to-schema
    * rules (the Spark-row metadata key, nanos-as-long, TIMESTAMP_NTZ
    * inference follow the session conf), so the schema is the file's own
    * and nothing is cached. Hive partition columns (`day=`, `band=`,
    * `epoch=`, `v=`) are still inferred from the directory names by the
    * read.
    *
    * A missing path (a glob is one: no file has its literal name), a
    * directory without a data file and one holding summary files go to
    * Spark's inference unchanged, so the errors (PATH_NOT_FOUND,
    * UNABLE_TO_INFER_SCHEMA) stay Spark's.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession,
                           path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName):
    // `_`/`.` names are hidden unless they hold `=` or are summaries
    def summary(n: String) =
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    def hidden(n: String) =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) && !summary(n)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val files =
      try leaves(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (files.exists(f => summary(f.getPath.getName))) None
    else files.minByOption(_.getPath.toString).map { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Load one testdata table.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS) (FIXTURES.md §B), which Spark 4
    * rejects outright (PARQUET_TYPE_ILLEGAL). We read nanos as a long via
    * the legacy conf and convert to a µs TimestampType column ourselves —
    * same truncation DuckDB's µs arithmetic applies, so oracle-comparable
    * at second/hour/month granularity (never output raw ts, SURVEY §7.4).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (spark.conf.getOption(NanosConf).forall(_ != "true"))
      spark.conf.set(NanosConf, "true")
    val df = read(spark, s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      // Integral arithmetic: ns/1000 through a double would round (ns
      // epoch values exceed the 53-bit mantissa) and can cross a µs/ms
      // boundary. FLOOR semantics need one more step: `div` truncates
      // toward zero, which rounds pre-epoch nanos the wrong way
      // (-500 ns div 1000 = 0 µs, floor = -1 µs — a one-unit bucket
      // shift vs DuckDB's calendar arithmetic over native ns).
      // Subtracting pmod (always non-negative) first makes the operand
      // an exact multiple, so the division IS the floor — exact in
      // long arithmetic for the full range.
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      // tz-less parquet µs timestamps read as TIMESTAMP_NTZ under Spark
      // 4's inferTimestampNTZ default; normalize to TimestampType (the
      // session TZ is pinned UTC, so the cast reinterprets the same
      // wall-clock DuckDB's naive µs arithmetic sees) — watermarks and
      // every window/bucket op require the LTZ type.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }
}
