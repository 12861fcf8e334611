package graft.io

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Stage-table storage behind a thin trait (SURVEY.md §2 rows 1–2).
  *
  * Production target is Iceberg ([[IcebergCatalog]], DSv2 `writeTo`); this
  * sandbox ships no Iceberg jars, so [[ParquetCatalog]] is the local
  * implementation with the same atomic-replace semantics (write to a temp
  * dir, rename over). Both are exercised through the same call sites in
  * [[graft.Dedup]]. A write returns the rows it wrote ([[Counted]]).
  */
trait TableCatalog {
  def write(df: DataFrame, stage: String): Long
  def read(spark: SparkSession, stage: String): DataFrame
  def exists(spark: SparkSession, stage: String): Boolean
  def location(stage: String): String
}

/** Local/posix implementation over a root directory, one subdir per stage.
  * Parquet + overwrite gives the checkpoint/replace semantics; `_SUCCESS`
  * marks completeness (a killed write leaves no marker → stage recomputes).
  * Reads go through [[ParquetCatalog.readParquet]], so a read-back costs no
  * Spark job.
  */
final class ParquetCatalog(root: String) extends TableCatalog {
  override def location(stage: String): String = s"$root/$stage"

  override def write(df: DataFrame, stage: String): Long = Counted.write(df, location(stage))

  override def read(spark: SparkSession, stage: String): DataFrame =
    ParquetCatalog.readParquet(spark, location(stage))

  override def exists(spark: SparkSession, stage: String): Boolean = {
    val p = new Path(location(stage), "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

object ParquetCatalog {

  /** Footer key under which Spark stores the row schema (as JSON) in every
    * parquet file it writes.
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read.parquet(path)` without its schema-inference job.
    *
    * Plain `spark.read.parquet` infers the schema by reading a footer in a
    * Spark job, and a staged resume paid one such job per stage read-back.
    * Every engine-written table already carries its Spark schema in
    * each file's footer, so this reads that footer on the driver from one
    * data file and passes it as the read schema: same columns, same
    * partition-column discovery (`batch=<id>` directories), no job.
    *
    * Data files are found the way Spark lists them: names starting with
    * `_` or `.` (`_SUCCESS`, `_temporary/`, checksum files) are skipped.
    * When no data file or no Spark schema key is found, this is plain
    * `spark.read.parquet(path)`, so an empty or missing table raises the
    * error Spark raises.
    *
    * @param footerFrom directories to take the footer from, first one with
    *        a data file wins; empty means `path` itself. A reader that
    *        restricts its rows to some partitions passes those, so the
    *        schema never comes from a file the read excludes.
    */
  def readParquet(spark: SparkSession, path: String, footerFrom: Seq[String] = Nil): DataFrame =
    (if (footerFrom.isEmpty) Seq(path) else footerFrom).iterator
      .flatMap(footerSchema(spark, _)).nextOption() match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    // an unreadable footer (empty or foreign file) falls back to inference,
    // which reports it the way Spark does
    Try {
      firstDataFile(fs, p).flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        finally reader.close()
      }.map(DataType.fromJson(_).asInstanceOf[StructType])
    }.toOption.flatten
  }

  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] =
    if (!fs.exists(p)) None
    else {
      val (dirs, files) = fs.listStatus(p)
        .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
        .sortBy(_.getPath.getName)
        .partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
    }
}

/** A frame with a row-count [[Observation]] attached: [[rows]] is the
  * number of rows that passed through [[frame]] in the action that ran it,
  * counted inside that action's own job. [[Counted.write]] is the one way
  * the engines write a table (`Dedup.run`'s stages, `IncrementalDedup`'s
  * state partitions and compaction bases): every lineage row records the
  * count its write observed, and a count a batch needs rides the write
  * that produces the rows, never a follow-up job over what was written.
  */
final class Counted private (df: DataFrame) {
  private val obs = Observation()
  val frame: DataFrame = df.observe(obs, count(lit(1)).as("rows"))

  /** Blocks until an action over a plan holding [[frame]] has finished.
    * When the optimizer proved [[frame]] empty and dropped it from the
    * executed plan (AQE does so when a join's other side is empty), the
    * observation completes without the metric: that is zero rows.
    */
  def rows: Long = obs.get.get("rows").fold(0L)(_.asInstanceOf[Long])
}

object Counted {
  def apply(df: DataFrame): Counted = new Counted(df)

  /** Overwrite the parquet directory `path` with `df`; returns the rows
    * written.
    */
  def write(df: DataFrame, path: String): Long = {
    val c = Counted(df)
    c.frame.write.mode("overwrite").parquet(path)
    c.rows
  }
}

/** Documented production implementation: Iceberg tables under a configured
  * catalog (`spark.sql.catalog.<name>` = org.apache.iceberg.spark.SparkCatalog).
  * Uses only the public DSv2 API, so it compiles without Iceberg on the
  * classpath; it requires the catalog at runtime (not available in this
  * sandbox — see SURVEY.md §7.4 item 5).
  */
final class IcebergCatalog(catalogAndDb: String) extends TableCatalog {
  override def location(stage: String): String = s"$catalogAndDb.$stage"

  override def write(df: DataFrame, stage: String): Long = {
    // createOrReplace = atomic snapshot swap in Iceberg; partitioning is
    // carried by the existing table spec (bucket(doc_id) / lang in prod).
    val c = Counted(df)
    c.frame.writeTo(location(stage)).createOrReplace()
    c.rows
  }

  override def read(spark: SparkSession, stage: String): DataFrame =
    spark.read.table(location(stage))

  override def exists(spark: SparkSession, stage: String): Boolean =
    spark.catalog.tableExists(location(stage))
}
