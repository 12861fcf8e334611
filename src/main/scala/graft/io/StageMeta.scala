package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage lineage + metrics (SURVEY.md §1.2 T9): one row per output
  * partition file with row/byte counts, plus the input fingerprint the
  * stage was computed from. Powers exact resume: a stage is reusable iff
  * it is complete (_SUCCESS) AND its recorded fingerprint equals the
  * fingerprint recomputed from the current upstream chain + config.
  *
  * The table is read with its declared [[MetaRow]] schema (no inference
  * job), and a staged run reads it once, at start ([[lastFingerprints]]).
  */
object StageMeta {

  val StageMetaDir = "stage_meta"

  final case class MetaRow(
      run_id: String,
      stage: String,
      partition_file: String,
      // None when the per-file split is unknown (observed-count mode records
      // only the `_total` row) — a NULL instead of a -1 sentinel, so naive
      // `sum(rows)` per stage stays correct in every mode
      rows: Option[Long],
      bytes: Long,
      input_fingerprint: String,
      wall_ms: Long,
      ts: java.sql.Timestamp)

  /** Record lineage for a stage that was just written to `catalog`.
    *
    * Row counts: pass `totalRows` observed DURING the write job (see
    * [[observedWrite]]) — re-reading a checkpointed stage just to count it
    * would double the I/O of every stage at corpus scale. When `totalRows`
    * is negative (small/test callers), fall back to the honest read-back
    * per-file counts. Byte sizes always come from the file system (free).
    */
  def record(
      spark: SparkSession,
      catalog: ParquetCatalog,
      runId: String,
      stage: String,
      fingerprint: String,
      wallMs: Long,
      totalRows: Long = -1L): Unit = {
    import spark.implicits._
    val loc = catalog.location(stage)
    val p = new Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(f => f.getPath.getName.endsWith(".parquet"))
    val perFile: Map[String, Long] =
      if (files.isEmpty || totalRows >= 0) Map.empty
      else ParquetCatalog.readParquet(spark, loc)
        .groupBy(input_file_name().as("partition_file"))
        .agg(count(lit(1)).as("rows"))
        .as[(String, Long)].collect().toMap
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val rowsOut0 = files.toSeq.map { f =>
      // with observed totals the per-file row split is unknown (NULL); bytes
      // stay per-file from the FS
      val rows =
        if (totalRows >= 0) None
        else Some(perFile.collect { case (k, v) if k.endsWith(f.getPath.getName) => v }.sum)
      MetaRow(runId, stage, f.getPath.getName, rows, f.getLen, fingerprint, wallMs, now)
    }
    val totalRow =
      if (totalRows >= 0)
        Seq(MetaRow(runId, stage, "_total", Some(totalRows),
          files.map(_.getLen).sum, fingerprint, wallMs, now))
      else Nil
    // An empty stage table (e.g. stop_bands with no hot groups) may write
    // zero part files — still record one lineage row so resume bookkeeping
    // can see the stage/fingerprint.
    val rowsOut =
      if (rowsOut0.nonEmpty || totalRow.nonEmpty) rowsOut0 ++ totalRow
      else Seq(MetaRow(runId, stage, "_empty", Some(0L), 0L, fingerprint, wallMs, now))
    val metaDf = spark.createDataFrame(rowsOut)
    metaDf.write.mode("append").parquet(s"${catalog.location(StageMetaDir)}")
  }

  private val MetaSchema = Encoders.product[MetaRow].schema

  def read(spark: SparkSession, catalog: ParquetCatalog): DataFrame =
    spark.read.schema(MetaSchema).parquet(catalog.location(StageMetaDir))
      // workdirs written before the Option[rows] convention carry -1
      // sentinels for "per-file split unknown"; normalize so naive
      // sum(rows)-per-stage consumers stay correct on resumed legacy dirs
      .withColumn("rows", when(col("rows") === -1L, lit(null)).otherwise(col("rows")))

  /** Newest recorded fingerprint per stage, in one Spark job (none when no
    * stage_meta exists). The lineage rows are few — one per part file per
    * computed stage — so they are reduced on the driver rather than through
    * a shuffle.
    */
  def lastFingerprints(spark: SparkSession, catalog: ParquetCatalog): Map[String, String] = {
    val p = new Path(catalog.location(StageMetaDir))
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Map.empty
    else read(spark, catalog).select("stage", "input_fingerprint", "ts").collect()
      .groupBy(_.getString(0))
      .map { case (stage, rows) => stage -> rows.maxBy(_.getTimestamp(2).getTime).getString(1) }
  }
}
