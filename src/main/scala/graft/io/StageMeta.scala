package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage lineage + metrics (SURVEY.md §1.2 T9): one row per output
  * part file with its byte count and one `_total` row with the stage's
  * observed row count, each with the input fingerprint the stage was
  * computed from. Powers exact resume: a stage is reusable iff
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
      // None when the per-file split is unknown (the observed count lands
      // on the `_total` row only) — a NULL instead of a -1 sentinel, so
      // naive `sum(rows)` per stage stays correct
      rows: Option[Long],
      bytes: Long,
      input_fingerprint: String,
      wall_ms: Long,
      ts: java.sql.Timestamp)

  /** The one lineage writer of both engines: appends `rows` to the
    * stage_meta table at `metaDir`. Each engine builds its own rows and
    * appends them once per stage, batch or compaction, as soon as that
    * unit is written, so a killed run leaves every finished unit's lineage.
    */
  def append(spark: SparkSession, metaDir: String, rows: Seq[MetaRow]): Unit =
    if (rows.nonEmpty) spark.createDataFrame(rows).write.mode("append").parquet(metaDir)

  /** Lineage rows of a stage that was just written to `catalog`:
    * `totalRows` is the count its write observed ([[Counted.write]]) —
    * re-reading a checkpointed stage just to count it would double the I/O
    * of every stage at corpus scale. It lands on the `_total` row; the one
    * row per part file carries the file's bytes (from the FS, free) and a
    * NULL row count, since the per-file split is not observed.
    */
  def stageRows(
      spark: SparkSession,
      catalog: ParquetCatalog,
      runId: String,
      stage: String,
      fingerprint: String,
      wallMs: Long,
      totalRows: Long): Seq[MetaRow] = {
    val p = new Path(catalog.location(stage))
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    files.map { f =>
      MetaRow(runId, stage, f.getPath.getName, None, f.getLen, fingerprint, wallMs, now)
    } :+ MetaRow(runId, stage, "_total", Some(totalRows), files.map(_.getLen).sum,
      fingerprint, wallMs, now)
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
