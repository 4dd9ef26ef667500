package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileTable
import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.CatalogIO.TableLayout

/** Which DSv2 table serves a layout — decided in ONE place for every
  * read face: the SQL catalog ([[GraftSparkCatalog.loadTable]], current
  * version and time travel) and the library DataFrame face
  * ([[graft.catalog.CatalogIO.scanLayoutWithOptions]], through
  * [[MorTableProvider.loadDataFrame]]). Each face keeps only its own
  * plain fallback and its own wrappers. */
object LayoutTables {

  /** The special reader `layout` needs, or None when a plain file table
    * serves it. The order is load-bearing:
    *
    *  1. uuid columns with live deletes, or without fills — the
    *     string-serving conversion seam (uuid + deletes plans its MOR
    *     wrap inside the seam over the physical schema and injects fill
    *     constants below the probes; uuid + fills without deletes rides
    *     the fill route, which wraps each group in the seam);
    *  1. live delete files (merge-on-read) — before fills, because the
    *     MOR wrappers inject fill constants below their probes. Renames
    *     come first inside it (one MOR wrapper per rename epoch; the
    *     plain mixed/avro MOR routes would mis-serve names), then the
    *     per-format-group mixed composite, the counting-read avro MOR,
    *     and the direct wrap of the manifest-planned parquet/ORC base.
    *     MOR takes precedence over SPJ bucket reporting: correctness
    *     over the shuffle-free join, until compaction restores it;
    *  1. per-file constant fills (identity partition values /
    *     initial-defaults), mixed parquet+orc included — layout
    *     invariants keep fills away from renames;
    *  1. un-materialized column renames — per-epoch scans serve old
    *     files under their physical names, ahead of the format routes
    *     (avro and mixed epochs ride the per-epoch format dispatch);
    *  1. mixed parquet/orc/avro files — one stock reader stack per
    *     format group, concatenated in one scan;
    *  1. avro files — the engine's own sync-split avro source. */
  def reader(spark: SparkSession, name: String, layout: TableLayout,
      hadoopOpts: Map[String, String]): Option[Table with SupportsRead] =
    if (layout.uuidColumns.nonEmpty &&
        (layout.deleteFiles.nonEmpty || !layout.hasFills))
      Some(new GraftUuidTable(spark, name, layout, hadoopOpts))
    else if (layout.deleteFiles.nonEmpty)
      Some(
        if (layout.renameOps.nonEmpty)
          new GraftEpochMorTable(spark, name, layout, hadoopOpts)
        else if (layout.dataFormat == "mixed")
          new GraftMixedFormatTable(spark, name, layout, hadoopOpts)
        else if (layout.dataFormat == "avro")
          new GraftAvroMorTable(spark, name, layout, hadoopOpts)
        else
          new GraftMorTable(manifestPlanned(spark,
            baseTableFor(spark, name, layout, hadoopOpts), layout,
            hadoopOpts), layout, hadoopOpts))
    else if (layout.hasFills)
      Some(new GraftFillTable(spark, name, layout, hadoopOpts))
    else if (layout.renameOps.nonEmpty &&
        (!layout.dataFiles.contains(Nil) || layout.dataFormat == "avro" ||
          layout.dataFormat == "mixed"))
      Some(new GraftEpochTable(spark, name, layout, hadoopOpts))
    else if (layout.dataFormat == "mixed")
      Some(new GraftMixedFormatTable(spark, name, layout, hadoopOpts))
    else if (layout.dataFormat == "avro")
      Some(new GraftAvroTable(spark, name, layout, hadoopOpts))
    else None

  /** Spark's stock listing-backed table for `layout`, dispatched on the
    * layout's data-file format: parquet for every engine-written table,
    * ORC for converted Iceberg ORC tables. `hadoopOpts` reach the scan
    * through FileTable's per-table Hadoop conf; the metadata-recorded
    * schema (when present) skips footer inference. */
  def baseTableFor(spark: SparkSession, name: String, layout: TableLayout,
      hadoopOpts: Map[String, String]): FileTable = {
    val (paths, pathOpts) = tablePaths(layout)
    val opts = new CaseInsensitiveStringMap((hadoopOpts ++ pathOpts).asJava)
    val schema = layout.schemaDdl.map(StructType.fromDDL)
    layout.dataFormat match {
      case "orc" => OrcTable(name, spark, opts, paths, schema,
        fallbackFileFormat = classOf[OrcFileFormat])
      case _ => ParquetTable(name, spark, opts, paths, schema,
        fallbackFileFormat = classOf[ParquetFileFormat])
    }
  }

  /** Scan roots for a layout: manifest versions scan exactly their
    * recorded files (file-level snapshot isolation — several versions
    * share one segment tree) with `basePath` anchoring partition
    * discovery to the segment tree; pre-manifest versions scan the
    * directory. Shared by the DSv2 base table and the library face's
    * plain V1 read. */
  private[graft] def tablePaths(layout: TableLayout): (Seq[String], Map[String, String]) =
    layout.absoluteDataFiles match {
      case Some(Nil) => (Nil, Map.empty)
      case Some(files) => (files,
        if (layout.suppressBasePath) Map.empty[String, String]
        else Map("basePath" -> layout.dataLocation))
      case None => (Seq(layout.dataLocation), Map.empty)
    }

  /** The manifest-planned twin of `table` when the layout carries
    * complete per-file sizes (ZERO driver filesystem calls on data
    * files at plan time, see [[ManifestFileIndex]];
    * `spark.graft.manifest.planning=false` is the kill-switch back to
    * Spark's listing-based table), else the listing-backed table
    * unchanged. */
  def manifestPlanned(spark: SparkSession, table: FileTable,
      layout: TableLayout,
      hadoopOpts: Map[String, String]): Table with SupportsRead = {
    val enabled = spark.conf
      .getOption("spark.graft.manifest.planning").forall(_ == "true")
    if (!enabled) table
    else ManifestFileIndex.tableFor(table.name, spark, hadoopOpts, layout)
      .getOrElse(table)
  }
}
