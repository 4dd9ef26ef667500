package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{Catalog, CatalogIO, FileStats, Namespace, SupportsTableVersions, TableRef}

/** Iceberg-style metadata tables through the DSv2 catalog (round 10):
  * when `cat.db.t` is a real table, `cat.db.t.files` and
  * `cat.db.t.history` resolve to driver-local introspection tables —
  * the operational UX a table format needs at scale (what files does
  * the current snapshot hold, what stats do they carry, what commits
  * built this table), answered from the metadata JSON alone (one small
  * file read; never a data-file open or a task). A REAL table named
  * `files`/`history` under `db.t` always shadows these: the metadata
  * face only resolves where table resolution already failed.
  *
  *  - `files`: one row per CURRENT-manifest data file — segment-relative
  *    path, size, manifest-entry seq, row count and per-column
  *    null-count/bounds summary from the recorded stats ("" when the
  *    file carries none).
  *  - `history`: one row per committed version — version number,
  *    metadata location, commit time (metadata-file mtime), data/delete
  *    file counts, and the segment location, oldest first. Serves any
  *    catalog with [[graft.catalog.SupportsTableVersions]].
  */
object MetadataTables {

  private val FilesSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("seq", IntegerType, nullable = false),
    StructField("row_count", LongType, nullable = true),
    StructField("stats", StringType, nullable = false)))

  private val PartitionsSchema = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("data_files", IntegerType, nullable = false),
    StructField("row_count", LongType, nullable = true),
    StructField("size_bytes", LongType, nullable = true)))

  private val HistorySchema = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("committed_at", TimestampType, nullable = true),
    StructField("data_files", IntegerType, nullable = true),
    StructField("delete_files", IntegerType, nullable = false),
    StructField("data_location", StringType, nullable = false),
    StructField("metadata_location", StringType, nullable = false),
    // the operation that produced the version (round 11 commitOp —
    // append/create/overwrite/delete/replace/metadata; null on
    // pre-marker versions)
    StructField("operation", StringType, nullable = true)))

  /** The metadata table for `ident`, when its name is a metadata suffix
    * and the namespace prefix resolves to a real table. */
  def resolve(cat: Catalog, ident: Identifier,
      conf: Configuration): Option[Table] = {
    if (ident.namespace.length < 1) return None
    val kind = ident.name.toLowerCase
    if (kind != "files" && kind != "history" && kind != "partitions") return None
    val base = TableRef(Namespace(ident.namespace.dropRight(1).toVector),
      ident.namespace.last)
    // ANY failure to resolve the base table means "no metadata table
    // here" — single-level catalogs (Hive) throw IllegalArgument for
    // the deep namespace, others NoSuchNamespace; the caller surfaces
    // its own table-not-found either way
    val metaLoc =
      try cat.loadTableMetadataLocation(base)
      catch { case scala.util.control.NonFatal(_) => return None }
    kind match {
      case "files" => Some(filesTable(base, metaLoc, conf))
      case "partitions" => Some(partitionsTable(base, metaLoc, conf))
      case _ => historyTable(cat, base, conf)
    }
  }


  /** One row per partition directory of the current manifest —
    * file/row/byte totals, rolled up from the manifest entries, their
    * recorded stats and recorded sizes (no data read, no filesystem
    * listing; unpartitioned tables report one `<all>` row). Row counts
    * (byte totals) go null when any of the partition's files lacks
    * stats (a recorded size). */
  private def partitionsTable(base: TableRef, metaLoc: String,
      conf: Configuration): Table = {
    val layout = CatalogIO.readLayout(metaLoc, conf)
    val schema = layout.schemaDdl.flatMap(d =>
      scala.util.Try(StructType.fromDDL(d)).toOption)
    val files = layout.manifestFiles(s"Table $base", "reading the partitions table")
    def partitionOf(rel: String): String = {
      val cut = rel.lastIndexOf('/')
      if (cut < 0) "<all>" else rel.substring(0, cut)
    }
    // sizes purely from the metadata (round 11): pre-size manifests
    // read -1 per entry — NO filesystem fallback: a million-file
    // table's "zero data read" introspection query must never become a
    // million-entry object-store listing. One `INSERT INTO`/compaction
    // upgrades the manifest.
    val rows = files
      .groupBy(f => partitionOf(f.path))
      .toSeq.sortBy(_._1)
      .map { case (part, entries) =>
        val rowCounts = entries.map(f =>
          schema.flatMap(sc => FileStats.decode(f.stats, sc)).map(_.rowCount))
        val bytes = entries.map(f => if (f.size >= 0) Some(f.size) else None)
        InternalRow(UTF8String.fromString(part), entries.size,
          (if (rowCounts.forall(_.isDefined))
            Long.box(rowCounts.flatten.sum) else null): Any,
          (if (bytes.forall(_.isDefined))
            Long.box(bytes.flatten.sum) else null): Any)
      }
    new StaticRowsTable(s"$base.partitions", PartitionsSchema, rows.toArray)
  }

  private def filesTable(base: TableRef, metaLoc: String,
      conf: Configuration): Table = {
    val layout = CatalogIO.readLayout(metaLoc, conf)
    val schema = layout.schemaDdl.flatMap(d =>
      scala.util.Try(StructType.fromDDL(d)).toOption)
    val files = layout.manifestFiles(s"Table $base", "reading the files table")
    val rows = files.map { case CatalogIO.DataFile(f, seq, st, size, _, _, _, _) =>
      val decoded = schema.flatMap(sc => FileStats.decode(st, sc))
      val summary = decoded.map { d =>
        d.cols.toSeq.sortBy(_._1).map { case (n, c) =>
          s"$n[${c.min.getOrElse("?")}..${c.max.getOrElse("?")} " +
            s"nulls=${c.nullCount.map(_.toString).getOrElse("?")}]"
        }.mkString(" ")
      }.getOrElse("")
      InternalRow(UTF8String.fromString(f), size, seq,
        decoded.map(_.rowCount).map(Long.box).orNull,
        UTF8String.fromString(summary))
    }
    new StaticRowsTable(s"$base.files", FilesSchema, rows.toArray)
  }

  private def historyTable(cat: Catalog, base: TableRef,
      conf: Configuration): Option[Table] = cat match {
    case v: SupportsTableVersions =>
      val rows = v.listTableVersions(base).map { n =>
        val loc = v.metadataLocationForVersion(base, n)
        val layout = CatalogIO.readLayout(loc, conf)
        val p = new Path(loc)
        val mtimeMicros = scala.util.Try(
          p.getFileSystem(conf).getFileStatus(p).getModificationTime * 1000L)
          .toOption
        InternalRow(n, mtimeMicros.map(Long.box).orNull,
          layout.dataFiles.map(f => Int.box(f.size)).orNull,
          layout.deleteFiles.size,
          UTF8String.fromString(layout.dataLocation),
          UTF8String.fromString(loc),
          layout.commitOp.map(UTF8String.fromString).orNull)
      }
      Some(new StaticRowsTable(s"$base.history", HistorySchema, rows.toArray))
    case _ => None // no version history to serve
  }
}

/** A read-only table of driver-local rows, scanned as a [[LocalScan]]
  * (plans as LocalTableScan — no tasks). */
final class StaticRowsTable(tableName: String, tableSchema: StructType,
    tableRows: Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] =
    util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = tableRows
        override def readSchema(): StructType = tableSchema
        override def description(): String = s"GraftMetadataTable $tableName"
      }
    }
}
