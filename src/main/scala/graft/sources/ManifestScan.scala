package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{PartitioningAwareFileIndex, PartitioningUtils, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.orc.OrcScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.CatalogIO

/** Scan planning served ENTIRELY from the manifest (round 11): a
  * [[PartitioningAwareFileIndex]] whose file statuses are synthesized
  * from the manifest's (path, size) entries — zero driver-side
  * `getFileStatus`/`listStatus` calls on data files at plan time.
  *
  * Spark's stock DSv2 path (`ParquetTable` → `InMemoryFileIndex`)
  * re-stats every path it is handed: handing it a manifest's file list
  * costs O(files) serial object-store HEADs per query PLANNING — at
  * 100 TB that is millions of RPCs before the first task is scheduled
  * (the reference's Iceberg jars plan from manifest `file_size_in_bytes`
  * for exactly this reason). With sizes recorded at commit
  * ([[CatalogIO.DataFile.size]]), split planning
  * (`FilePartition` packing), partition pruning (values parsed from the
  * manifest's relative paths), and size statistics all answer from
  * metadata already in driver memory. Reading is 100% stock — the same
  * `ParquetScanBuilder`/`ParquetScan` machinery plans against this
  * index, so filter pushdown, column pruning, vectorized reading and
  * the [[StatsPrunedTable]] wrapper compose unchanged.
  */
final class ManifestFileIndex(
    session: SparkSession,
    dataLocation: String,
    entries: Seq[(String, Long)], // (segment-relative path, size >= 0)
    partitionSchemaOf: StructType,
    hadoopOpts: Map[String, String] = Map.empty)
  extends PartitioningAwareFileIndex(
    session, Map("basePath" -> dataLocation), None) {

  // ONE filesystem-client resolution for the root (no RPC — qualification
  // is syntactic), so every path matches what Spark's own listing would
  // have produced and partition-dir keys line up across the index. The
  // catalog's hadoop.* overlay participates (fs.defaultFS etc.), exactly
  // as FileTable merges options into its conf — a scheme-less warehouse
  // must qualify against the SAME filesystem on every plane
  private val qualifiedRoot: Path = {
    val p = new Path(dataLocation)
    p.getFileSystem(session.sessionState.newHadoopConfWithOptions(hadoopOpts))
      .makeQualified(p)
  }

  override def rootPaths: Seq[Path] = Seq(qualifiedRoot)

  override def refresh(): Unit = () // manifests are immutable

  /** Synthesized statuses: length from the manifest, mtime 0 (commit
    * time lives in table history, not here), a nominal block size.
    * CONSTRAINT: no DSv2 table in this repo implements
    * SupportsMetadataColumns, so the zero mtime is unobservable. If
    * `_metadata.file_modification_time` (or mtime-keyed caching) is
    * ever exposed, record the commit timestamp in the manifest first —
    * otherwise manifest-planned and listing-planned scans silently
    * diverge on that column. */
  override val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    entries.foreach { case (rel, size) =>
      val p = new Path(qualifiedRoot, rel)
      m(p) = new FileStatus(size, false, 1, 128L << 20, 0L, p)
    }
    m
  }

  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    leafFiles.values.toSeq.groupBy(_.getPath.getParent)
      .view.mapValues(_.toArray).toMap

  /** The manifest is an EXACT file list — serve it regardless of
    * nesting. The inherited implementation special-cases unpartitioned
    * tables to "children of the root directory", which silently drops
    * entries living one level deeper (a real Iceberg layout: root is
    * the TABLE dir, files under `data/`); native flat layouts never hit
    * the difference. */
  override def allFiles(): Seq[FileStatus] = leafFiles.values.toSeq

  /** Partition directories parsed from the manifest's OWN relative
    * paths: `g=0/x=a/part-*.parquet` under recorded partition columns
    * [g, x] yields typed values via the same Hive-path conventions
    * Spark's own discovery uses (escaping, `__HIVE_DEFAULT_PARTITION__`
    * → null) — types come from the table schema, never re-inferred. */
  override def partitionSpec(): PartitionSpec = memoizedSpec
  @transient private lazy val memoizedSpec: PartitionSpec = {
    if (partitionSchemaOf.isEmpty) PartitionSpec.emptySpec
    else {
      val zone = java.time.ZoneId.of(session.sessionState.conf.sessionLocalTimeZone)
      val dirs = leafDirToChildrenFiles.keys.toSeq.sortBy(_.toString)
      val parts = dirs.map { dir =>
        // relative fragment of this partition dir under the root
        val rel = qualifiedRoot.toUri.relativize(dir.toUri).getPath
        val byName = PartitioningUtils.parsePathFragmentAsSeq(rel).toMap
        val values = partitionSchemaOf.fields.map { f =>
          val raw = byName.getOrElse(f.name, throw new IllegalStateException(
            s"Manifest path '$rel' carries no value for partition column " +
              s"'${f.name}' of $dataLocation — manifest and layout disagree"))
          PartitioningUtils.castPartValueToDesiredType(f.dataType, raw, zone)
        }
        PartitionPath(InternalRow.fromSeq(values.toIndexedSeq), dir)
      }
      PartitionSpec(partitionSchemaOf, parts)
    }
  }
}

object ManifestFileIndex {

  /** Build the manifest-planned table for `layout` when the manifest
    * carries everything planning needs: a recorded schema, an exact file
    * list, and a COMPLETE size per entry. Partition columns must all be
    * present in the schema. Returns None when any ingredient is missing —
    * callers fall back to the stock listing-based table.
    *
    * `schemaOverride` substitutes the served schema (the rename-epoch
    * path's physical names — positions and types identical);
    * `fileSubset` restricts the index to the given segment-relative
    * files (one epoch's slice). Policy — the size-completeness gate and
    * the partition-column guard — lives HERE alone. */
  def tableFor(name: String, session: SparkSession,
      options: Map[String, String],
      layout: CatalogIO.TableLayout,
      schemaOverride: Option[StructType] = None,
      fileSubset: Option[Seq[String]] = None,
      formatOverride: Option[String] = None): Option[ManifestFileTable] =
    for {
      schema <- schemaOverride.orElse(layout.schemaDdl.flatMap(d =>
        scala.util.Try(StructType.fromDDL(d)).toOption))
      allSized <- layout.dataFiles.filter(_ => layout.sizesComplete)
        .map(_.map(f => (f.path, f.size)))
      sized = fileSubset.fold(allSized) { keep =>
        val keepSet = keep.toSet
        allSized.filter { case (f, _) => keepSet(f) }
      }
      partitionFields = layout.partitionColumns.flatMap(c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)))
      if partitionFields.size == layout.partitionColumns.size
    } yield new ManifestFileTable(name, session,
      new CaseInsensitiveStringMap(options.asJava), layout.dataLocation,
      sized, schema, StructType(partitionFields), options,
      formatOverride.getOrElse(layout.dataFormat))
}

/** A read-only file table planned from the manifest: serves the same
  * `ParquetScanBuilder`/`OrcScanBuilder` as Spark's own file tables,
  * but over a [[ManifestFileIndex]] instead of a listing-backed
  * `InMemoryFileIndex`. `format` is the layout's homogeneous data-file
  * format (parquet for every engine-written table; orc for converted
  * Iceberg ORC tables). Schema shape mirrors `FileTable`: data columns
  * (nullable-forced, as files may omit values) followed by the
  * partition columns. */
final class ManifestFileTable(
    tableName: String,
    session: SparkSession,
    options: CaseInsensitiveStringMap,
    dataLocation: String,
    entries: Seq[(String, Long)],
    recordedSchema: StructType,
    partitionSchemaOf: StructType,
    hadoopOpts: Map[String, String] = Map.empty,
    format: String = "parquet") extends Table with SupportsRead {

  private val partitionNames =
    partitionSchemaOf.fieldNames.map(_.toLowerCase).toSet

  // deep nullable-forcing, mirroring FileTable's (private[spark])
  // StructType.asNullable: files may legitimately omit values
  private def forceNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = forceNullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = forceNullable(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = forceNullable(m.valueType), valueContainsNull = true)
      case other => other
    }

  /** Physical file columns — the recorded schema minus partition
    * columns, nullable like FileTable's dataSchema. */
  val dataSchema: StructType = forceNullable(StructType(recordedSchema.fields
    .filterNot(f => partitionNames(f.name.toLowerCase))))
    .asInstanceOf[StructType]

  lazy val fileIndex: ManifestFileIndex =
    new ManifestFileIndex(session, dataLocation, entries, partitionSchemaOf,
      hadoopOpts)

  override def name(): String = tableName
  override val schema: StructType =
    StructType(dataSchema.fields ++ partitionSchemaOf.fields)
  // identity transforms, exactly as FileTable derives from its file
  // index — INSERT OVERWRITE PARTITION validation resolves against this
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionSchemaOf.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.identity)
  override def properties(): util.Map[String, String] =
    util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava)
    format match {
      case "orc" => OrcScanBuilder(session, fileIndex, schema, dataSchema, merged)
      case _ => ParquetScanBuilder(session, fileIndex, schema, dataSchema, merged)
    }
  }
}
