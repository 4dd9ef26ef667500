package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{CatalogIO, HadoopFsCatalog, TableRef}
import graft.catalog.CatalogIO.TableLayout

/** SQL writes through the DSv2 catalog: INSERT OVERWRITE / INSERT INTO /
  * CTAS / MERGE INTO / UPDATE / DELETE run as VERSIONED catalog
  * commits — every write ends in `CatalogIO`'s data → metadata → atomic
  * pointer flip, so concurrent readers only ever see complete snapshots
  * and every write extends the time-travel trail (`VERSION AS OF`).
  *
  * Since round 8 the write face is a NATIVE DSv2 `BatchWrite`
  * ([[GraftWrite]]): executors stream rows into staged parquet files and
  * the driver commit turns the staged files into one versioned commit.
  * Semantics are snapshot-native:
  *  - INSERT OVERWRITE (full) → fresh segment; staged files ARE the next
  *    version (the format's natural compaction);
  *  - INSERT OVERWRITE ... PARTITION (...) → MANIFEST-level partition
  *    swap: survivors ∪ staged in the same segment, O(new data);
  *    data-column overwrite conditions take the honest survivor rewrite;
  *  - dynamic partition-overwrite MODE → manifest swap of exactly the
  *    partitions present in the staged files (round 8 — the native
  *    write's executor makes the mode expressible at all);
  *  - INSERT INTO → MANIFEST append: prior-manifest ∪ staged files —
  *    O(new data), never a table rewrite;
  *  - CTAS → an empty v1 carrying the schema, then the SELECT commits v2;
  *  - SQL MERGE INTO / UPDATE / non-pushable DELETE → Spark's own
  *    group-based row-level rewrite (`ReplaceDataExec`) computes the
  *    complete post-operation row set against the snapshot this table
  *    was loaded with, and [[GraftRowLevelOperation]] commits it gated
  *    on that base version (copy-on-write at snapshot granularity);
  *  - pushable DELETE FROM … WHERE → [[GraftWritableTable.deleteWhere]]
  *    (Spark's metadata-delete optimization routes it back here).
  *
  * The recorded physical layout (partition/bucket/sort spec) is applied
  * to every committed version, so a bucketed table stays
  * storage-partitioned-join-ready across writes, and the current
  * snapshot is always re-read with the METADATA-recorded schema (never
  * footer/partition-value inference — a partition value like '007' must
  * stay a string). Writes require a versioning catalog (HadoopFsCatalog);
  * tables served by memory/rest-backed catalogs stay read-only. */
final class GraftWritableTable(read: Table with SupportsRead,
    cat: HadoopFsCatalog, ref: TableRef, layout: TableLayout,
    hadoopOpts: Map[String, String], baseVersion: Option[Int] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with SupportsRowLevelOperations {

  override def name(): String = read.name()
  override def schema(): StructType = read.schema()
  override def properties(): util.Map[String, String] = read.properties()
  override def partitioning(): Array[Transform] = read.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    (read.capabilities().asScala.toSet ++ Set(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    read.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(SparkSession.active, cat, ref, layout, hadoopOpts, info)

  /** SQL MERGE INTO / UPDATE / non-pushable DELETE: hand Spark's
    * group-based rewrite plans a scan of THIS table's pinned snapshot
    * and a [[GraftWrite]] whose commit replaces that snapshot, gated on
    * its version. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    // adopted ORC/avro/mixed tables take COW row-level operations too
    // (round 17 — the r16 append-only stance narrowed): the scan reads
    // every format, the rewrite output is engine parquet, and the
    // replace commit keeps each survivor entry's format (adopted
    // layouts record no partition columns, so the replace set is the
    // whole table and the result comes out homogeneous parquet).
    () => new GraftRowLevelOperation(read, SparkSession.active, cat, ref,
      layout, hadoopOpts, baseVersion, info.command)
  }

  /** `DELETE FROM … WHERE <cond>`, metadata-only tier (round 9). Spark's
    * metadata-delete optimization routes a condition here only when
    * `canDeleteWhere` accepts it, and this format accepts exactly the
    * conditions it can resolve WITHOUT touching data:
    *
    *  - PARTITION-COLUMN conditions on a manifest table drop whole files
    *    from the manifest ([[CatalogIO.commitManifestFilter]]) — dropping
    *    a partition from a 100 TB table is one JSON write;
    *  - pre-manifest (legacy directory-snapshot) tables accept any
    *    translatable condition and pay the honest survivor rewrite (the
    *    round-7 behavior — such tables have no manifest to filter).
    *
    * Everything else is REFUSED here so Spark plans the group-based
    * row-level rewrite instead ([[newRowLevelOperationBuilder]]), which
    * replaces only the files the delete's scan planned — strictly less
    * work than the full-snapshot rewrite this path used to take. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val pset = layout.partitionColumns.map(_.toLowerCase).toSet
    // reference-free conjuncts are only resolvable when literal (the
    // AlwaysTrue of TRUNCATE TABLE / SupportsDelete.truncateTable())
    def manifestResolvable(f: Filter): Boolean = f match {
      case _: sources.AlwaysTrue | _: sources.AlwaysFalse => true
      case _ => f.references.nonEmpty &&
        f.references.forall(r => pset(r.toLowerCase))
    }
    filters.forall(GraftWriteSupport.translatable) &&
      (layout.dataFiles.isEmpty || filters.forall(manifestResolvable))
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    if (layout.dataFiles.isDefined) {
      // manifest table + partition-only condition: metadata-only file
      // drop. Survivors are evaluated against the BASE version's manifest
      // and the commit is gated on it — a rival append in between fails
      // this delete instead of having its fresh files silently dropped.
      val base = cat.listTableVersions(ref).lastOption
      val prior = CatalogIO.readLayout(
        base.map(cat.metadataLocationForVersion(ref, _))
          .getOrElse(cat.loadTableMetadataLocation(ref)),
        GraftWriteSupport.confWith(hadoopOpts))
      val keep = GraftBatchWrite.survivingPartitionFiles(spark, ref, prior,
        prior.partitionColumns, filters)
      CatalogIO.commitManifestFilter(cat, ref, expectedBase = base, keepFile = keep)
    } else {
      val keep = GraftWriteSupport.keepPredicate(ref, filters)
      val (cur, base) = GraftWriteSupport.currentSnapshot(spark, cat, ref, hadoopOpts)
      cur.foreach { rows =>
        CatalogIO.commitVersion(spark, cat, ref, rows.filter(keep),
          partitionBy = layout.partitionColumns,
          bucketBy = layout.numBuckets.map(n => (n, layout.bucketColumns)),
          sortBy = layout.sortColumns,
          expectedBase = base)
      }
    }
  }
}

/** One SQL statement's write mode, resolved by Spark calling the
  * capability-specific mutators, then `build()` → the native
  * [[GraftWrite]]. Full `INSERT OVERWRITE` arrives as `truncate()`
  * (Spark folds an AlwaysTrue overwrite condition), `PARTITION (...)` /
  * `overwrite(cond)` as `overwrite(filters)`, and dynamic
  * partition-overwrite mode as `overwriteDynamicPartitions()`. */
private final class GraftWriteBuilder(spark: SparkSession,
    cat: HadoopFsCatalog, ref: TableRef, layout: TableLayout,
    hadoopOpts: Map[String, String], info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate with SupportsOverwrite
  with SupportsDynamicOverwrite {
  import GraftBatchWrite._

  private var mode: Mode = Append

  override def truncate(): WriteBuilder = { mode = Truncate; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode = ByFilter(filters); this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = DynamicOverwrite; this
  }

  override def build(): Write =
    new GraftWrite(spark, cat, ref, layout, hadoopOpts, info.schema(), mode)
}

/** Shared machinery of the snapshot-deriving write paths (overwrite-by-
  * filter, DELETE FROM): read the current snapshot anchored to its
  * version, and turn pushed filter conjunctions into survivor
  * predicates. */
private[sources] object GraftWriteSupport {

  /** A fresh Hadoop Configuration with the catalog's option overlay. */
  def confWith(hadoopOpts: Map[String, String]): Configuration = {
    val c = new Configuration()
    hadoopOpts.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Current committed rows (read with the METADATA-recorded schema and
    * the catalog's Hadoop-conf overlay) plus the version they came from —
    * the base the derived commit is validated against. Rows are None when
    * the snapshot predates schema recording AND holds no parquet files
    * (the one case inference could neither serve nor skip). */
  def currentSnapshot(spark: SparkSession, cat: HadoopFsCatalog, ref: TableRef,
      hadoopOpts: Map[String, String]): (Option[DataFrame], Option[Int]) = {
    val conf = new Configuration()
    hadoopOpts.foreach { case (k, v) => conf.set(k, v) }
    // resolve version FIRST, then read that version's metadata — reading
    // the pointer here could observe a snapshot newer than the base we
    // report, un-anchoring the conflict check
    val base = cat.listTableVersions(ref).lastOption
    val metaLoc = base.map(cat.metadataLocationForVersion(ref, _))
      .getOrElse(cat.loadTableMetadataLocation(ref))
    val cur = CatalogIO.readLayout(metaLoc, conf)
    val rows = (cur.schemaDdl, cur.absoluteDataFiles) match {
      case (Some(_), _) =>
        // schema-recorded metadata routes through the shared layout scan:
        // empty snapshots serve schema-only, manifest versions scan their
        // exact file lists, and — load-bearing for every snapshot-deriving
        // write — live equality-delete files are APPLIED, so a COW rewrite
        // derived from this snapshot can never resurrect deleted rows
        Some(CatalogIO.scanLayoutWithOptions(spark, cur, hadoopOpts))
      case (None, _) =>
        // legacy pre-schema metadata is always manifest-less: scan the dir
        val loc = new org.apache.hadoop.fs.Path(cur.dataLocation)
        val fs = loc.getFileSystem(conf)
        def hasParquet(p: org.apache.hadoop.fs.Path): Boolean =
          fs.exists(p) && fs.listStatus(p).exists { st =>
            (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
              (st.isDirectory && hasParquet(st.getPath))
          }
        if (hasParquet(loc)) Some(spark.read.options(hadoopOpts).parquet(cur.dataLocation))
        else None
    }
    (rows, base)
  }

  /** Survivors of a pushed delete condition. The filter array is a
    * CONJUNCTION (Spark splits the condition into conjuncts), and
    * SupportsOverwrite/SupportsDelete remove rows matching ALL of them —
    * so survivors are ¬(f1 ∧ f2 ∧ …), NOT ∧¬fi. Null-safed: a row where
    * the conjunction is unknown (NULL) does not match the delete
    * condition and must be kept. */
  def keepPredicate(ref: TableRef, filters: Array[Filter]): Column = {
    val del = filters.map(filterToColumn(ref, _))
      .reduceOption(_ && _).getOrElse(lit(true))
    !coalesce(del, lit(false))
  }

  def translatable(f: Filter): Boolean =
    try { filterToColumn(TableRef.parse("probe"), f); true }
    catch { case _: UnsupportedOperationException => false }

  /** V1 source filters (what SupportsOverwrite/SupportsDelete carry) →
    * Column predicates. Partition-pruning filters are simple; anything
    * beyond this set is rejected loudly rather than guessed. */
  def filterToColumn(ref: TableRef, f: Filter): Column = f match {
    case sources.EqualTo(a, v) => col(a) === lit(v)
    case sources.EqualNullSafe(a, v) => col(a) <=> lit(v)
    case sources.In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case sources.IsNull(a) => col(a).isNull
    case sources.IsNotNull(a) => col(a).isNotNull
    case sources.GreaterThan(a, v) => col(a) > lit(v)
    case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case sources.LessThan(a, v) => col(a) < lit(v)
    case sources.LessThanOrEqual(a, v) => col(a) <= lit(v)
    case sources.StringStartsWith(a, v) => col(a).startsWith(v)
    case sources.StringEndsWith(a, v) => col(a).endsWith(v)
    case sources.StringContains(a, v) => col(a).contains(v)
    case sources.And(l, r) => filterToColumn(ref, l) && filterToColumn(ref, r)
    case sources.Or(l, r) => filterToColumn(ref, l) || filterToColumn(ref, r)
    case sources.Not(c) => !filterToColumn(ref, c)
    case sources.AlwaysTrue() => lit(true)
    case sources.AlwaysFalse() => lit(false)
    case other => throw new UnsupportedOperationException(
      s"Unsupported pushed filter on $ref: $other")
  }
}
