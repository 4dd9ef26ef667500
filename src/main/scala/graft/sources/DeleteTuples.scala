package graft.sources

import scala.collection.immutable.ArraySeq

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.orc.{OrcFileFormat, OrcUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.catalog.CatalogIO

/** One equality-delete file's key tuples: `cols` in the file's column
  * order, `types` the key types they were cast to, `tuples` the
  * normalized catalyst values ([[MorScan.normalize]]) probes compare. */
private[graft] final class DeleteTuples(val cols: Vector[String],
    val types: Vector[DataType], val tuples: Set[ArraySeq[Any]])

/** The driver-side equality-delete decoder every merge-on-read reader
  * shares ([[GraftMorTable]], [[GraftAvroMorTable]], the lineage scan).
  *
  * A delete file is read through Spark's own parquet/ORC file-format
  * reader, called directly on the driver — no Spark job — with the
  * schema Spark infers from its footer, and each column is cast to the
  * requested key type through Spark's `Cast`: the values are the ones
  * `spark.read … .cast(…).collect()` yields, without its two jobs per
  * file. Delete files are write-once, so decodes are cached per JVM,
  * keyed by qualified path, file length and key types, holding at most
  * `spark.graft.mor.maxDeleteTuples` tuples (least recently used files
  * are evicted first). */
private[graft] object DeleteTuples {

  val ThresholdKey = "spark.graft.mor.maxDeleteTuples"

  /** The equality-tuple (and per-file address) threshold past which
    * merge-on-read scans degrade, default 4,000,000. `0` is valid: it
    * sends every live equality delete down the degrade path. */
  def threshold(spark: SparkSession): Long =
    spark.conf.getOption(ThresholdKey).fold(4000000L) { v =>
      v.trim.toLongOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(
          s"$ThresholdKey must be a non-negative whole number of tuples, got '$v'"))
    }

  /** Do the delete files' footer row counts exceed the threshold? */
  def overflows(paths: Seq[String], conf: Configuration): Boolean =
    paths.nonEmpty && paths.distinct.map(CatalogIO.DeleteFileFooters.countOf(_, conf))
      .sum > threshold(SparkSession.active)

  private type Key = (String, Long, Vector[DataType])
  // access-ordered: iteration starts at the least recently used file
  private val cache = new java.util.LinkedHashMap[Key, DeleteTuples](16, 0.75f, true)
  private var cachedTuples = 0L

  /** The tuples of the delete file at `path`, each column cast to
    * `keyType(column)`. */
  def of(path: String, keyType: String => DataType,
      conf: Configuration): DeleteTuples = {
    val spark = SparkSession.active
    val status = new Path(path).getFileSystem(conf).getFileStatus(new Path(path))
    val cols = CatalogIO.DeleteFileFooters.of(path, conf)._1
    val key = (status.getPath.toString, status.getLen, cols.map(keyType))
    cache.synchronized(Option(cache.get(key))).getOrElse {
      val t = decode(spark, status, CatalogIO.FileFormatSniff.of(path, conf),
        cols, key._3, conf)
      val bound = threshold(spark)
      cache.synchronized {
        if (t.tuples.size <= bound && cache.put(key, t) == null) {
          cachedTuples += t.tuples.size
          val it = cache.values.iterator
          while (cachedTuples > bound) {
            cachedTuples -= it.next().tuples.size
            it.remove()
          }
        }
      }
      t
    }
  }

  private def decode(spark: SparkSession, status: FileStatus, format: String,
      cols: Vector[String], types: Vector[DataType],
      conf: Configuration): DeleteTuples = {
    val sqlConf = spark.sessionState.conf
    val schema: StructType =
      if (format == "orc")
        OrcUtils.readSchema(spark, Seq(status), Map.empty[String, String]).getOrElse(
          throw new IllegalStateException(s"ORC delete file ${status.getPath} has no schema"))
      else {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf))
        try ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(status.getPath, r.getFooter),
          new ParquetToSparkSchemaConverter(sqlConf))
        finally r.close()
      }
    val read = (if (format == "orc") new OrcFileFormat else new ParquetFileFormat)
      .buildReaderWithPartitionValues(spark, schema, new StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), new Configuration(conf))
    // per key column: its value in the read row, cast to the key type
    val values: Vector[InternalRow => Any] = cols.zip(types).map { case (c, to) =>
      val i = schema.fieldIndex(c)
      val from = schema(i).dataType
      if (from == to) (r: InternalRow) =>
        if (r.isNullAt(i)) null else InternalRow.copyValue(r.get(i, from))
      else {
        val cast = Cast(BoundReference(i, from, nullable = true), to,
          Some(sqlConf.sessionLocalTimeZone))
        (r: InternalRow) => cast.eval(r)
      }
    }
    val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(status.getPath),
      0L, status.getLen, Array.empty, status.getModificationTime, status.getLen)
    val tuples = read(file).map(r => ArraySeq.from(values.map(v => MorScan.normalize(v(r) match {
      case b: Array[Byte] => b.clone() // the reader may reuse its buffers
      case other => other
    })))).toSet[ArraySeq[Any]]
    new DeleteTuples(cols, types, tuples)
  }
}
