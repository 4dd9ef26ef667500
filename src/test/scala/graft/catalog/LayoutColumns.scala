package graft.catalog

import graft.catalog.CatalogIO.TableLayout
import graft.catalog.LayoutCodec.ManifestFieldTokens

/** Per-file columns of a layout's entries for assertions: each is
  * `Some(one value per data file)` when the version records the field,
  * `None` when it does not. */
object LayoutColumns {
  implicit final class Columns(private val l: TableLayout) extends AnyVal {
    private def recorded[T](token: String)(f: CatalogIO.DataFile => T): Option[Seq[T]] =
      if (l.entryFields(token)) l.dataFiles.map(_.map(f)) else None
    def dataFileSeqs: Option[Seq[Int]] = recorded(ManifestFieldTokens.Seqs)(_.seq)
    def dataFileStats: Option[Seq[String]] = recorded(ManifestFieldTokens.Stats)(_.stats)
    def dataFileSizes: Option[Seq[Long]] = recorded(ManifestFieldTokens.Sizes)(_.size)
    def dataFileNdv: Option[Seq[String]] = recorded(ManifestFieldTokens.Ndv)(_.ndv)
    def dataFileFormats: Option[Seq[String]] =
      if (l.dataFormat == "mixed") l.dataFiles.map(_.map(_.format)) else None
    def dataFileFills: Option[Seq[Seq[(String, Any)]]] =
      if (l.hasFills) l.dataFiles.map(_.map(_.fills)) else None
  }
}
