package perfbench

import scala.util.Try

/** Trace-only probes of program internals, reached by reflection so that a
  * refactor of them degrades these per-layer metrics to 0 instead of
  * breaking the benchmark's build. */
object Internals {
  private def module(cls: String): Option[AnyRef] =
    Try(Class.forName(cls + "$").getField("MODULE$").get(null)).toOption

  private def call(target: AnyRef, name: String, args: AnyRef*): Option[AnyRef] =
    Try(target.getClass.getMethods.find(m => m.getName == name &&
      m.getParameterCount == args.size).get.invoke(target, args: _*)).toOption

  private def size(v: Option[AnyRef]): Int = v match {
    case Some(Some(xs: Iterable[_])) => xs.size
    case Some(xs: Iterable[_]) => xs.size
    case _ => 0
  }

  /** Live data files per `CatalogIO.readLayout` of a metadata file. */
  def dataFiles(metadataLocation: String): Int =
    module("graft.catalog.CatalogIO").flatMap(io => call(io, "readLayout", metadataLocation,
      new org.apache.hadoop.conf.Configuration())) match {
      case Some(layout) => size(call(layout, "dataFiles"))
      case None => 0
    }

  /** `StatsPruning.lastPlanned`: (files skipped, files total) of the last scan. */
  def lastPlanned(): Option[(Int, Int)] =
    module("graft.sources.StatsPruning").flatMap(call(_, "lastPlanned")) match {
      case Some(Some((a: Int, b: Int))) => Some((a, b))
      case _ => None
    }
}
