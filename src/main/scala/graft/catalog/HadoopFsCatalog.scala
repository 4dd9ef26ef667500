package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Warehouse-directory catalog over any Hadoop FileSystem (file://, hdfs://,
  * s3a://…). Namespaces are directories; a table is a directory holding a
  * `pointer.text` whose single line is the current metadata-file location.
  *
  * Semantics mirror the reference's Hadoop catalog quirks (SURVEY §1.1):
  * implicit namespaces (a parent exists once a child dir exists), the empty
  * namespace is loadable but not listable (HadoopCatalogMigratorTest
  * .java:51-57), and dropping a table removes its directory — which is why
  * a Hadoop source cannot be the delete side of a migration
  * ([[dropDestroysData]]; reference guard CatalogMigrator.java:75-78).
  *
  * Pointer commits are write-temp + atomic rename, the same recipe as
  * version-hint commits in Hadoop-style table formats.
  */
final class HadoopFsCatalog(val name: String, warehouse: String,
    hadoopConf: Map[String, String] = Map.empty)
  extends Catalog with SupportsTableVersions {

  @transient private lazy val conf = {
    val c = new Configuration()
    hadoopConf.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val root = new Path(warehouse)
  @transient private lazy val fs: FileSystem = root.getFileSystem(conf)

  private def nsPath(ns: Namespace): Path =
    ns.levels.foldLeft(root)((p, l) => new Path(p, l))
  private def tablePath(ref: TableRef): Path =
    new Path(nsPath(ref.namespace), ref.name)
  private def pointerPath(tableDir: Path): Path = new Path(tableDir, "pointer.text")
  // A directory is a table if it has a pointer — or, mid-crash of a
  // pointer replacement (window between delete and rename), a local
  // metadata history to fall back on. The || short-circuits, so the
  // normal path pays no extra FS call.
  private def isTableDir(p: Path): Boolean =
    fs.exists(pointerPath(p)) || metadataFallback(p).isDefined

  private val VersionFileRe = """v(\d+)\.metadata\.json""".r

  /** (version, path) entries of a table directory's own metadata history,
    * ascending. Empty for tables registered with an external metadata
    * location (migrations) — their history lives with the source. */
  private def localMetadataVersions(tableDir: Path): Seq[(Int, Path)] = {
    val md = new Path(tableDir, "metadata")
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionFileRe(n) => Some((n.toInt, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** The pointer-less fallback, applicable ONLY to the mid-flip window of
    * a version commit on an already-committed table — which always has
    * ≥ 2 metadata versions (the committed v1 plus the in-flight vN). A
    * lone v1 with no pointer is an ABORTED createTable (crash between
    * metadata write and pointer commit): treating that as a table would
    * auto-publish a creation whose creator observed a failure, so it
    * stays invisible and the creator's retry can proceed. */
  private def metadataFallback(tableDir: Path): Option[Path] = {
    val vs = localMetadataVersions(tableDir)
    if (vs.size >= 2) Some(vs.last._2) else None
  }

  override def listNamespaces(parent: Namespace): Seq[Namespace] = {
    val p = nsPath(parent)
    if (!fs.exists(p) || (!parent.isEmpty && isTableDir(p)))
      throw new NoSuchNamespaceException(s"Namespace does not exist: $parent")
    if (!fs.getFileStatus(p).isDirectory) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => parent.child(st.getPath.getName))
      .sortBy(_.toString)
  }

  override def namespaceExists(ns: Namespace): Boolean = {
    val p = nsPath(ns)
    !ns.isEmpty && fs.exists(p) && fs.getFileStatus(p).isDirectory && !isTableDir(p)
  }

  override def createNamespace(ns: Namespace): Unit = {
    if (ns.isEmpty)
      throw new IllegalArgumentException(s"Cannot create empty namespace in catalog $name")
    val p = nsPath(ns)
    if (fs.exists(p))
      throw new AlreadyExistsException(s"Namespace already exists: $ns")
    fs.mkdirs(p)
  }

  override def listTables(ns: Namespace): Seq[TableRef] = {
    if (ns.isEmpty) return Seq.empty // root tables loadable, never listed
    val p = nsPath(ns)
    if (!fs.exists(p) || isTableDir(p))
      throw new NoSuchNamespaceException(s"Namespace does not exist: $ns")
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => TableRef(ns, st.getPath.getName))
      .sortBy(_.toString)
  }

  override def tableExists(ref: TableRef): Boolean = isTableDir(tablePath(ref))

  override def loadTableMetadataLocation(ref: TableRef): String = {
    val dir = tablePath(ref)
    val ptr = pointerPath(dir)
    // exists→open is its own race against [[replaceTablePointer]]'s
    // delete→rename window (a streaming poll caught it): a pointer that
    // vanishes between the check and the read is the SAME transient
    // state as exists=false — fall into the ride-through below.
    val direct =
      if (!fs.exists(ptr)) None
      else try Some(readText(ptr).trim)
      catch { case _: java.io.FileNotFoundException => None }
    direct.getOrElse(metadataFallback(dir) match {
      // A writer crashed between pointer delete and rename: roll forward
      // to the newest metadata version. CatalogIO.commitVersion orders
      // data → metadata → pointer, so whatever version file is newest is
      // complete (its data and metadata are fully written; only the
      // pointer flip could be pending). Self-heal the pointer
      // best-effort; a racing heal loses the create and that's fine —
      // the next read sees the winner's pointer.
      case Some(latest) =>
        try commitPointer(dir, latest.toString) catch { case _: Exception => () }
        latest.toString
      case None =>
        // REGISTERED tables have no local history to roll forward to,
        // and [[replaceTablePointer]]'s delete→rename window leaves the
        // directory pointer-less for a moment (filesystems without
        // overwrite-rename). A directory that EXISTS but carries neither
        // pointer nor history is that window's signature — re-check
        // briefly before declaring the table missing (round-16 review:
        // a streaming source's poll racing a re-registration saw a
        // spurious NoSuchTableException). A genuinely absent table has
        // no directory and throws immediately.
        var waited = 0L
        var healed: Option[String] = None
        while (healed.isEmpty && waited < 2000L && fs.exists(dir)) {
          Thread.sleep(25L); waited += 25
          if (fs.exists(ptr))
            // the same exists→open window as above: a vanished pointer
            // just means the flip is still in flight — keep waiting
            try healed = Some(readText(ptr).trim)
            catch { case _: java.io.FileNotFoundException => () }
          else metadataFallback(dir).foreach { latest =>
            try commitPointer(dir, latest.toString) catch { case _: Exception => () }
            healed = Some(latest.toString)
          }
        }
        healed.getOrElse(
          throw new NoSuchTableException(s"Table does not exist: $ref"))
    })
  }

  override def registerTable(ref: TableRef, metadataLocation: String): Unit = {
    val dir = tablePath(ref)
    // guard on the POINTER, not isTableDir's metadata fallback:
    // CatalogIO.createTable writes v1.metadata.json before this pointer
    // commit, so the fallback would see its own half-created table.
    // Racing registrations still lose at commitPointer's exclusive rename.
    if (fs.exists(pointerPath(dir)))
      throw new AlreadyExistsException(s"Table already exists: $ref")
    fs.mkdirs(dir)
    commitPointer(dir, metadataLocation)
  }

  override def dropTable(ref: TableRef): Boolean = {
    val dir = tablePath(ref)
    if (!isTableDir(dir)) false
    else fs.delete(dir, true)
  }

  override def dropDestroysData: Boolean = true

  /** Advance an EXISTING table's pointer to a new metadata location — the
    * commit step of a new table version (CatalogIO.commitVersion's final
    * flip). Hadoop rename does not replace an existing destination, so
    * the old pointer is dropped first and the new one renamed into
    * place; a reader in the delete→rename window falls back to the
    * newest local metadata version (see [[loadTableMetadataLocation]]),
    * so a crash there loses nothing. A failed rename is diagnosed by
    * destination state: pointer present ⇒ a concurrent committer won the
    * flip; pointer absent ⇒ an I/O failure, distinct error. */
  private[graft] def replaceTablePointer(ref: TableRef,
      metadataLocation: String): Unit = {
    val dir = tablePath(ref)
    if (!isTableDir(dir))
      throw new NoSuchTableException(s"Table does not exist: $ref")
    val tmp = new Path(dir, s".pointer-${java.util.UUID.randomUUID()}.tmp")
    writeText(tmp, metadataLocation + "\n")
    fs.delete(pointerPath(dir), false)
    if (!fs.rename(tmp, pointerPath(dir))) {
      fs.delete(tmp, false)
      if (fs.exists(pointerPath(dir))) {
        // A reader's self-heal can win the create inside our
        // delete→rename window — pointing at OUR metadata (roll-forward
        // reads the newest version, which is the one we just wrote).
        // That pointer state is exactly the one we were committing, so
        // the commit succeeded; only a pointer at someone else's
        // metadata is a genuine concurrent commit.
        val current = try Some(readText(pointerPath(dir)).trim)
                      catch { case _: Exception => None }
        if (current.contains(metadataLocation)) return
        throw new AlreadyExistsException(
          s"Concurrent pointer commit detected for ${pointerPath(dir)}")
      } else
        throw new java.io.IOException(
          s"Pointer rename failed for ${pointerPath(dir)} (not a concurrent commit)")
    }
  }

  // ----- SupportsTableVersions -----

  override def listTableVersions(ref: TableRef): Seq[Int] = {
    val dir = tablePath(ref)
    if (!isTableDir(dir))
      throw new NoSuchTableException(s"Table does not exist: $ref")
    localMetadataVersions(dir).map(_._1)
  }

  override def metadataLocationForVersion(ref: TableRef, version: Int): String =
    localMetadataVersions(tablePath(ref)).collectFirst {
      case (v, p) if v == version => p.toString
    }.getOrElse(throw new NoSuchTableException(
      s"Table $ref has no version $version (history: ${listTableVersions(ref).mkString(", ")})"))

  private[catalog] def latestTableVersion(ref: TableRef): Option[Int] =
    localMetadataVersions(tablePath(ref)).lastOption.map(_._1)

  /** Atomic pointer commit: temp file + rename (no partial pointers). */
  private def commitPointer(tableDir: Path, metadataLocation: String): Unit = {
    val tmp = new Path(tableDir, s".pointer-${java.util.UUID.randomUUID()}.tmp")
    writeText(tmp, metadataLocation + "\n")
    if (!fs.rename(tmp, pointerPath(tableDir))) {
      fs.delete(tmp, false)
      throw new AlreadyExistsException(
        s"Concurrent pointer commit detected for ${pointerPath(tableDir)}")
    }
  }

  private[catalog] def writeText(p: Path, text: String): Unit = {
    val out = fs.create(p, false)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Create-exclusive write where the destination is NEVER observable
    * half-written: full write to a same-directory temp, then an atomic
    * no-replace publish — existence ⇒ completeness, with the losing
    * racer still failing (the concurrency gate [[graft.catalog
    * .CatalogIO]]'s version commits rely on). Metadata commits need
    * this: the pointer-missing roll-forward reads the NEWEST version
    * file, so an in-place `create` that is still streaming bytes would
    * be read truncated by a concurrent committer. On file:// the
    * publish is a hard link (`link(2)` is atomic AND fails on an
    * existing destination, unlike POSIX rename which silently
    * replaces); elsewhere Hadoop rename (no-overwrite on HDFS). The
    * temp is nio-written on file:// so no ChecksumFileSystem `.crc`
    * sidecar is created for a file that will be link-published. */
  private[catalog] def writeTextExclusiveAtomic(p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    if (fs.getScheme == "file") {
      val src = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.createDirectories(src.getParent)
      java.nio.file.Files.write(src, text.getBytes(StandardCharsets.UTF_8))
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(p.toUri.getPath), src)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"Destination exists: $p (${e.getMessage})")
      } finally java.nio.file.Files.deleteIfExists(src)
    } else {
      writeText(tmp, text)
      if (fs.exists(p) || !fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        if (fs.exists(p))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"Destination exists: $p")
        throw new java.io.IOException(s"Atomic publish failed for $p")
      }
    }
  }

  private[catalog] def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private[catalog] def warehousePath: Path = root
  private[catalog] def fileSystem: FileSystem = fs
  private[graft] def tableDir(ref: TableRef): Path = tablePath(ref)
}
