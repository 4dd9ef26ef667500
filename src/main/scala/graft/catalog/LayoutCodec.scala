package graft.catalog

import com.fasterxml.jackson.core.{JsonProcessingException, StreamReadFeature}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.Path

import graft.catalog.CatalogIO.{ChunkIndex, DeleteFile, DeleteKinds,
  ManifestChunk, RenameOp, TableLayout, decodeFills, encodeFills}

/** The engine's native version-metadata format — one codec for both
  * directions. A version document is a flat JSON object of top-level
  * fields (`dataLocation`, the per-file arrays or the manifest-chunk
  * references, `properties`, …); a manifest chunk is a JSON object of
  * per-entry columns. The writer renders both as text (its bytes are
  * the on-disk format, locked by golden files); the reader parses each
  * document ONCE into a Jackson tree and reads every field by
  * structure, so a property or a nested value can never shadow a
  * top-level field, and keys are unrestricted.
  *
  * Per-file integers (seqs, sizes, chunk counts) are decimal STRINGS in
  * the arrays — the round-7 format, kept byte-compatible. */
object LayoutCodec {

  /** The one parser for metadata documents: duplicate keys and trailing
    * content refuse (either would make the document mean two things). */
  private[graft] val mapper: JsonMapper = JsonMapper.builder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  private def malformed(what: String, where: String): Nothing =
    throw new IllegalStateException(s"Malformed metadata: $what in $where")

  /** Parse one metadata document (native version, manifest chunk, or
    * Iceberg `metadata.json`) into its root object; a truncated or
    * otherwise unparseable document throws `IllegalStateException`. */
  private[graft] def parse(text: String, where: String): JsonNode = {
    val root =
      try mapper.readTree(text)
      catch { case e: JsonProcessingException =>
        throw new IllegalStateException(
          s"Malformed metadata: ${e.getOriginalMessage} in $where", e)
      }
    if (!root.isObject) malformed("not a JSON object", where)
    root
  }

  /** A native version document always records its `dataLocation`. */
  private[graft] def isNative(root: JsonNode): Boolean = root.has("dataLocation")

  // ----- writer -----

  /** JSON string escape (RFC 8259: quote, backslash, control chars) —
    * shared by every hand-rendered JSON document in the package. */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def arrBody(vs: Seq[String]): String =
    s"[${vs.map("\"" + jsonEscape(_) + "\"").mkString(", ")}]"

  /** A version document for `layout`, with an optional CHUNKED manifest
    * encoding: when `chunked` is given, the per-file arrays are replaced
    * by references to immutable chunk files (`manifestChunkFiles` /
    * `manifestChunkCounts`, paths relative to the table's `metadata/`
    * dir) plus `manifestFields` — the tokens naming which optional
    * per-entry arrays ([[ManifestFieldTokens]]) the chunk columns
    * reconstruct as present. The JSON then stays O(chunks), not
    * O(files), no matter how many commits the table accumulates. */
  private[graft] def metadataJson(tableLocation: String, dataLocation: String,
      layout: TableLayout = TableLayout(""),
      chunked: Option[(Seq[ManifestChunk], Seq[String])] = None): String = {
    def arr(name: String, vs: Seq[String]): String =
      if (vs.isEmpty) ""
      else s"""  "$name": ${arrBody(vs)},\n"""
    s"""{
       |  "formatVersion": 1,
       |  "location": "${jsonEscape(tableLocation)}",
       |${arr("partitionColumns", layout.partitionColumns)}${
        layout.numBuckets.map(n => s"""  "numBuckets": $n,\n""").getOrElse("")
      }${arr("bucketColumns", layout.bucketColumns)}${
        arr("sortColumns", layout.sortColumns)
      }${arr("clusterTransforms", layout.clusterTransforms)}${
        layout.schemaDdl.map(s => s"""  "schemaDdl": "${jsonEscape(s)}",\n""").getOrElse("")
      }${
        // the operation that produced this version (round 11 — Iceberg's
        // snapshot.operation): append/create/overwrite/delete/replace/
        // metadata. Change-capture readers use it to tell row-preserving
        // rewrites (replace) from genuine data changes; absent on
        // pre-round-11 versions (readers then refuse, never guess).
        layout.commitOp.map(o => s"""  "commitOp": "${jsonEscape(o)}",\n""").getOrElse("")
      }${
        // on-disk data format (round 16 — adopted Hive-migration
        // tables): absent = parquet (every engine-written file); "orc"/
        // "avro" = a homogeneous adopted layout; "mixed" = per-entry
        // formats (inline array below, or the chunks' formats column)
        if (layout.dataFormat == "parquet") ""
        else s"""  "dataFormat": "${jsonEscape(layout.dataFormat)}",\n"""
      }${
        if (chunked.isDefined) ""
        else layout.dataFileFormats
          .map(fs => s"""  "dataFileFormats": ${arrBody(fs)},\n""")
          .getOrElse("")
      }${
        // per-file constant fills (round 16 — adopted fill tables);
        // absent = none. Encoded per entry by [[encodeFills]].
        if (chunked.isDefined) ""
        else layout.dataFileFills
          .filter(_.exists(_.nonEmpty))
          .map(fs => s"""  "dataFileFills": ${arrBody(fs.map(encodeFills))},\n""")
          .getOrElse("")
      }${
        // ADOPTED uuid layouts (round 20): the binary-to-string
        // conversion recorded table-level — every data file stores the
        // 16-byte physical form (adopted files as annotated fixed[16],
        // engine appends as unannotated BINARY; identical to the
        // binary read schema), and scans route through the conversion
        // seam. Compaction materializes the strings and drops this.
        arr("uuidColumns", layout.uuidColumns)
      }${
        // chunked RELOCATED layout (round 19 — adopted object-storage
        // tables past the inline threshold): the lazy chunk face plans
        // a basePath-rooted parquet scan, which absolute out-of-root
        // spellings would break — this flag routes such metadata to the
        // eager path WITHOUT reading any chunk (the spellings live only
        // in the chunk entries, invisible to the version document)
        if (chunked.isDefined && layout.hasRelocated)
          "  \"hasRelocated\": true,\n"
        else ""
      }${
        // chunked manifest: references only — entries live in the chunks
        chunked.map { case (chunks, fields) =>
          s"""  "manifestChunkFiles": ${arrBody(chunks.map(_.relPath))},\n""" +
            s"""  "manifestChunkCounts": ${arrBody(chunks.map(_.count.toString))},\n""" +
            s"""  "manifestChunkSummaries": ${arrBody(chunks.map(_.summary))},\n""" +
            s"""  "manifestFields": ${arrBody(fields)},\n"""
        }.getOrElse("")
      }${
        // an EMPTY manifest is still a manifest (a committed empty
        // snapshot) — it must round-trip distinctly from "no manifest"
        if (chunked.isDefined) ""
        else layout.dataFiles.map(fs => s"""  "dataFiles": ${arrBody(fs)},\n""").getOrElse("")
      }${
        // per-data-file manifest-entry seqs (recorded only while delete
        // files are live — delete-free tables keep the round-7 format)
        if (chunked.isDefined) ""
        else layout.dataFileSeqs
          .map(ss => s"""  "dataFileSeqs": ${arrBody(ss.map(_.toString))},\n""")
          .getOrElse("")
      }${
        // per-data-file column stats (round 10 — FileStats.scala), one
        // encoded string per manifest entry ("" = no stats, unprunable).
        // Written whenever computed, including all-empty, so a commit
        // never re-reads footers it has already found unusable.
        if (chunked.isDefined) ""
        else layout.dataFileStats
          .map(ss => s"""  "dataFileStats": ${arrBody(ss)},\n""")
          .getOrElse("")
      }${
        // per-data-file byte sizes (round 11 — Iceberg's
        // file_size_in_bytes): metadata tables and split planning answer
        // from the manifest with ZERO filesystem calls. -1 = unknown
        // (pre-round-11 file whose size was never captured).
        if (chunked.isDefined) ""
        else layout.dataFileSizes
          .map(ss => s"""  "dataFileSizes": ${arrBody(ss.map(_.toString))},\n""")
          .getOrElse("")
      }${
        // per-data-file NDV sketches (round 11 — Ndv.scala; recorded by
        // analyzeTable, carried forward by the commit funnel)
        if (chunked.isDefined) ""
        else layout.dataFileNdv
          .map(ss => s"""  "dataFileNdv": ${arrBody(ss)},\n""")
          .getOrElse("")
      }${
        // delete files + the versions they committed at — the
        // merge-on-read state a scan must apply (eq: fileSeq < deleteSeq;
        // pos: file-addressed). Kinds are written only when a positional
        // delete exists — all-equality tables keep the round-8 format.
        if (layout.deleteFiles.isEmpty) ""
        else s"""  "deleteFiles": ${arrBody(layout.deleteFiles.map(_.path))},\n""" +
          s"""  "deleteFileSeqs": ${arrBody(layout.deleteFiles.map(_.seq.toString))},\n""" +
          (if (layout.deleteFiles.forall(_.kind == DeleteKinds.Equality)) ""
           else s"""  "deleteFileKinds": ${arrBody(layout.deleteFiles.map(_.kind))},\n""") +
          // per-delete-file addressed data files (pos deletes +
          // partition-scoped equality deletes, round 17; ';'-joined —
          // part-file paths never contain ';', enforced at write)
          (if (layout.deleteFiles.forall(_.targets.isEmpty)) ""
           else {
             layout.deleteFiles.flatMap(_.targets).find(_.contains(";")).foreach(t =>
               throw new IllegalArgumentException(
                 s"positional-delete target path contains ';': $t"))
             s"""  "deleteFileTargets": ${arrBody(
               layout.deleteFiles.map(_.targets.mkString(";")))},\n"""
           }) +
          // deletion-vector blob spans (adopted Iceberg v3 tables):
          // per-delete-file offset/length into the Puffin file, empty
          // for non-vector kinds
          (if (layout.deleteFiles.forall(_.kind != DeleteKinds.Vector)) ""
           else s"""  "deleteFileBlobOffsets": ${arrBody(
               layout.deleteFiles.map(_.blobOffset.fold("")(_.toString)))},\n""" +
             s"""  "deleteFileBlobLengths": ${arrBody(
               layout.deleteFiles.map(_.blobLength.fold("")(_.toString)))},\n""")
      }${
        // column renames as three parallel arrays (seq, from, to) — the
        // name mapping every reader resolves per-file seqs against
        if (layout.renameOps.isEmpty) ""
        else s"""  "renameFroms": ${arrBody(layout.renameOps.map(_.from))},\n""" +
          s"""  "renameTos": ${arrBody(layout.renameOps.map(_.to))},\n""" +
          s"""  "renameSeqs": ${arrBody(layout.renameOps.map(_.seq.toString))},\n"""
      }${
        // tombstones of dropped columns (and their physical ancestors):
        // re-ADDing one would resurrect stale bytes from pre-drop files,
        // so ADD COLUMN refuses these until compaction clears them
        arr("droppedColumns", layout.droppedColumns)
      }${
        // commit-scoped properties (e.g. a streaming writer's replay
        // fence) — atomic with the version because they ARE the version
        if (layout.properties.isEmpty) ""
        else layout.properties.toSeq.sorted
          .map { case (k, v) => s""""${jsonEscape(k)}": "${jsonEscape(v)}"""" }
          .mkString("  \"properties\": {", ", ", "},\n")
      }  "dataLocation": "${jsonEscape(dataLocation)}"
       |}
       |""".stripMargin
  }

  // ----- manifest chunks (round 12) -----

  /** Tokens naming the OPTIONAL per-entry columns a chunked version's
    * entries reconstruct as present ([[TableLayout.dataFileSeqs]] /
    * stats / sizes / NDV). An unknown token on read is corruption — a
    * column this reader cannot reconstruct, never a default. */
  private[catalog] object ManifestFieldTokens {
    val Seqs = "seqs"; val Stats = "stats"; val Sizes = "sizes"; val Ndv = "ndv"
    /** Per-entry data-file formats (round 16 — mixed adopted tables). */
    val Formats = "formats"
    /** Per-entry constant fills (round 16 — ADOPTED fill tables: the
      * identity-partition / initial-default values a file must serve
      * because it physically lacks the column, carried into the
      * engine's own manifests so imported hive tables stay servable
      * AFTER adoption makes them SQL-writable). */
    val Fills = "fills"
    val All: Set[String] = Set(Seqs, Stats, Sizes, Ndv, Formats, Fills)
  }

  /** The `manifestFields` tokens of `layout`'s present per-entry arrays. */
  private[catalog] def manifestFields(layout: TableLayout): Seq[String] = Seq(
    layout.dataFileSeqs.map(_ => ManifestFieldTokens.Seqs),
    layout.dataFileStats.map(_ => ManifestFieldTokens.Stats),
    layout.dataFileSizes.map(_ => ManifestFieldTokens.Sizes),
    layout.dataFileNdv.map(_ => ManifestFieldTokens.Ndv),
    layout.dataFileFormats.map(_ => ManifestFieldTokens.Formats),
    layout.dataFileFills.filter(_.exists(_.nonEmpty))
      .map(_ => ManifestFieldTokens.Fills)).flatten

  /** One manifest entry, normalized (absent optional columns take the
    * same defaults the read path applies: seq 0, "" stats/ndv, -1 size)
    * so reuse comparison is representation-independent. */
  private[graft] final case class MEntry(path: String, seq: Int, stats: String,
      size: Long, ndv: String, format: String = "parquet",
      fills: String = "")

  private[catalog] def entriesOf(l: TableLayout): Vector[MEntry] = {
    val fs = l.dataFiles.getOrElse(Nil).toVector
    // materialize each parallel column as an IndexedSeq FIRST: callers
    // hand in Lists (Seq.fill, ++-built), and positional apply on a
    // List inside the index loop is O(n) — O(n²) on a 10⁵-entry
    // manifest, precisely the scale this machinery exists for
    val seqs = l.dataFileSeqs.map(_.toVector).getOrElse(Vector.fill(fs.size)(0))
    val stats = l.dataFileStats.map(_.toVector).getOrElse(Vector.fill(fs.size)(""))
    val sizes = l.dataFileSizes.map(_.toVector).getOrElse(Vector.fill(fs.size)(-1L))
    val ndv = l.dataFileNdv.map(_.toVector).getOrElse(Vector.fill(fs.size)(""))
    val fmts = l.dataFileFormats.map(_.toVector)
      .getOrElse(Vector.fill(fs.size)(l.dataFormat))
    val fills = l.dataFileFills.map(_.toVector.map(encodeFills))
      .getOrElse(Vector.fill(fs.size)(""))
    fs.indices.map(i =>
      MEntry(fs(i), seqs(i), stats(i), sizes(i), ndv(i), fmts(i),
        fills(i))).toVector
  }

  private[graft] def chunkJson(ents: Seq[MEntry]): String =
    s"""{
       |  "manifestChunkFormat": 1,
       |  "paths": ${arrBody(ents.map(_.path))},
       |  "seqs": ${arrBody(ents.map(_.seq.toString))},
       |  "stats": ${arrBody(ents.map(_.stats))},
       |  "sizes": ${arrBody(ents.map(_.size.toString))},
       |  "ndv": ${arrBody(ents.map(_.ndv))},
       |  "formats": ${arrBody(ents.map(_.format))},
       |  "fills": ${arrBody(ents.map(_.fills))}
       |}
       |""".stripMargin

  // ----- reader -----

  private def str(root: JsonNode, field: String, where: String): Option[String] =
    Option(root.get(field)).map(n =>
      if (n.isTextual) n.textValue
      else malformed(s"'$field' is not a string", where))

  /** `Some(values)` when the array is present (possibly empty), `None`
    * when absent — presence is load-bearing for `dataFiles`. */
  private def strs(root: JsonNode, field: String, where: String): Option[Vector[String]] =
    Option(root.get(field)).map { n =>
      if (!n.isArray) malformed(s"'$field' is not an array", where)
      val out = Vector.newBuilder[String]
      n.elements().forEachRemaining { e =>
        out += (if (e.isTextual) e.textValue
          else malformed(s"non-string entry in '$field'", where))
      }
      out.result()
    }

  private def strMap(root: JsonNode, field: String, where: String): Map[String, String] =
    Option(root.get(field)).fold(Map.empty[String, String]) { n =>
      if (!n.isObject) malformed(s"'$field' is not an object", where)
      val out = Map.newBuilder[String, String]
      n.properties().forEach { e =>
        out += e.getKey -> (if (e.getValue.isTextual) e.getValue.textValue
          else malformed(s"non-string value in '$field'", where))
      }
      out.result()
    }

  private def numBuckets(root: JsonNode, where: String): Option[Int] =
    Option(root.get("numBuckets")).map(n =>
      if (n.isIntegralNumber && n.canConvertToInt) n.intValue
      else malformed("'numBuckets' is not an integer", where))

  private def hasRelocated(root: JsonNode, where: String): Boolean =
    Option(root.get("hasRelocated")).exists(n =>
      if (n.isBoolean) n.booleanValue
      else malformed("'hasRelocated' is not a boolean", where))

  /** Parse one chunk file's entries; every malformation throws (a
    * truncated chunk silently parsed as "fewer files" would shrink the
    * table — same hardness as the inline arrays). */
  private[catalog] def parseChunk(text: String, where: String): Vector[MEntry] = {
    val root = parse(text, where)
    def col(field: String): Seq[String] =
      strs(root, field, where).getOrElse(throw new IllegalStateException(
        s"Malformed manifest chunk: no '$field' array in $where"))
    val paths = col("paths")
    /** A present column must hold one entry per path. */
    def sizedOpt(field: String): Option[Seq[String]] =
      strs(root, field, where).map { vs =>
        if (vs.size != paths.size)
          throw new IllegalStateException(
            s"Malformed manifest chunk: '$field' has ${vs.size} entries for " +
              s"${paths.size} paths in $where")
        vs
      }
    def sized(field: String): Seq[String] =
      sizedOpt(field).getOrElse(col(field))
    def num[T](field: String, conv: String => T): Seq[T] =
      sized(field).map { s =>
        try conv(s)
        catch { case _: NumberFormatException =>
          throw new IllegalStateException(
            s"Malformed manifest chunk: non-integer '$s' in '$field' of $where")
        }
      }
    val seqs = num("seqs", _.toInt)
    val stats = sized("stats")
    val sizes = num("sizes", _.toLong)
    val ndv = sized("ndv")
    // formats (round 16): absent = a pre-formats chunk, which only a
    // parquet-only layout could have written — default, not corruption
    val fmts = sizedOpt("formats").getOrElse(Seq.fill(paths.size)("parquet"))
    // fills (round 16): absent = a pre-fills chunk (no adopted fill
    // table could have written one) — default, not corruption
    val fillsCol = sizedOpt("fills").getOrElse(Seq.fill(paths.size)(""))
    paths.indices.map(i =>
      MEntry(paths(i), seqs(i), stats(i), sizes(i), ndv(i), fmts(i),
        fillsCol(i))).toVector
  }

  /** The shallow index of a CHUNKED version `root` for the lazy scan
    * path: Some only for the simple scan shape — chunk summaries
    * recorded, schema recorded, no deletes, renames, buckets, directory
    * partitions, non-parquet data, fills, relocated files or uuid
    * columns. NO chunk file is read. */
  private[catalog] def chunkIndex(root: JsonNode, where: String): Option[ChunkIndex] = {
    def arr(field: String) = strs(root, field, where)
    def s(field: String) = str(root, field, where)
    for {
      rels <- arr("manifestChunkFiles")
      counts <- arr("manifestChunkCounts").filter(_.size == rels.size)
      sums <- arr("manifestChunkSummaries").filter(_.size == rels.size)
      schemaDdl <- s("schemaDdl")
      dataLoc <- s("dataLocation")
      if arr("deleteFiles").forall(_.isEmpty)
      if arr("renameFroms").forall(_.isEmpty)
      if numBuckets(root, where).isEmpty
      if arr("partitionColumns").forall(_.isEmpty)
      // round 16: the lazy chunk face plans a PARQUET scan — a
      // non-parquet (adopted orc/avro/mixed) chunked layout must take
      // the eager path, whose format dispatch serves it correctly
      if s("dataFormat").forall(_ == "parquet")
      // round 18 (ScaleSmoke `cow` caught it): a chunked ADOPTED FILL
      // table (a >512-file hive import) must take the eager path too —
      // the lazy plain-parquet plan would silently serve NULL for
      // every fill column. The chunk columns carry the fills, and the
      // metadata records which per-entry fields the chunks hold.
      if arr("manifestFields").forall(!_.contains(ManifestFieldTokens.Fills))
      // round 19: chunked RELOCATED layouts (adopted object-storage
      // tables) take the eager path — the lazy face's basePath-rooted
      // plan cannot serve out-of-root absolute spellings
      if !hasRelocated(root, where)
      // round 20: adopted uuid layouts take the eager path — the
      // lazy plain-parquet plan would read binary fixed[16] columns
      // with the served STRING schema
      if arr("uuidColumns").forall(_.isEmpty)
      ints <- scala.util.Try(counts.map(_.toInt)).toOption
    } yield ChunkIndex(where,
      TableLayout(dataLoc,
        sortColumns = arr("sortColumns").getOrElse(Nil),
        schemaDdl = Some(schemaDdl), dataFiles = Some(Nil),
        properties = strMap(root, "properties", where),
        commitOp = s("commitOp"),
        clusterTransforms = arr("clusterTransforms").getOrElse(Nil)),
      rels.lazyZip(ints).lazyZip(sums).map(ManifestChunk(_, _, _)))
  }

  /** Decode native version `root` (read from `metadataLocation`) into
    * its layout. A chunked manifest resolves its entries from the chunk
    * files under `<location>/metadata/`, read through `readText` — only
    * the chunks `chunkKeep` admits. Returns (layout, chunks skipped,
    * chunks total). */
  private[catalog] def decodeLayout(root: JsonNode, metadataLocation: String,
      chunkKeep: Option[ManifestChunk => Boolean],
      readText: String => String): (TableLayout, Int, Int) = {
    def strings(field: String): Option[Vector[String]] =
      strs(root, field, metadataLocation)
    def string(field: String): Option[String] =
      str(root, field, metadataLocation)
    def arr(field: String): Seq[String] = strings(field).getOrElse(Nil)
    val dataLoc = string("dataLocation")
      .getOrElse(throw new IllegalStateException(
        s"No dataLocation in metadata file $metadataLocation"))
    val inlineDataFiles = strings("dataFiles")
    if (inlineDataFiles.isDefined && root.has("manifestChunkFiles"))
      throw new IllegalStateException(
        s"Malformed metadata: both inline dataFiles and manifestChunkFiles " +
          s"in $metadataLocation")
    // chunked manifest (round 12): entries live in immutable chunk
    // files under <location>/metadata/, referenced here. Resolved via
    // the metadata's own `location` field so a pointer copied into any
    // catalog backend keeps resolving. All-or-nothing: a missing or
    // malformed chunk throws (a partially-resolved manifest would
    // silently shrink the table).
    var chunksSkipped = 0
    var chunksTotal = 0
    val chunked: Option[(Seq[ManifestChunk], Vector[MEntry], Set[String])] =
      strings("manifestChunkFiles").map { rels =>
        val counts = strings("manifestChunkCounts")
          .getOrElse(throw new IllegalStateException(
            s"Malformed metadata: manifestChunkFiles without " +
              s"manifestChunkCounts in $metadataLocation"))
        if (counts.size != rels.size)
          throw new IllegalStateException(
            s"Malformed metadata: ${counts.size} manifestChunkCounts for " +
              s"${rels.size} manifestChunkFiles in $metadataLocation")
        // summaries (round 14) are optional: absent = pre-summary
        // metadata, every chunk resolves
        val summaries = strings("manifestChunkSummaries")
          .map { ss =>
            if (ss.size != rels.size)
              throw new IllegalStateException(
                s"Malformed metadata: ${ss.size} manifestChunkSummaries " +
                  s"for ${rels.size} manifestChunkFiles in $metadataLocation")
            ss
          }
          .getOrElse(Seq.fill(rels.size)(""))
        val fields = arr("manifestFields")
        fields.filterNot(ManifestFieldTokens.All).foreach(f =>
          throw new IllegalStateException(
            s"Malformed metadata: unknown manifest field token '$f' in " +
              s"$metadataLocation — written by a newer format?"))
        val loc = string("location")
          .getOrElse(throw new IllegalStateException(
            s"Malformed metadata: chunked manifest without a location in " +
              s"$metadataLocation"))
        val metaDir = new Path(loc, "metadata")
        val refs = rels.lazyZip(counts).lazyZip(summaries).map { (rel, c, sum) =>
          val n = try c.toInt catch { case _: NumberFormatException =>
            throw new IllegalStateException(
              s"Malformed metadata: non-integer manifest chunk count '$c' " +
                s"in $metadataLocation")
          }
          ManifestChunk(rel, n, sum)
        }
        // chunk-level pruning (round 14): resolve only the chunks the
        // caller's predicate can touch — the rest are never even READ
        val kept = chunkKeep.fold(refs)(f => refs.filter(f))
        chunksTotal = refs.size
        chunksSkipped = refs.size - kept.size
        import scala.collection.parallel.CollectionConverters._
        val perChunk: Seq[(ManifestChunk, Vector[MEntry])] = kept.par.map { r =>
          val p = new Path(metaDir, r.relPath).toString
          r -> parseChunk(readText(p), p)
        }.seq
        perChunk.foreach { case (r, ents) =>
          if (ents.size != r.count)
            throw new IllegalStateException(
              s"Manifest chunk ${r.relPath} holds ${ents.size} entries but " +
                s"$metadataLocation records ${r.count} — chunk and version " +
                "disagree")
        }
        (refs, perChunk.toVector.flatMap(_._2), fields.toSet)
      }
    val dataFiles = inlineDataFiles.orElse(chunked.map(_._2.map(_.path)))
    /** A present per-file array must parallel the file list — a
      * misaligned one would attribute the wrong file's metadata. */
    def perFile[T](field: String, token: String, fromEntry: MEntry => T)
        (conv: Vector[String] => Seq[T]): Option[Seq[T]] =
      strings(field).map { ss =>
        dataFiles.map(_.size).filter(_ != ss.size).foreach { n =>
          throw new IllegalStateException(
            s"Malformed metadata: '$field' has ${ss.size} entries for " +
              s"$n data files in $metadataLocation")
        }
        conv(ss)
      }.orElse(chunked.collect { case (_, ents, fields)
        if fields(token) => ents.map(fromEntry) })
    // parallel arrays are validated hard: a seq list that fell out of
    // step with its file list would misapply deletes (resurrect or lose
    // rows), so a mismatch is corruption, not a default
    def intSeqs(field: String, expected: Option[Int]): Option[Seq[Int]] =
      strings(field).map { raw =>
        expected.filter(_ != raw.size).foreach { n =>
          throw new IllegalStateException(
            s"Malformed metadata: '$field' has ${raw.size} entries for $n " +
              s"parallel entries in $metadataLocation")
        }
        raw.map { s =>
          try s.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalStateException(
              s"Malformed metadata: non-integer '$s' in '$field' of $metadataLocation")
          }
        }
      }
    val delPaths = arr("deleteFiles")
    val delSeqs = intSeqs("deleteFileSeqs", Some(delPaths.size))
    if (delPaths.nonEmpty && delSeqs.isEmpty)
      throw new IllegalStateException(
        s"Malformed metadata: deleteFiles without deleteFileSeqs in $metadataLocation")
    /** A present per-delete-file array must parallel deleteFiles. */
    def perDelete(field: String): Option[Vector[String]] =
      strings(field).map { vs =>
        if (vs.size != delPaths.size)
          throw new IllegalStateException(
            s"Malformed metadata: '$field' has ${vs.size} entries for " +
              s"${delPaths.size} deleteFiles in $metadataLocation")
        vs
      }
    // kinds absent → all equality (the round-8 format); present → must
    // parallel deleteFiles and carry only known kinds (a kind this
    // reader doesn't know is a delete it can't apply — corruption, not
    // a default, or it would resurrect rows)
    val delKinds = perDelete("deleteFileKinds")
      .map { ks =>
        ks.foreach { k =>
          if (!DeleteKinds.All(k))
            throw new IllegalStateException(
              s"Malformed metadata: unknown delete-file kind '$k' in $metadataLocation")
        }
        ks
      }
      .getOrElse(Seq.fill(delPaths.size)(DeleteKinds.Equality))
    val delTargets = perDelete("deleteFileTargets")
      .map(_.map(_.split(';').toSeq.filter(_.nonEmpty)))
      .getOrElse(Seq.fill(delPaths.size)(Nil))
    def delLongs(field: String): Seq[Option[Long]] =
      perDelete(field)
        .map(_.map(v => if (v.isEmpty) None else Some(
          try v.toLong
          catch { case _: NumberFormatException =>
            throw new IllegalStateException(
              s"Malformed metadata: non-integer '$v' in '$field' of " +
                metadataLocation)
          })))
        .getOrElse(Seq.fill(delPaths.size)(None))
    val delBlobOffsets = delLongs("deleteFileBlobOffsets")
    val delBlobLengths = delLongs("deleteFileBlobLengths")
    val renameFroms = arr("renameFroms")
    val renameTos = arr("renameTos")
    val renameSeqs = intSeqs("renameSeqs", Some(renameFroms.size)).getOrElse(Nil)
    if (renameFroms.size != renameTos.size ||
        (renameFroms.nonEmpty && renameSeqs.size != renameFroms.size))
      throw new IllegalStateException(
        s"Malformed metadata: rename arrays out of step in $metadataLocation")
    val schemaDdl = string("schemaDdl")
    val recordedFormat = string("dataFormat")
    val layout = TableLayout(dataLoc, arr("partitionColumns"),
      numBuckets(root, metadataLocation),
      arr("bucketColumns"), arr("sortColumns"),
      schemaDdl,
      // presence matters: Some(Nil) is a committed empty snapshot,
      // None is pre-manifest metadata (whole-directory scan)
      dataFiles,
      strMap(root, "properties", metadataLocation),
      deleteFiles = delPaths.lazyZip(delSeqs.getOrElse(Nil)).lazyZip(delKinds)
        .lazyZip(delTargets.lazyZip(delBlobOffsets).lazyZip(delBlobLengths).toSeq)
        .map { case (p, s, k, (t, bo, bl)) => DeleteFile(p, s, k, t, bo, bl) },
      dataFileSeqs = intSeqs("dataFileSeqs", dataFiles.map(_.size)).orElse(
        chunked.collect { case (_, ents, fields)
          if fields(ManifestFieldTokens.Seqs) => ents.map(_.seq) }),
      renameOps = renameSeqs.lazyZip(renameFroms).lazyZip(renameTos)
        .map((s, f, t) => RenameOp(s, f, t)),
      droppedColumns = arr("droppedColumns"),
      // misaligned stats would prune with the wrong file's envelope —
      // corruption, same hardness as the seq arrays
      dataFileStats = perFile("dataFileStats", ManifestFieldTokens.Stats,
        _.stats)(identity),
      commitOp = string("commitOp"),
      dataFileNdv = perFile("dataFileNdv", ManifestFieldTokens.Ndv, _.ndv)(identity),
      // misaligned sizes would split-plan wrong byte ranges —
      // corruption, same hardness as the stats array
      dataFileSizes = perFile("dataFileSizes", ManifestFieldTokens.Sizes,
        _.size)(_.map { s =>
          try s.toLong
          catch { case _: NumberFormatException =>
            throw new IllegalStateException(
              s"Malformed metadata: non-integer size '$s' in 'dataFileSizes' " +
                s"of $metadataLocation")
          }
        }),
      manifestChunks = chunked.map(_._1),
      clusterTransforms = arr("clusterTransforms"),
      // round 16: adopted non-parquet layouts — absent = parquet
      dataFormat = recordedFormat.getOrElse("parquet"),
      dataFileFormats =
        if (recordedFormat.contains("mixed"))
          // a mixed layout without per-entry formats cannot dispatch
          // readers — corruption, never a guess
          Some(perFile("dataFileFormats", ManifestFieldTokens.Formats,
            _.format)(identity).getOrElse(throw new IllegalStateException(
            s"Malformed metadata: dataFormat 'mixed' without " +
              s"dataFileFormats in $metadataLocation")))
        else None,
      // per-file constant fills (round 16 — adopted fill tables):
      // decoded by the recorded schema's column types; absent = none
      dataFileFills = perFile("dataFileFills", ManifestFieldTokens.Fills,
        _.fills)(identity).filter(_.exists(_.nonEmpty)).map { fs =>
          val schema = org.apache.spark.sql.types.StructType.fromDDL(
            schemaDdl.getOrElse(
              throw new IllegalStateException(
                s"Malformed metadata: dataFileFills without a schemaDdl " +
                  s"in $metadataLocation")))
          fs.map(decodeFills(_, schema))
        },
      // adopted uuid layouts (round 20): the recorded binary-to-string
      // conversion columns — every scan face routes through the seam
      uuidColumns = arr("uuidColumns"))
    (layout, chunksSkipped, chunksTotal)
  }
}
