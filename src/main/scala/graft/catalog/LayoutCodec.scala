package graft.catalog

import com.fasterxml.jackson.core.{JsonProcessingException, StreamReadFeature}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.Path

import graft.catalog.CatalogIO.{ChunkIndex, DataFile, DeleteFile, DeleteKinds,
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
    * per-entry fields ([[ManifestFieldTokens]]) the chunk columns
    * reconstruct as present. The JSON then stays O(chunks), not
    * O(files), no matter how many commits the table accumulates. */
  private[graft] def metadataJson(tableLocation: String, dataLocation: String,
      layout: TableLayout = TableLayout(""),
      chunked: Option[(Seq[ManifestChunk], Seq[String])] = None): String = {
    def arr(name: String, vs: Seq[String]): String =
      if (vs.isEmpty) ""
      else s"""  "$name": ${arrBody(vs)},\n"""
    val files = layout.dataFiles.getOrElse(Nil)
    /** One inline per-entry array: written when the version records
      * the field (`chunked` versions carry entries in the chunks). */
    def perFile(name: String, recorded: Boolean)(f: DataFile => String): String =
      if (chunked.isDefined || !recorded) ""
      else s"""  "$name": ${arrBody(files.map(f))},\n"""
    def field(token: String): Boolean = layout.entryFields(token)
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
        perFile("dataFileFormats", layout.dataFormat == "mixed")(_.format)
      }${
        // per-file constant fills (round 16 — adopted fill tables);
        // absent = none. Encoded per entry by [[encodeFills]].
        perFile("dataFileFills", layout.hasFills)(f => encodeFills(f.fills))
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
        perFile("dataFiles", layout.dataFiles.isDefined)(_.path)
      }${
        // per-data-file manifest-entry seqs (recorded only while delete
        // files are live — delete-free tables keep the round-7 format)
        perFile("dataFileSeqs", field(ManifestFieldTokens.Seqs))(_.seq.toString)
      }${
        // per-data-file column stats (round 10 — FileStats.scala), one
        // encoded string per manifest entry ("" = no stats, unprunable).
        // Written whenever computed, including all-empty, so a commit
        // never re-reads footers it has already found unusable.
        perFile("dataFileStats", field(ManifestFieldTokens.Stats))(_.stats)
      }${
        // per-data-file byte sizes (round 11 — Iceberg's
        // file_size_in_bytes): metadata tables and split planning answer
        // from the manifest with ZERO filesystem calls. -1 = unknown
        // (pre-round-11 file whose size was never captured).
        perFile("dataFileSizes", field(ManifestFieldTokens.Sizes))(_.size.toString)
      }${
        // per-data-file NDV sketches (round 11 — Ndv.scala; recorded by
        // analyzeTable, carried forward by the commit funnel)
        perFile("dataFileNdv", field(ManifestFieldTokens.Ndv))(_.ndv)
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

  /** Tokens naming the OPTIONAL per-entry fields of a version
    * ([[TableLayout.entryFields]] — seqs / stats / sizes / NDV); a
    * chunked version writes the ones its chunk columns reconstruct as
    * present as `manifestFields`. An unknown token on read is
    * corruption — a column this reader cannot reconstruct, never a
    * default. */
  private[graft] object ManifestFieldTokens {
    val Seqs = "seqs"; val Stats = "stats"; val Sizes = "sizes"; val Ndv = "ndv"
    /** Per-entry data-file formats (round 16 — mixed adopted tables). */
    val Formats = "formats"
    /** Per-entry constant fills (round 16 — ADOPTED fill tables: the
      * identity-partition / initial-default values a file must serve
      * because it physically lacks the column, carried into the
      * engine's own manifests so imported hive tables stay servable
      * AFTER adoption makes them SQL-writable). */
    val Fills = "fills"
    /** v3 row lineage of converted Iceberg layouts — in memory only,
      * never written, so not in [[All]]. */
    val Lineage = "lineage"
    val All: Set[String] = Set(Seqs, Stats, Sizes, Ndv, Formats, Fills)
  }

  /** The `manifestFields` tokens of `layout`'s recorded per-entry fields. */
  private[catalog] def manifestFields(layout: TableLayout): Seq[String] = {
    import ManifestFieldTokens._
    Seq(Seqs, Stats, Sizes, Ndv).filter(layout.entryFields) ++
      Seq(Formats).filter(_ => layout.dataFormat == "mixed") ++
      Seq(Fills).filter(_ => layout.hasFills)
  }

  /** `layout`'s entries as a manifest chunk stores them: a field the
    * version does not record takes the default the reader restores
    * (seq 0, "" stats/ndv, -1 size), and lineage is never stored — so
    * chunk reuse compares exactly what is on disk. */
  private[catalog] def chunkEntries(layout: TableLayout): Vector[DataFile] = {
    import ManifestFieldTokens._
    val f = layout.entryFields
    val mixed = layout.dataFormat == "mixed"
    layout.dataFiles.getOrElse(Nil).iterator.map(e => DataFile(e.path,
      if (f(Seqs)) e.seq else 0, if (f(Stats)) e.stats else "",
      if (f(Sizes)) e.size else -1L, if (f(Ndv)) e.ndv else "",
      if (mixed) e.format else layout.dataFormat, e.fills)).toVector
  }

  private[graft] def chunkJson(ents: Seq[DataFile]): String =
    s"""{
       |  "manifestChunkFormat": 1,
       |  "paths": ${arrBody(ents.map(_.path))},
       |  "seqs": ${arrBody(ents.map(_.seq.toString))},
       |  "stats": ${arrBody(ents.map(_.stats))},
       |  "sizes": ${arrBody(ents.map(_.size.toString))},
       |  "ndv": ${arrBody(ents.map(_.ndv))},
       |  "formats": ${arrBody(ents.map(_.format))},
       |  "fills": ${arrBody(ents.map(e => encodeFills(e.fills)))}
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
    * table — same hardness as the inline arrays). Each entry keeps the
    * optional `fields` its version records (the rest take their
    * defaults), its chunk format when `format` is None, and its fills
    * decoded by `fill`. */
  private[catalog] def parseChunk(text: String, where: String,
      fields: Set[String], format: Option[String],
      fill: String => Seq[(String, Any)]): Vector[DataFile] = {
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
    import ManifestFieldTokens._
    def field[T](token: String, col: Seq[T], default: T): Int => T =
      if (fields(token)) col else _ => default
    val (seqOf, statsOf, sizeOf, ndvOf) = (field(Seqs, seqs, 0),
      field(Stats, stats, ""), field(Sizes, sizes, -1L), field(Ndv, ndv, ""))
    val fillOf = field[String](Fills, fillsCol, "")
    paths.indices.map(i =>
      DataFile(paths(i), seqOf(i), statsOf(i), sizeOf(i), ndvOf(i),
        format.getOrElse(fmts(i)), fill(fillOf(i)))).toVector
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
    val schemaDdl = string("schemaDdl")
    val dataFormat = string("dataFormat").getOrElse("parquet") // absent = parquet
    def mixedWithoutFormats(): Nothing =
      throw new IllegalStateException(
        s"Malformed metadata: dataFormat 'mixed' without " +
          s"dataFileFormats in $metadataLocation")
    // per-file arrays parallel an INLINE file list; a chunked version
    // keeps them in its chunks
    if (inlineDataFiles.isEmpty)
      Seq("dataFileSeqs", "dataFileStats", "dataFileSizes", "dataFileNdv",
        "dataFileFormats", "dataFileFills").find(root.has).foreach { f =>
        throw new IllegalStateException(
          s"Malformed metadata: '$f' without an inline dataFiles array in " +
            metadataLocation)
      }
    // per-file constant fills (round 16 — adopted fill tables):
    // decoded by the recorded schema's column types
    lazy val fillSchema = org.apache.spark.sql.types.StructType.fromDDL(
      schemaDdl.getOrElse(throw new IllegalStateException(
        s"Malformed metadata: dataFileFills without a schemaDdl " +
          s"in $metadataLocation")))
    def fill(text: String): Seq[(String, Any)] =
      if (text.isEmpty) Nil else decodeFills(text, fillSchema)
    // chunked manifest (round 12): entries live in immutable chunk
    // files under <location>/metadata/, referenced here. Resolved via
    // the metadata's own `location` field so a pointer copied into any
    // catalog backend keeps resolving. All-or-nothing: a missing or
    // malformed chunk throws (a partially-resolved manifest would
    // silently shrink the table).
    var chunksSkipped = 0
    var chunksTotal = 0
    val chunked: Option[(Seq[ManifestChunk], Vector[DataFile], Set[String])] =
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
        val fields = arr("manifestFields").toSet
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
        // a mixed layout without per-entry formats cannot dispatch
        // readers — corruption, never a guess
        if (dataFormat == "mixed" && !fields.contains(ManifestFieldTokens.Formats))
          mixedWithoutFormats()
        val perChunk: Seq[(ManifestChunk, Vector[DataFile])] = kept.par.map { r =>
          val p = new Path(metaDir, r.relPath).toString
          r -> parseChunk(readText(p), p, fields,
            Some(dataFormat).filter(_ != "mixed"), fill)
        }.seq
        perChunk.foreach { case (r, ents) =>
          if (ents.size != r.count)
            throw new IllegalStateException(
              s"Manifest chunk ${r.relPath} holds ${ents.size} entries but " +
                s"$metadataLocation records ${r.count} — chunk and version " +
                "disagree")
        }
        (refs, perChunk.toVector.flatMap(_._2), fields)
      }
    val fileCount = inlineDataFiles.map(_.size)
    /** A present per-file array must parallel the file list — a
      * misaligned one would attribute the wrong file's metadata. */
    def perFile(field: String): Option[Vector[String]] =
      strings(field).map { ss =>
        fileCount.filter(_ != ss.size).foreach { n =>
          throw new IllegalStateException(
            s"Malformed metadata: '$field' has ${ss.size} entries for " +
              s"$n data files in $metadataLocation")
        }
        ss
      }
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
    // parallel arrays are validated hard: a seq list that fell out of
    // step with its file list would misapply deletes (resurrect or lose
    // rows), misaligned stats would prune with the wrong file's
    // envelope, misaligned sizes would split-plan wrong byte ranges —
    // corruption, never a default
    val seqs = intSeqs("dataFileSeqs", fileCount)
    val stats = perFile("dataFileStats")
    val sizes = perFile("dataFileSizes").map(_.map { s =>
      try s.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalStateException(
          s"Malformed metadata: non-integer size '$s' in 'dataFileSizes' " +
            s"of $metadataLocation")
      }
    })
    val ndv = perFile("dataFileNdv")
    val formats =
      if (dataFormat != "mixed" || inlineDataFiles.isEmpty) None
      else Some(perFile("dataFileFormats").getOrElse(mixedWithoutFormats()))
    val fills = perFile("dataFileFills").map(_.map(fill))
    val dataFiles = inlineDataFiles.map(ps => ps.indices.map(i => DataFile(ps(i),
      seqs.fold(0)(_(i)), stats.fold("")(_(i)), sizes.fold(-1L)(_(i)),
      ndv.fold("")(_(i)), formats.fold(dataFormat)(_(i)),
      fills.fold(Seq.empty[(String, Any)])(_(i))))).orElse(chunked.map(_._2))
    import ManifestFieldTokens._
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
      entryFields = chunked.fold(Seq(seqs -> Seqs, stats -> Stats,
        sizes -> Sizes, ndv -> Ndv).collect { case (Some(_), t) => t }.toSet)(
        _._3.intersect(Set(Seqs, Stats, Sizes, Ndv))),
      renameOps = renameSeqs.lazyZip(renameFroms).lazyZip(renameTos)
        .map((s, f, t) => RenameOp(s, f, t)),
      droppedColumns = arr("droppedColumns"),
      commitOp = string("commitOp"),
      manifestChunks = chunked.map(_._1),
      clusterTransforms = arr("clusterTransforms"),
      dataFormat = dataFormat,
      // adopted uuid layouts (round 20): the recorded binary-to-string
      // conversion columns — every scan face routes through the seam
      uuidColumns = arr("uuidColumns"))
    (layout, chunksSkipped, chunksTotal)
  }
}
