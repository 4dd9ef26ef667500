package graft.catalog

import org.apache.spark.sql.types._

import graft.catalog.LayoutCodec.jsonEscape

/** Deterministic Iceberg FIELD-ID assignment for an export schema with
  * NESTED types (round 16 — the flat-only export refusal lifted):
  * top-level fields keep the caller's ids (1..n, the round-12
  * contract), and every nested member — struct fields, list elements,
  * map keys/values — gets a fresh id from max(top-level)+1 in ONE
  * pre-order walk. The spec requires only uniqueness and declaration in
  * the schema document; determinism here means the THREE faces that
  * must agree — the metadata schema JSON, the (recursive) name mapping,
  * and the avro writer's `field-id`/`element-id`/`key-id`/`value-id`
  * attributes — all derive from this one tree and can never diverge
  * (a field-id mismatch between the avro file and the schema would
  * silently mis-address columns in real Iceberg readers). */
object IcebergSchemaIds {

  sealed trait Node
  /** A primitive leaf (the round-12 export set; see
    * [[IcebergSchemaIds.primName]]). */
  final case class Prim(dt: DataType) extends Node
  /** A primitive leaf carried VERBATIM from a loaded schema document
    * (the append path): `fixed[16]`/`uuid`/`time` re-render exactly as
    * declared — renaming them through a catalyst round-trip would
    * mutate the schema of a table this writer did not create. */
  final case class PrimName(name: String) extends Node
  final case class Struct(fields: Seq[Field]) extends Node
  final case class Arr(elementId: Int, containsNull: Boolean,
      element: Node) extends Node
  final case class MapN(keyId: Int, key: Node, valueId: Int,
      valueContainsNull: Boolean, value: Node) extends Node
  final case class Field(name: String, id: Int, nullable: Boolean,
      node: Node,
      /** v3 default-value clauses carried VERBATIM (compact JSON text)
        * through commits (round 17 — a re-render that dropped an
        * `initial-default` would silently corrupt every pre-addition
        * row on the next read). */
      initialDefault: Option[String] = None,
      writeDefault: Option[String] = None)

  final case class Tree(fields: Seq[Field], lastColumnId: Int)

  /** Parse the ID TREE a schema document DECLARES — the load-path twin
    * of [[of]]. A table whose nested ids some OTHER writer allocated
    * (real Iceberg interleaves them pre-order across the whole schema)
    * must have every id carried VERBATIM through every commit:
    * re-allocating (round-16 review) would re-bind the name mapping
    * away from the ids the existing data files carry, and a
    * spec-compliant field-id-addressed reader would silently serve
    * NULLs after something as small as a `set-ref`. */
  def parse(schemaNode: com.fasterxml.jackson.databind.JsonNode): Tree = {
    import scala.jdk.CollectionConverters._
    var maxId = 0
    def reg(id: Int, what: String): Int = {
      require(id > 0, s"schema document declares no $what id")
      if (id > maxId) maxId = id
      id
    }
    def nodeOf(t: com.fasterxml.jackson.databind.JsonNode): Node =
      if (t.isTextual) PrimName(t.asText)
      else t.path("type").asText match {
        case "struct" => Struct(fieldsOf(t))
        case "list" => Arr(
          reg(t.path("element-id").asInt(-1), "list element"),
          !t.path("element-required").asBoolean(false),
          nodeOf(t.get("element")))
        case "map" => MapN(
          reg(t.path("key-id").asInt(-1), "map key"),
          nodeOf(t.get("key")),
          reg(t.path("value-id").asInt(-1), "map value"),
          !t.path("value-required").asBoolean(false),
          nodeOf(t.get("value")))
        case other => throw new UnsupportedOperationException(
          s"Iceberg nested type '$other' cannot be carried through a commit")
      }
    def fieldsOf(t: com.fasterxml.jackson.databind.JsonNode): Seq[Field] =
      t.get("fields").elements().asScala.map { f =>
        def defText(key: String): Option[String] =
          Option(f.get(key)).filterNot(_.isNull).map(_.toString)
        Field(f.get("name").asText,
          reg(f.path("id").asInt(-1), s"field '${f.get("name").asText}'"),
          nullable = !f.path("required").asBoolean(false),
          nodeOf(f.get("type")),
          initialDefault = defText("initial-default"),
          writeDefault = defText("write-default"))
      }.toSeq
    val fields = fieldsOf(schemaNode)
    Tree(fields, maxId)
  }

  def of(fieldIds: Seq[(StructField, Int)]): Tree = {
    var next = (0 +: fieldIds.map(_._2)).max
    def alloc(): Int = { next += 1; next }
    def nodeOf(dt: DataType): Node = dt match {
      case s: StructType =>
        Struct(s.fields.toSeq.map(f =>
          Field(f.name, alloc(), f.nullable, nodeOf(f.dataType))))
      case ArrayType(et, cn) =>
        val id = alloc()
        Arr(id, cn, nodeOf(et))
      case MapType(kt, vt, vcn) =>
        val kid = alloc()
        val key = nodeOf(kt)
        val vid = alloc()
        MapN(kid, key, vid, vcn, nodeOf(vt))
      case other => Prim(other)
    }
    val fields = fieldIds.map { case (f, id) =>
      Field(f.name, id, f.nullable, nodeOf(f.dataType))
    }
    Tree(fields, next)
  }

  /** True when the type carries a VARIANT anywhere (top-level or
    * nested) — the v3/parquet gates key on it. */
  def hasVariant(dt: DataType): Boolean = dt match {
    case VariantType => true
    case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
    case ArrayType(e, _) => hasVariant(e)
    case MapType(k, v, _) => hasVariant(k) || hasVariant(v)
    case _ => false
  }

  /** Iceberg primitive type name (spec §Schemas). */
  def primName(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case StringType => "string"
    case BinaryType => "binary"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    // v3 (round 16): catalyst VariantType ↔ the spec's `variant` leaf
    // — the exporter raises the table to format-version 3 for it
    case VariantType => "variant"
    case other => throw new UnsupportedOperationException(
      s"Iceberg export does not map catalyst type ${other.catalogString}")
  }

  /** The field's `type` value in the metadata schema document — a
    * quoted primitive name, or the spec's struct/list/map object. */
  def typeJson(n: Node): String = n match {
    case Prim(dt) => "\"" + primName(dt) + "\""
    case PrimName(name) => "\"" + jsonEscape(name) + "\""
    case Struct(fs) =>
      s"""{"type": "struct", "fields": [${fs.map(fieldJson).mkString(", ")}]}"""
    case Arr(eid, cn, e) =>
      s"""{"type": "list", "element-id": $eid, "element-required": ${!cn}, """ +
        s""""element": ${typeJson(e)}}"""
    case MapN(kid, k, vid, vcn, v) =>
      s"""{"type": "map", "key-id": $kid, "key": ${typeJson(k)}, """ +
        s""""value-id": $vid, "value-required": ${!vcn}, """ +
        s""""value": ${typeJson(v)}}"""
  }

  def fieldJson(f: Field): String =
    s"""{"id": ${f.id}, "name": "${jsonEscape(f.name)}", "required": ${!f.nullable}, """ +
      f.initialDefault.fold("")(d => s""""initial-default": $d, """) +
      f.writeDefault.fold("")(d => s""""write-default": $d, """) +
      s""""type": ${typeJson(f.node)}}"""

  /** Recursive `schema.name-mapping.default` entries (the public
    * name-mapping spec): list elements map under "element", map
    * keys/values under "key"/"value". */
  def mappingJson(fields: Seq[Field]): String =
    s"[${fields.map(fieldMapping).mkString(", ")}]"

  private def childEntries(n: Node): Seq[String] = n match {
    case Prim(_) | PrimName(_) => Nil
    case Struct(fs) => fs.map(fieldMapping)
    case Arr(eid, _, e) =>
      Seq(entry(eid, "element", e))
    case MapN(kid, k, vid, _, v) =>
      Seq(entry(kid, "key", k), entry(vid, "value", v))
  }

  private def entry(id: Int, name: String, n: Node): String = {
    val kids = childEntries(n)
    s"""{"field-id": $id, "names": ["${jsonEscape(name)}"]""" +
      (if (kids.isEmpty) "}" else s""", "fields": [${kids.mkString(", ")}]}""")
  }

  private def fieldMapping(f: Field): String = entry(f.id, f.name, f.node)
}
