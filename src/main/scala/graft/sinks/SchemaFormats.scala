package graft.sinks

import org.apache.spark.sql.types._

import graft.model.JsonText.escape

/** Schema-to-schema conversions for the stencil sink (reference:
  * plugins/sinks/stencil/stencil.go:120-148): a table's column schema →
  * JSON-Schema draft 2020-12, or → an Avro record schema. Pure driver-side
  * metadata transforms (schemas are KB-sized; no Spark job involved).
  */
object SchemaFormats {

  /** Spark type → JSON-Schema type keyword (stencil.go JSON mapping). */
  def jsonSchemaType(dt: DataType): String = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => "number"
    case _: FloatType | _: DoubleType | _: DecimalType => "number"
    case _: BooleanType => "boolean"
    case _: ArrayType => "array"
    case _: StructType | _: MapType => "object"
    case _ => "string"
  }

  /** Spark type → Avro primitive type (stencil.go Avro mapping). */
  def avroType(dt: DataType): String = dt match {
    case _: ByteType | _: ShortType | _: IntegerType => "int"
    case _: LongType => "long"
    case _: FloatType => "float"
    case _: DoubleType | _: DecimalType => "double"
    case _: BooleanType => "boolean"
    case _: BinaryType => "bytes"
    case _: ArrayType => "array"
    case _: StructType | _: MapType => "record"
    case _ => "string"
  }

  /** JSON-Schema draft 2020-12 document for a struct
    * (stencil.go:120-133).
    */
  def toJsonSchema(schema: StructType, id: String, description: String = ""): String = {
    val props = schema.fields.map { f =>
      val t =
        if (f.nullable) s"""["${jsonSchemaType(f.dataType)}", "null"]"""
        else s""""${jsonSchemaType(f.dataType)}""""
      s""""${escape(f.name)}": {"type": $t}"""
    }.mkString(", ")
    s"""{"$$schema": "https://json-schema.org/draft/2020-12/schema", """ +
      s""""$$id": "${escape(id)}", "description": "${escape(description)}", """ +
      s""""type": "object", "properties": {$props}}"""
  }

  /** Avro record schema document for a struct (stencil.go:136-148). */
  def toAvroSchema(schema: StructType, name: String): String = {
    val fields = schema.fields.map { f =>
      val t =
        if (f.nullable) s"""["null", "${avroType(f.dataType)}"]"""
        else s""""${avroType(f.dataType)}""""
      s"""{"name": "${escape(f.name)}", "type": $t}"""
    }.mkString(", ")
    s"""{"type": "record", "name": "${escape(name)}", "fields": [$fields]}"""
  }

  // --- column-facet variants: asset schemas carry source-native type NAMES
  // (e.g. "varchar", "bigint"), not Spark DataTypes ---

  // binary checks must precede numeric ones: "bytes" contains "byte"
  private def isBinaryName(n: String): Boolean =
    n.contains("binary") || n.contains("blob") || n.contains("bytes")

  private def nameToJsonSchemaType(t: String): String = {
    val n = t.toLowerCase
    if (n.startsWith("array")) "array"
    else if (n.startsWith("struct") || n.startsWith("map")) "object"
    else if (isBinaryName(n)) "string"
    else if (n.contains("bool")) "boolean"
    else if (Seq("int", "long", "short", "byte", "float", "double", "decimal",
      "numeric", "real", "number").exists(n.contains)) "number"
    else "string"
  }

  private def nameToAvroType(t: String): String = {
    val n = t.toLowerCase
    if (n.startsWith("array")) "array"
    else if (n.startsWith("struct") || n.startsWith("map")) "record"
    else if (isBinaryName(n)) "bytes"
    else if (n.contains("bool")) "boolean"
    else if (n.contains("bigint") || n == "long") "long"
    else if (n.contains("int") || n.contains("short") || n.contains("byte")) "int"
    else if (n == "float" || n == "real") "float"
    else if (Seq("double", "decimal", "numeric", "number").exists(n.contains)) "double"
    else "string"
  }

  /** JSON-Schema document from a column facet:
    * (name, source type name, nullable) triples. `id` is the reference's
    * `urn + ".json"` and `title` the table name (stencil.go:120-133).
    */
  def columnsToJsonSchema(cols: Seq[(String, String, Boolean)], id: String,
                          title: String = "",
                          description: String = ""): String = {
    val props = cols.map { case (name, t, nullable) =>
      val jt =
        if (nullable) s"""["${nameToJsonSchemaType(t)}", "null"]"""
        else s""""${nameToJsonSchemaType(t)}""""
      s""""${escape(name)}": {"type": $jt}"""
    }.mkString(", ")
    val titlePart =
      if (title.nonEmpty) s""""title": "${escape(title)}", """ else ""
    s"""{"$$schema": "https://json-schema.org/draft/2020-12/schema", """ +
      s""""$$id": "${escape(id)}", $titlePart""" +
      s""""description": "${escape(description)}", """ +
      s""""type": "object", "properties": {$props}}"""
  }

  /** Avro record schema document from a column facet — record name = table
    * name, namespace = the stencil namespace id (stencil.go:136-148).
    */
  def columnsToAvroSchema(cols: Seq[(String, String, Boolean)], name: String,
                          namespace: String = ""): String = {
    val fields = cols.map { case (n, t, nullable) =>
      val at =
        if (nullable) s"""["null", "${nameToAvroType(t)}"]"""
        else s""""${nameToAvroType(t)}""""
      s"""{"name": "${escape(n)}", "type": $at}"""
    }.mkString(", ")
    val nsPart =
      if (namespace.nonEmpty) s""""namespace": "${escape(namespace)}", """ else ""
    s"""{"type": "record", $nsPart"name": "${escape(name)}", "fields": [$fields]}"""
  }
}
