package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core._
import graft.model.TreeRow
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.jdk.CollectionConverters._

/** Document ingestion (reference database/loader/documents.py:104-220):
  * dictionaries become groups, lists become collections, scalars become
  * entities; `traverseTree` then normalizes to the metamodel — entities
  * of an object grouped under one GROUP, nested objects linked by
  * `REL::parent<->child` per collection element.
  *
  * Formats (documents.py:23-29 FILE_PARSERS): JSON, XML (per the
  * xmltodict convention), CSV (rows as a record collection), Excel
  * (xlsx subset), YAML (multi-document), and a TOML subset, all
  * normalized to one nested node shape before `readTree`.
  * `fromString` is the reference's try-each-parser chain.
  *
  * Spark-first: one document per row, the whole recursion is a pure
  * per-row function (no shuffle).
  */
object DocumentLoader {

  private val mapper = new ObjectMapper()

  /** read_tree (documents.py:104-139). */
  def readTree(node: JsonNode, rootName: String = "ROOT"): ArchiTree = {
    val name = rootName.replace(' ', '_').toLowerCase
    // properties() is a java Set: map it VIA ITERATOR or Scala rebuilds a
    // hash set and loses Jackson's insertion order
    val subElements: Seq[(String, JsonNode)] =
      if (node.isObject) node.properties().iterator.asScala.map(e => e.getKey -> e.getValue).toSeq
      else if (node.isArray) node.asScala.map(c => name -> c).toSeq
      else Seq.empty

    val children = subElements.flatMap { case (childName, child) =>
      if (child.isObject || child.isArray) Some(Child.Node(readTree(child, childName)))
      else if (child.isNull || child.asText.isEmpty) None
      else
        Some(Child.Node(ArchiTree(
          Typed(NodeType.Ent, childName.replace(' ', '_').toLowerCase),
          Vector(Child.Leaf(child.asText)))))
    }.toVector

    // flatten a single nested collection (documents.py:134-136)
    children match {
      case Vector(Child.Node(only)) if only.hasType(NodeType.Coll) => only
      case _ =>
        val label = if (node.isArray) Typed(NodeType.Coll, name) else Plain(name)
        ArchiTree(label, children)
    }
  }

  /** traverse_tree (documents.py:166-220). Returns (anchor group,
    * transformed tree). `sample` caps how many elements of each
    * collection are kept (0 = all) — the reference reservoir-samples
    * (`more_itertools.sample`); here the first N in document order are
    * taken so the pipeline stays deterministic.
    */
  def traverseTree(tree: ArchiTree, sample: Int = 0): (ArchiTree, ArchiTree) = {
    def capped(children: Vector[ArchiTree]): Vector[ArchiTree] =
      if (sample > 0) children.take(sample) else children

    if (tree.hasType(NodeType.Ent)) {
      val group = ArchiTree(Typed(NodeType.Group, tree.label.name), Vector(Child.Node(tree)))
      return (group, group)
    }
    if (tree.hasType(NodeType.Coll)) {
      val updated = tree.copy(children =
        capped(tree.childTrees).map(c => Child.Node(traverseTree(c, sample)._1): Child))
      return (updated, updated)
    }

    val entities = tree.childTrees.filter(_.hasType(NodeType.Ent))
    val nonEntities = tree.childTrees.filterNot(_.hasType(NodeType.Ent))
    val groupNode = ArchiTree(
      Typed(NodeType.Group, tree.label.name),
      entities.map(e => Child.Node(e): Child))

    val relations = scala.collection.mutable.ArrayBuffer.empty[ArchiTree]
    nonEntities.foreach { child =>
      val (childGroup, childTree) = traverseTree(child, sample)
      if (childTree.label == Plain("ROOT"))
        relations ++= childTree.childTrees

      val elements =
        if (childGroup.hasType(NodeType.Coll)) capped(childGroup.childTrees)
        else Vector(childGroup)
      elements.foreach { element =>
        val relLabel = Typed(NodeType.Rel, s"${groupNode.label.name}<->${element.label.name}")
        relations += ArchiTree(relLabel, Vector(Child.Node(groupNode), Child.Node(element)))
      }
    }

    if (relations.isEmpty) (groupNode, groupNode)
    else (groupNode, ArchiTree(Plain("ROOT"), relations.toVector.map(r => Child.Node(r): Child)))
  }

  /** parse_document_tree (documents.py:142-163): root collections yield
    * one tree per element.
    */
  def parseDocumentTree(tree: ArchiTree, sample: Int = 0): Seq[ArchiTree] = {
    val sources = if (tree.hasType(NodeType.Coll)) tree.childTrees else Vector(tree)
    sources.flatMap { t =>
      val (_, parsed) = traverseTree(t, sample)
      Option.when(parsed.children.nonEmpty)(parsed)
    }
  }

  /** One metamodel forest from one JSON string (a single document).
    * Empty/absent data is an error, matching the reference's
    * `ValueError('Empty document')` (documents.py:77-79).
    */
  def fromJsonString(json: String): Seq[ArchiTree] =
    parseDocumentTree(readTree(jsonNode(json)))

  private def jsonNode(json: String): JsonNode = {
    val node = mapper.readTree(json)
    if (node == null || node.isMissingNode || node.isNull ||
        (node.isContainerNode && node.isEmpty))
      throw new IllegalArgumentException("Empty document")
    node
  }

  // ---- XML (documents.py:25, xmltodict convention) ----

  private val nodeFactory = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance

  /** One XML element → the xmltodict nested shape (the convention the
    * reference documents at documents.py:43): attributes as `@name`
    * keys, repeated child tags collapsed to a list, trailing text of a
    * mixed element under `#text`, text-only elements as plain strings,
    * empty elements as null.
    */
  private def xmlToNode(elem: scala.xml.Node): JsonNode = {
    val attrs: Seq[(String, String)] =
      elem.attributes.iterator.map(a => ("@" + a.key) -> a.value.text).toSeq
    val childElems = elem.child.collect { case e: scala.xml.Elem => e }
    val text = elem.child.collect {
      case t: scala.xml.Text => t.text
      case t: scala.xml.PCData => t.data
    }.mkString.trim

    if (attrs.isEmpty && childElems.isEmpty) {
      if (text.isEmpty) nodeFactory.nullNode else nodeFactory.textNode(text)
    } else {
      val obj = nodeFactory.objectNode()
      attrs.foreach { case (k, v) => obj.set[JsonNode](k, nodeFactory.textNode(v)) }
      val byTag = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[JsonNode]]
      childElems.foreach { c =>
        byTag.getOrElseUpdate(c.label, scala.collection.mutable.ArrayBuffer.empty) += xmlToNode(c)
      }
      byTag.foreach { case (tag, vals) =>
        if (vals.size == 1) obj.set[JsonNode](tag, vals.head)
        else {
          val arr = nodeFactory.arrayNode()
          vals.foreach(arr.add)
          obj.set[JsonNode](tag, arr)
        }
      }
      if (text.nonEmpty) obj.set[JsonNode]("#text", nodeFactory.textNode(text))
      obj
    }
  }

  /** One metamodel forest from one XML document. Like xmltodict, the
    * result is wrapped as `{rootTag: content}` so the root tag name
    * survives into the tree.
    */
  def fromXmlString(xml: String): Seq[ArchiTree] =
    parseDocumentTree(readTree(xmlNode(xml)))

  private def xmlNode(xml: String): JsonNode = {
    val root = scala.xml.XML.loadString(xml)
    val wrapper = nodeFactory.objectNode()
    wrapper.set[JsonNode](root.label, xmlToNode(root))
    wrapper
  }

  // ---- YAML (documents.py:28: `list(yaml.YAML().load_all(x))`) ----

  private lazy val yamlMapper =
    new ObjectMapper(new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())

  /** One metamodel forest from a (possibly multi-document) YAML string.
    * Mirrors the reference exactly: the parse result is always the LIST
    * of documents, so even a single document arrives at `readTree` as a
    * one-element collection.
    */
  def fromYamlString(yaml: String): Seq[ArchiTree] =
    parseDocumentTree(readTree(yamlNode(yaml)))

  private def yamlNode(yaml: String): JsonNode = {
    val it = yamlMapper.readValues(
      yamlMapper.createParser(yaml), classOf[JsonNode])
    val docs = nodeFactory.arrayNode()
    while (it.hasNext) docs.add(it.next())
    if (docs.isEmpty) throw new IllegalArgumentException("Empty document")
    docs
  }

  // ---- CSV (documents.py:25: `pd.read_csv(x).to_dict(orient='records')`) ----

  /** One metamodel forest from a CSV document: the rows become a root
    * collection of header-keyed records, the shape the reference gets
    * from `pd.read_csv(...).to_dict(orient='records')`. A deliberately
    * STRICT subset (RFC-4180 quoting, comma delimiter, ≥ 2 distinct
    * header columns, rectangular rows): pandas' anything-parses
    * permissiveness would swallow the YAML/TOML lanes further down the
    * try-each chain. Empty fields drop like the reference's
    * `pd.notna` filter; all values stay text (no pandas dtype
    * inference, so an int column never turns into `1000.0`).
    */
  def fromCsvString(csv: String): Seq[ArchiTree] =
    parseDocumentTree(readTree(csvNode(csv)))

  private def csvNode(csv: String): JsonNode = {
    val records = CsvSubset.parse(csv)
    if (records.isEmpty) throw new IllegalArgumentException("Empty document")
    val arr = nodeFactory.arrayNode()
    records.foreach(arr.add)
    arr
  }

  // ---- Excel (documents.py:27: `pd.read_excel(sheet_name=None)`) ----

  /** One metamodel forest from an .xlsx byte array: each sheet becomes
    * a collection of row records under the sheet's name, through the
    * same `readTree` path as every other format (see [[Xlsx]] for the
    * subset contract).
    */
  def fromExcelBytes(
      bytes: Array[Byte],
      rawRead: Boolean = false,
      rootName: String = "ROOT",
      sample: Int = 0,
  ): Seq[ArchiTree] = {
    val docTree = readTree(Xlsx.parse(bytes), rootName)
    if (rawRead) Seq(docTree) else parseDocumentTree(docTree, sample)
  }

  // ---- TOML subset (documents.py:29: `toml.loads`) ----

  /** One metamodel forest from a TOML document. A deliberate SUBSET
    * parser (no TOML library on the classpath): `[table.path]`,
    * `[[array.of.tables]]`, `key = value` with basic/literal strings,
    * integers, floats, booleans, and flat arrays; no inline tables,
    * multi-line strings, or date-times.
    */
  def fromTomlString(toml: String): Seq[ArchiTree] =
    parseDocumentTree(readTree(tomlNode(toml)))

  private def tomlNode(toml: String): JsonNode = {
    val node = TomlSubset.parse(toml)
    if (node.isEmpty) throw new IllegalArgumentException("Empty document")
    node
  }

  /** The reference's try-each-parser chain (documents.py:23-29, in its
    * order minus the bytes-only Excel lane): JSON, XML, CSV, YAML,
    * TOML — first parser that accepts the content wins. CSV sits BEFORE
    * YAML like the reference's pd.read_csv does, so a YAML-looking
    * mapping whose every line carries a comma routes to the CSV lane —
    * there and here; documents needing the later lanes reach them only
    * because the strict CsvSubset rejects their shape.
    */
  def fromString(content: String): Seq[ArchiTree] = readDocument(content)

  /** `read_document` (documents.py:32-58): parse through the chain,
    * build the document tree under `rootName`, then either return it
    * untransformed (`rawRead`, documents.py:54-56) or apply the
    * metamodel transformation with the per-collection `sample` cap.
    */
  def readDocument(
      content: String,
      rawRead: Boolean = false,
      rootName: String = "ROOT",
      sample: Int = 0,
  ): Seq[ArchiTree] = {
    val parsers: Seq[String => JsonNode] =
      Seq(jsonNode, xmlNode, csvNode, yamlNode, tomlNode)
    val node = parsers.view
      .map(p => scala.util.Try(p(content)))
      .collectFirst { case scala.util.Success(n) => n }
      .getOrElse(throw new IllegalArgumentException("Unsupported file type"))
    val docTree = readTree(node, rootName)
    if (rawRead) Seq(docTree) else parseDocumentTree(docTree, sample)
  }

  /** The TOML-subset parser backing `fromTomlString`. Hand-rolled
    * line-oriented recursive descent — tables, arrays of tables, and
    * scalar/array values — producing the same nested-node shape as the
    * JSON/YAML/XML lanes.
    */
  private[sources] object TomlSubset {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

    def parse(src: String): JsonNode = {
      val root = nodeFactory.objectNode()
      var current: ObjectNode = root
      src.linesIterator.map(stripComment(_).trim).filter(_.nonEmpty).foreach { line =>
        if (line.startsWith("[[") && line.endsWith("]]")) {
          val path = splitPath(line.substring(2, line.length - 2))
          val parent = descend(root, path.init)
          val arr = parent.get(path.last) match {
            case a: ArrayNode => a
            case null =>
              val a = nodeFactory.arrayNode(); parent.set[JsonNode](path.last, a); a
            case _ => throw new IllegalArgumentException(
              s"not an array of tables: ${path.mkString(".")}")
          }
          val obj = nodeFactory.objectNode()
          arr.add(obj)
          current = obj
        } else if (line.startsWith("[") && line.endsWith("]")) {
          current = descend(root, splitPath(line.substring(1, line.length - 1)))
        } else {
          val eq = line.indexOf('=')
          if (eq <= 0) throw new IllegalArgumentException(s"invalid TOML line: $line")
          current.set[JsonNode](
            unquote(line.substring(0, eq).trim),
            parseValue(line.substring(eq + 1).trim))
        }
      }
      root
    }

    /** Cut a `#` comment not inside a quoted string. */
    private def stripComment(line: String): String = {
      var inStr = '\u0000'
      var i = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (inStr != '\u0000') {
          if (c == '\\' && inStr == '"') i += 1
          else if (c == inStr) inStr = '\u0000'
        } else if (c == '"' || c == '\'') inStr = c
        else if (c == '#') return line.substring(0, i)
        i += 1
      }
      line
    }

    private def splitPath(s: String): Seq[String] =
      s.split('.').toSeq.map(seg => unquote(seg.trim))

    private def unquote(s: String): String =
      if (s.length >= 2 && ((s.head == '"' && s.last == '"') || (s.head == '\'' && s.last == '\'')))
        s.substring(1, s.length - 1)
      else s

    /** Walk/create the table path; a segment resolving to an array of
      * tables means its LAST element (TOML's open-table rule).
      */
    private def descend(root: ObjectNode, path: Seq[String]): ObjectNode =
      path.foldLeft(root) { (node, seg) =>
        node.get(seg) match {
          case o: ObjectNode => o
          case a: ArrayNode if a.size > 0 && a.get(a.size - 1).isObject =>
            a.get(a.size - 1).asInstanceOf[ObjectNode]
          case null =>
            val o = nodeFactory.objectNode(); node.set[JsonNode](seg, o); o
          case _ => throw new IllegalArgumentException(s"not a table: $seg")
        }
      }

    private val IntRe = """[+-]?[0-9_]+""".r
    private val FloatRe = """[+-]?[0-9_]*\.?[0-9_]+([eE][+-]?[0-9]+)?""".r

    private def parseValue(s: String): JsonNode = s match {
      case "true"  => nodeFactory.booleanNode(true)
      case "false" => nodeFactory.booleanNode(false)
      case _ if s.startsWith("\"") || s.startsWith("'") =>
        nodeFactory.textNode(parseString(s))
      case _ if s.startsWith("[") =>
        if (!s.endsWith("]")) throw new IllegalArgumentException(s"unterminated array: $s")
        val arr = nodeFactory.arrayNode()
        splitTopLevel(s.substring(1, s.length - 1)).foreach(v => arr.add(parseValue(v)))
        arr
      case IntRe()   => nodeFactory.numberNode(s.replace("_", "").toLong)
      case FloatRe(_) => nodeFactory.numberNode(s.replace("_", "").toDouble)
      case _ => throw new IllegalArgumentException(s"unsupported TOML value: $s")
    }

    private def parseString(s: String): String = {
      val quote = s.head
      if (!(s.length >= 2 && s.last == quote))
        throw new IllegalArgumentException(s"unterminated string: $s")
      val body = s.substring(1, s.length - 1)
      if (quote == '\'') body // literal string: no escapes
      else {
        val sb = new StringBuilder
        var i = 0
        while (i < body.length) {
          val c = body.charAt(i)
          if (c == '\\' && i + 1 < body.length) {
            i += 1
            body.charAt(i) match {
              case 'n' => sb += '\n'
              case 't' => sb += '\t'
              case 'r' => sb += '\r'
              case '"' => sb += '"'
              case '\\' => sb += '\\'
              case 'u' if i + 4 < body.length =>
                sb += Integer.parseInt(body.substring(i + 1, i + 5), 16).toChar
                i += 4
              case other => sb += other
            }
          } else sb += c
          i += 1
        }
        sb.toString
      }
    }

    /** Split on commas outside strings and brackets. */
    private def splitTopLevel(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0
      var inStr = '\u0000'
      var start = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (inStr != '\u0000') {
          if (c == '\\' && inStr == '"') i += 1
          else if (c == inStr) inStr = '\u0000'
        } else c match {
          case '"' | '\'' => inStr = c
          case '[' => depth += 1
          case ']' => depth -= 1
          case ',' if depth == 0 =>
            out += s.substring(start, i); start = i + 1
          case _ =>
        }
        i += 1
      }
      if (start < s.length) out += s.substring(start, i)
      out.toSeq.map(_.trim).filter(_.nonEmpty)
    }
  }

  /** The CSV-subset parser backing `fromCsvString`: RFC-4180 records
    * (quoted fields may hold commas, doubled quotes, and newlines) to
    * header-keyed objects. Header-only or empty input yields no records
    * (→ "Empty document", and the try-each chain moves on); a
    * sub-2-column or duplicate header and ragged rows are rejected so
    * prose, YAML, and TOML never parse as CSV.
    */
  private[sources] object CsvSubset {

    def parse(src: String): Seq[JsonNode] = {
      val rows = records(src)
      if (rows.length < 2) return Seq.empty
      val header = rows.head
      if (header.length < 2 || header.exists(_.trim.isEmpty) ||
          header.distinct.length != header.length)
        throw new IllegalArgumentException(s"not a CSV header: ${header.mkString(",")}")
      rows.tail.map { row =>
        if (row.length != header.length)
          throw new IllegalArgumentException(s"ragged CSV row: ${row.mkString(",")}")
        val obj = nodeFactory.objectNode()
        header.zip(row).foreach { case (k, v) => obj.set[JsonNode](k, nodeFactory.textNode(v)) }
        obj
      }
    }

    /** Quote-aware record/field split. LF, CRLF, and lone CR all
      * terminate a record (pandas' C parser accepts all three), so a
      * classic-Mac CR-delimited file splits correctly and a stray
      * trailing CR never leaks into the last field's value. A trailing
      * terminator does not produce a phantom empty record (pandas
      * drops it too).
      */
    private def records(src: String): Vector[Vector[String]] = {
      val rows = Vector.newBuilder[Vector[String]]
      var fields = Vector.newBuilder[String]
      val field = new StringBuilder
      var fieldCount = 0
      var inQuotes = false
      var i = 0
      def endField(): Unit = { fields += field.toString; field.clear(); fieldCount += 1 }
      def endRecord(): Unit = {
        endField()
        rows += fields.result()
        fields = Vector.newBuilder[String]
        fieldCount = 0
      }
      while (i < src.length) {
        val c = src.charAt(i)
        if (inQuotes) {
          if (c == '"') {
            if (i + 1 < src.length && src.charAt(i + 1) == '"') { field += '"'; i += 1 }
            else inQuotes = false
          } else field += c
        } else c match {
          case '"' if field.isEmpty => inQuotes = true
          case ','                  => endField()
          case '\r' =>
            endRecord()
            if (i + 1 < src.length && src.charAt(i + 1) == '\n') i += 1
          case '\n'                 => endRecord()
          case other                => field += other
        }
        i += 1
      }
      if (inQuotes) throw new IllegalArgumentException("unterminated quoted CSV field")
      if (field.nonEmpty || fieldCount > 0) endRecord()
      rows.result()
    }
  }

  /** Document-forest salt for [[graft.sources.RelationalLoader.treeId]]
    * ids — the top of the 6-bit salt space, clear of the relational
    * loader's low ascending salts, so a document forest can be unioned
    * with a relational one without id collisions.
    */
  private val DocForestSalt = 63L

  /** Distributed document → forest: one parse call per row, tree ids
    * assigned per partition with the loader's enforced-range bit layout
    * — a single narrow pass (an `rdd.zipWithIndex` would cost an extra
    * count job and leave the vectorized scan pipeline). Positional like
    * every loader id: persist/checkpoint before reusing across actions.
    */
  def parseDocuments(docs: Dataset[String])(parse: String => Seq[ArchiTree]): Dataset[TreeRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var idx = -1L
      it.flatMap { doc =>
        parse(doc).map { t =>
          idx += 1
          TreeRow(RelationalLoader.treeId(DocForestSalt, pid, idx), t)
        }
      }
    }
  }

  /** [[parseDocuments]] for BINARY document formats (xlsx — and any
    * future zip/office container): same per-partition salted tree ids,
    * same single narrow pass, payloads stay `Array[Byte]` end to end.
    */
  def parseBinaryDocuments(docs: Dataset[Array[Byte]])(
      parse: Array[Byte] => Seq[ArchiTree]): Dataset[TreeRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var idx = -1L
      it.flatMap { doc =>
        parse(doc).map { t =>
          idx += 1
          TreeRow(RelationalLoader.treeId(DocForestSalt, pid, idx), t)
        }
      }
    }
  }

  /** Load a directory/file of JSON documents, one document per LINE. */
  def loadJsonLines(spark: SparkSession, path: String): Dataset[TreeRow] =
    parseDocuments(spark.read.textFile(path))(fromJsonString)
}
