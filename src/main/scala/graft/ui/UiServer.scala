package graft.ui

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.NodeType
import graft.llm.Labelling
import graft.model.{Forest, Schema, TreeRow}
import graft.rewrite.Rewrite
import graft.util.Json.quote

/** Browser workbench over the library — the reference's streamlit app
  * (ui/__init__.py:1-57, ui/page modules) re-expressed as a dependency-free
  * JDK `HttpServer` + JSON API + one static page. Same page surface:
  * import (relational dir / JSONL / document file / BRAT archive),
  * export (JSONL / SQL script / Cypher script), visualize (schema +
  * group instances), labelling (manual rename + LLM proposals), and
  * simplification (`rewrite` with tau/decay/epochs), with the
  * trees/entities/groups/relations metric header and previous-value
  * deltas (ui/utils.py:10-42).
  *
  * Scale notes: every mutation stays a `Dataset` transformation — the
  * forest is persisted, the old lineage unpersisted, and ONLY bounded
  * things ever reach the driver: the schema (bounded by label variety),
  * instance previews and export scripts (explicit row caps via
  * `take(limit)`), and the four metric counts. The server is a thin
  * control plane; a 100-TB forest sits untouched in executor storage.
  */
object UiServer {

  final case class Running(server: HttpServer, state: State) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  /** Session state: current forest + metric snapshots (the reference
    * keeps the same pair in `st.session_state`, ui/utils.py:10-28).
    */
  final class State(val spark: SparkSession) {
    @volatile private var forestOpt: Option[Dataset[TreeRow]] = None
    @volatile private var schemaCache: Option[Schema] = None
    @volatile var prevMetrics: Map[String, Long] = emptyMetrics
    @volatile var currMetrics: Map[String, Long] = emptyMetrics

    private def emptyMetrics =
      Map("trees" -> 0L, "entities" -> 0L, "groups" -> 0L, "relations" -> 0L)

    def forest: Option[Dataset[TreeRow]] = forestOpt

    def schema: Option[Schema] = synchronized {
      if (schemaCache.isEmpty)
        schemaCache = forestOpt.map(f => Schema.fromForest(Forest.toNodesDF(f)))
      schemaCache
    }

    /** Swap in a new forest: persist it, drop the old one's cache, and
      * refresh the metric header (ui/utils.py:25-42 `update_metrics`).
      */
    def update(next: Option[Dataset[TreeRow]]): Unit = synchronized {
      val old = forestOpt
      forestOpt = next.map { f =>
        val p = f.persist()
        p.count() // materialize before the old cache (its input) is freed
        p
      }
      old.foreach(_.unpersist())
      schemaCache = None
      prevMetrics = currMetrics
      currMetrics = forestOpt match {
        case None => emptyMetrics
        case Some(f) =>
          val s = schema.get
          Map("trees" -> f.count(), "entities" -> s.entities.size.toLong,
            "groups" -> s.groups.size.toLong, "relations" -> s.relations.size.toLong)
      }
    }
  }

  /** Binds loopback unless `bindAll` is set: the API reads and writes
    * filesystem paths from query parameters, so a wildcard bind would hand
    * those capabilities to anyone on the network. Non-local exposure is an
    * explicit opt-in (`Cli ui --bind-all`), mirroring streamlit's own
    * localhost default.
    */
  def start(spark: SparkSession, port: Int = 0, bindAll: Boolean = false): Running = {
    val state = new State(spark)
    val addr =
      if (bindAll) new InetSocketAddress(port)
      else new InetSocketAddress(java.net.InetAddress.getLoopbackAddress, port)
    val server = HttpServer.create(addr, 0)
    server.createContext("/", handler(state))
    server.setExecutor(null) // single-threaded: mutations serialize naturally
    server.start()
    Running(server, state)
  }

  // ---- request plumbing -------------------------------------------------

  private def params(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split('&').filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k)    => Some(dec(k) -> "")
        case _           => None
      }
    }.toMap
  }
  private def dec(s: String) = java.net.URLDecoder.decode(s, UTF_8)

  private def respond(ex: HttpExchange, code: Int, body: String,
      mime: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$mime; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def jsonMetrics(state: State): String = {
    def obj(m: Map[String, Long]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:$v" }
        .mkString("{", ",", "}")
    s"""{"current":${obj(state.currMetrics)},"previous":${obj(state.prevMetrics)}}"""
  }

  private def jsonSchema(s: Schema): String = {
    val groups = s.groups.toSeq.sortBy(_.name).map { g =>
      s"${quote(g.name)}:${g.entities.toSeq.sorted.map(quote).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val rels = s.relations.toSeq.sortBy(_.name).map { r =>
      s"""{"name":${quote(r.name)},"left":${quote(r.left)},"right":${quote(r.right)}}"""
    }.mkString("[", ",", "]")
    val prods = s.productions.map(p => quote(p.toString)).mkString("[", ",", "]")
    val ents = s.entities.toSeq.sorted.map(quote).mkString("[", ",", "]")
    s"""{"groups":$groups,"relations":$rels,"entities":$ents,"productions":$prods}"""
  }

  // ---- handlers ---------------------------------------------------------

  private def handler(state: State): HttpHandler = (ex: HttpExchange) =>
    try route(state, ex)
    catch {
      case e: Throwable =>
        respond(ex, 500, s"""{"error":${quote(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}""")
    } finally ex.close()

  private def route(state: State, ex: HttpExchange): Unit = {
    val spark = state.spark
    val p = params(ex)
    def need(k: String) =
      p.getOrElse(k, throw new IllegalArgumentException(s"missing parameter: $k"))
    def forest() =
      state.forest.getOrElse(throw new IllegalStateException("no data loaded"))
    def ok(extra: String = ""): String =
      if (extra.isEmpty) s"""{"ok":true,"metrics":${jsonMetrics(state)}}"""
      else s"""{"ok":true,$extra,"metrics":${jsonMetrics(state)}}"""

    (ex.getRequestMethod, ex.getRequestURI.getPath) match {
      case ("GET", "/") => respond(ex, 200, Page.html, "text/html")

      case ("GET", "/api/metrics") => respond(ex, 200, jsonMetrics(state))

      case ("GET", "/api/schema") =>
        respond(ex, 200, state.schema.map(jsonSchema).getOrElse("""{"error":"no data loaded"}"""))

      // visualizer instance preview (ui/page/visualizer.py:75-105):
      // distributed flatMap over the trees, capped take — never a full
      // collect
      case ("GET", "/api/instances") =>
        val group = need("group")
        val limit = p.getOrElse("limit", "100").toInt
        import spark.implicits._
        val rows = forest()
          .flatMap(_.tree.groupInstances(group))
          .take(limit)
        val cols = rows.flatMap(_.keys).distinct.sorted
        val body = rows.map { r =>
          cols.flatMap(c => r.get(c).map(v => s"${quote(c)}:${quote(v)}"))
            .mkString("{", ",", "}")
        }.mkString("[", ",", "]")
        respond(ex, 200,
          s"""{"columns":${cols.map(quote).mkString("[", ",", "]")},"rows":$body}""")

      case ("POST", "/api/import/relational") =>
        val db = p.getOrElse("db", "customer") match {
          case "customer" => graft.sources.Testdata.customerDb
          case "orders"   => graft.sources.Testdata.ordersDb
          case other => throw new IllegalArgumentException(s"unknown db config: $other")
        }
        state.update(Some(graft.sources.RelationalLoader.load(spark, need("dir"), db)))
        respond(ex, 200, ok())

      case ("POST", "/api/import/jsonl") =>
        state.update(Some(graft.sinks.Jsonl.read(spark, need("path"))))
        respond(ex, 200, ok())

      case ("POST", "/api/import/document") =>
        val content = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(need("path"))), UTF_8)
        val trees = graft.sources.DocumentLoader.readDocument(content,
          rawRead = p.get("raw").contains("true"),
          sample = p.getOrElse("sample", "0").toInt)
        state.update(Some(Forest.fromTrees(spark, trees)))
        respond(ex, 200, ok())

      // text-corpus import (ui/page/importer.py:51-117): BRAT archives
      // through the whitespace parser — the env-free stand-in behind the
      // same SentenceParser seam the Benepar/CoreNLP backends use
      case ("POST", "/api/import/brat") =>
        val sentences = graft.nlp.Brat.loadArchives(spark, need("pattern"))
        state.update(Some(new graft.nlp.WhitespaceParser().parseBatch(sentences)))
        respond(ex, 200, ok())

      case ("POST", "/api/clear") =>
        state.update(None)
        respond(ex, 200, ok())

      case ("POST", "/api/rewrite") =>
        val cfg = Rewrite.Config(
          tau = p.getOrElse("tau", "0.7").toDouble,
          decay = p.getOrElse("decay", "2.0").toDouble,
          epochs = p.getOrElse("epochs", "100").toInt,
          minSupport = p.get("minSupport").map(_.toInt),
          schemaOnly = p.get("schemaOnly").contains("true"))
        val res = Rewrite.rewriteWithStats(forest(), cfg)
        state.update(Some(res.forest))
        respond(ex, 200,
          ok(s""""epochsToConverge":${res.epochsToConverge.map(_.toString).getOrElse("null")}"""))

      case ("POST", "/api/rename") =>
        val nt = need("type") match {
          case "GROUP" => NodeType.Group
          case "REL"   => NodeType.Rel
          case other => throw new IllegalArgumentException(s"unknown node type: $other")
        }
        val renamed = Labelling.applyRenaming(forest(),
          Set(Labelling.Renaming(nt, need("old"), need("new"))))
        state.update(Some(renamed))
        respond(ex, 200, ok())

      // LLM labelling (ui/page/labelling.py:60-135): proposals through
      // the LlmClient seam (deterministic offline client by default)
      case ("POST", "/api/labelling/llm") =>
        val f = forest()
        val s = state.schema.get
        val client = new Labelling.UppercaseLabelClient
        val gr = Labelling.groupLabelling(s, client)
        val rr = Labelling.relationLabelling(s, client, groupRenames = gr)
        state.update(Some(Labelling.applyRenaming(f, gr ++ rr)))
        respond(ex, 200, ok(s""""renames":${(gr ++ rr).size}"""))

      case ("GET", "/api/export/cypher") =>
        val s = state.schema.get
        val exp = graft.cypher.CypherExporter.export(forest(), s)
        val limit = p.getOrElse("limit", "1000").toInt
        val stmts = exp.statements.take(limit)
        respond(ex, 200, (stmts ++ exp.cleanup).mkString("\n"), "text/plain")

      case ("GET", "/api/export/sql") =>
        val s = state.schema.get
        val exp = graft.sinks.SqlExporter.export(Forest.toNodesDF(forest()), s)
        try {
          val counts = exp.tables.toSeq.sortBy(_._1)
            .map { case (t, df) => s"-- $t: ${df.count()} rows" }
          respond(ex, 200, (exp.ddl ++ counts).mkString("\n"), "text/plain")
        } finally exp.release()

      case ("POST", "/api/export/jsonl") =>
        graft.sinks.Jsonl.write(forest(), need("path"))
        respond(ex, 200, ok(s""""path":${quote(need("path"))}"""))

      case (_, path) =>
        respond(ex, 404, s"""{"error":${quote(s"no route: $path")}}""")
    }
  }
}
