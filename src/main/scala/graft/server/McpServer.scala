package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** MCP (Model Context Protocol) server over the engine's agent tools —
  * the protocol framing the reference exposes via FastMCP
  * (/root/reference/python/strake/mcp.py:171-296): JSON-RPC 2.0,
  * newline-delimited, over stdio (the MCP stdio transport), with the same
  * three tools:
  *
  *   search_schemas      {query, limit?}  -> relevance-ranked table/column
  *                                          hits ([[SchemaSearch]])
  *   get_schema_details  {fqn}            -> column metadata of one table
  *   run_python          {script}         -> sandboxed execution
  *                                          ([[ScriptSandbox]]), stdout
  *                                          returned, stderr wins on error
  *
  * Protocol surface: `initialize` (version + capabilities handshake),
  * `notifications/initialized`, `ping`, `tools/list` (JSON-Schema'd tool
  * declarations), `tools/call`. Tool failures return a RESULT with
  * `isError: true` and a text content item — MCP's convention, and the
  * reference's `CallToolResult(isError=True)` — not a JSON-RPC error;
  * protocol failures (parse, unknown method) return JSON-RPC errors.
  *
  * The loop reads from an InputStream and writes to an OutputStream so
  * specs can drive a full session in-memory; `main` binds stdin/stdout
  * (stderr is free for logs, as the stdio transport requires).
  */
final class McpServer(spark: SparkSession,
    sandboxPolicy: ScriptSandbox.SandboxPolicy = ScriptSandbox.SandboxPolicy(),
    /** Remote-catalog enrichment consulted by search_schemas: probed
      * descriptions (pg_catalog / information_schema / JDBC REMARKS) let
      * an opaque remote column rank for what its comment says it is.
      * Defaults to no enrichment for catalogs with declared metadata. */
    enricher: MetadataEnricher = NullEnricher,
    enricherSource: String = "") {

  private val mapper = new ObjectMapper()

  def serve(in: InputStream, out: OutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) handleLine(line).foreach { resp =>
        out.write((mapper.writeValueAsString(resp) + "\n")
          .getBytes(StandardCharsets.UTF_8))
        out.flush()
      }
      line = reader.readLine()
    }
  }

  /** One request -> Some(response) | None (notification). */
  private[graft] def handleLine(line: String): Option[ObjectNode] = {
    val req =
      try mapper.readTree(line)
      catch {
        case NonFatal(_) =>
          return Some(rpcError(null, -32700, "Parse error"))
      }
    val id = req.get("id")
    val method = Option(req.get("method")).map(_.asText()).getOrElse("")
    if (method.startsWith("notifications/")) return None
    val params = Option(req.get("params")).getOrElse(mapper.createObjectNode())
    try {
      method match {
        case "initialize"   => Some(rpcResult(id, initializeResult(params)))
        case "ping"         => Some(rpcResult(id, mapper.createObjectNode()))
        case "tools/list"   => Some(rpcResult(id, toolsList))
        case "tools/call"   => Some(rpcResult(id, toolsCall(params)))
        case _ => Some(rpcError(id, -32601, s"Method not found: $method"))
      }
    } catch {
      case NonFatal(e) => Some(rpcError(id, -32603, s"Internal error: ${e.getMessage}"))
    }
  }

  // ------------------------------------------------------------- protocol

  private def rpcResult(id: JsonNode, result: ObjectNode): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0")
    if (id != null) o.set[ObjectNode]("id", id) else o.putNull("id")
    o.set[ObjectNode]("result", result)
    o
  }

  private def rpcError(id: JsonNode, code: Int, message: String): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0")
    if (id != null) o.set[ObjectNode]("id", id) else o.putNull("id")
    val e = o.putObject("error")
    e.put("code", code); e.put("message", message)
    o
  }

  /** Protocol revisions this server implements; the handshake echoes a
    * requested version only when it is one of these, else answers with
    * the latest supported so a spec-compliant client downgrades. */
  private val SupportedVersions = Set("2024-11-05", "2025-03-26")

  private def initializeResult(params: JsonNode): ObjectNode = {
    val o = mapper.createObjectNode()
    val requested = Option(params.get("protocolVersion")).map(_.asText())
    o.put("protocolVersion",
      requested.filter(SupportedVersions).getOrElse("2025-03-26"))
    o.putObject("capabilities").putObject("tools")
    val info = o.putObject("serverInfo")
    info.put("name", "graft"); info.put("version", "0.4.0")
    o
  }

  private def toolsList: ObjectNode = {
    val o = mapper.createObjectNode()
    val tools = o.putArray("tools")
    def tool(name: String, desc: String)(props: (String, String, String)*)(
        required: String*): Unit = {
      val t = tools.addObject()
      t.put("name", name); t.put("description", desc)
      val sch = t.putObject("inputSchema")
      sch.put("type", "object")
      val ps = sch.putObject("properties")
      props.foreach { case (n, ty, d) =>
        val p = ps.putObject(n); p.put("type", ty); p.put("description", d)
      }
      val rq = sch.putArray("required")
      required.foreach(rq.add)
    }
    tool("search_schemas",
      "Search the semantic index of available tables and columns. " +
        "Use this to find which tables contain the data you need.")(
      ("query", "string", "Search query"),
      ("limit", "integer", "Maximum hits to return (default 10)"))("query")
    tool("get_schema_details",
      "Get the full column metadata for a specific table, after " +
        "discovering it via search_schemas.")(
      ("fqn", "string", "Table name, optionally qualified"))("fqn")
    tool("run_python",
      "Execute a Python script in the sandboxed runtime. Use " +
        "graft.sql('SELECT ...') for engine queries and print() for any " +
        "output you need back.")(
      ("script", "string", "Python source to execute"))("script")
    o
  }

  private def toolsCall(params: JsonNode): ObjectNode = {
    val name = Option(params.get("name")).map(_.asText()).getOrElse("")
    val args = Option(params.get("arguments")).getOrElse(mapper.createObjectNode())
    try {
      name match {
        case "search_schemas" =>
          val query = Option(args.get("query")).map(_.asText()).getOrElse("")
          val limit = Option(args.get("limit")).map(_.asInt()).getOrElse(10)
          val hits = SchemaSearch.search(spark, query, limit,
            enricher, enricherSource)
          val arr = mapper.createArrayNode()
          hits.foreach { h =>
            val o = arr.addObject()
            o.put("table", h.table)
            h.column.foreach(c => o.put("column", c))
            o.put("score", h.score)
          }
          textResult(mapper.writeValueAsString(arr), isError = false)
        case "get_schema_details" =>
          val fqn = Option(args.get("fqn")).map(_.asText()).getOrElse("")
          graft.util.Sanitize.validateIdentifier(fqn)
          val schema = spark.table(fqn).schema
          val arr = mapper.createArrayNode()
          schema.fields.foreach { f =>
            val o = arr.addObject()
            o.put("column_name", f.name)
            o.put("data_type", f.dataType.simpleString)
            o.put("nullable", f.nullable)
            // declared comments win; probed remote-catalog descriptions
            // fill the gaps (same precedence as search ranking)
            f.getComment()
              .orElse(enricher.enrich(fqn, Some(f.name), enricherSource))
              .foreach(c => o.put("column_description", c))
          }
          textResult(mapper.writeValueAsString(arr), isError = false)
        case "run_python" =>
          val script = Option(args.get("script")).map(_.asText()).getOrElse("")
          // same policy as the REST edge — a tightened serving policy
          // (strict, smaller limits) must not be bypassable over MCP
          val r = ScriptSandbox.runWithPolicy(script, sandboxPolicy)
          // reference semantics (sandbox/core.py to_str): stderr wins
          textResult(r.toStr, isError = r.stderr.nonEmpty || r.timedOut)
        case other =>
          textResult(s"Error: unknown tool '$other'", isError = true)
      }
    } catch {
      case NonFatal(e) => textResult(s"Error: ${e.getMessage}", isError = true)
    }
  }

  private def textResult(text: String, isError: Boolean): ObjectNode = {
    val o = mapper.createObjectNode()
    val c = o.putArray("content").addObject()
    c.put("type", "text"); c.put("text", text)
    o.put("isError", isError)
    o
  }
}

object McpServer {
  /** Stdio entry point (`runMain graft.server.McpServer <sfDir>`): serves
    * MCP on stdin/stdout with the parquet tables registered. */
  def main(args: Array[String]): Unit = {
    val spark = graft.session.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption.foreach(dir => graft.Tables(spark, dir).registerAll())
    new McpServer(spark).serve(System.in, System.out)
  }
}
