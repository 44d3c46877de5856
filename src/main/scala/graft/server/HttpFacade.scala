package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.engine.TroughEngine

/** The reference's wire contract as three HTTP servers over one engine:
  *
  *  - **read** (default `:6444`, trough/read.py:70-98): POST a single
  *    SELECT, segment picked by `?segment=` or the Host header's first
  *    label; answers a streamed JSON array in the reference's exact
  *    shape (`[` + rows joined by `,\n` + `]\n`), errors as
  *    `500 Server Error: <msg>\n` text.
  *  - **write** (default `:6222`, trough/write.py:47-65): POST a write
  *    script, same segment addressing; answers `OK\n`, errors as the
  *    read server does (including the reference's write-lock refusal
  *    message).
  *  - **segment manager** (default `:6112`, the sync-local port,
  *    trough/wsgi/segment_manager.py:11-132): provision (JSON and the
  *    deprecated text form), promote, the schema CRUD endpoints with
  *    the reference's 400 texts and 201/204 codes, and segment DELETE
  *    with its 204/404/400 contract.
  *
  * Built on the JDK's `com.sun.net.httpserver` (no new dependencies);
  * each server runs handlers on a cached thread pool, and the read
  * response is CHUNKED — rows stream from `resultJsonIter`'s
  * `toLocalIterator` as they arrive, never materialized server-side.
  *
  * Scale note: this facade is the single-node serving shim for clients
  * of the reference protocol. The engine underneath answers each read
  * as a distributed Spark job, so one facade node serves query traffic
  * against cluster-resident data; for HA/throughput, run one facade per
  * driver behind ordinary HTTP load balancing (the reference's
  * rethinkdb-driven replica selection dissolved into the Spark
  * scheduler — SURVEY §2.A8).
  */
class HttpFacade(
    val engine: TroughEngine,
    readPort: Int = 6444,
    writePort: Int = 6222,
    syncPort: Int = 6112,
    hostname: String = "localhost",
    durableRoot: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private var servers: Seq[HttpServer] = Nil
  private var executors: Seq[java.util.concurrent.ExecutorService] = Nil
  private var read0, write0, sync0 = -1

  /** Actual bound ports (differ from the requested ones when 0 was
    * passed to bind ephemerally, as the specs do). */
  def boundReadPort: Int = read0
  def boundWritePort: Int = write0
  def boundSyncPort: Int = sync0

  def start(): this.type = synchronized {
    require(servers.isEmpty, "already started")
    // TCP_NODELAY on response sockets: chunked row streaming writes
    // small segments, and Nagle + the peer's delayed ACK added a flat
    // ~35 ms to every request (measured r19: 19 -> 52 req/s sequential
    // from this property alone)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    def serve(port: Int, handler: HttpHandler, role: String): HttpServer = {
      val s = HttpServer.create(new InetSocketAddress(port), 0)
      s.createContext("/", handler)
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val pool = java.util.concurrent.Executors.newCachedThreadPool(
        (r: Runnable) => new Thread(r, s"${HttpFacade.ThreadPrefix}$role-${n.incrementAndGet()}"))
      executors :+= pool
      s.setExecutor(pool)
      s.start()
      s
    }
    val r = serve(readPort, readHandler, "read")
    val w = serve(writePort, writeHandler, "write")
    val m = serve(syncPort, managerHandler, "sync")
    servers = Seq(r, w, m)
    read0 = r.getAddress.getPort
    write0 = w.getAddress.getPort
    sync0 = m.getAddress.getPort
    this
  }

  /** Stops the servers and their request threads, so that nothing of
    * the facade keeps the JVM alive. */
  def stop(): Unit = synchronized {
    servers.foreach(_.stop(0))
    servers = Nil
    executors.foreach(_.shutdown())
    executors.foreach(_.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS))
    executors = Nil
  }

  // ---------------------------------------------------------------- plumbing

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def respond(ex: HttpExchange, status: Int, contentType: String,
      text: String): Unit = {
    val bytes = text.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    // 204s carry no body: sendResponseHeaders demands -1 for them
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The reference's error shape for read/write: status 500, plain text
    * `500 Server Error: <msg>\n` (read.py:96-98, write.py:63-65). */
  private def serverError(ex: HttpExchange, e: Throwable): Unit =
    respond(ex, 500, "text/plain",
      s"500 Server Error: ${Option(e.getMessage).getOrElse(e.toString)}\n")

  /** Segment addressing, reference read.py:74: the `?segment=` query
    * variable, else the Host header's first dot-label. */
  private def segmentOf(ex: HttpExchange): String = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").collectFirst {
      case kv if kv.startsWith("segment=") =>
        java.net.URLDecoder.decode(kv.drop("segment=".length), UTF_8)
    }.getOrElse {
      Option(ex.getRequestHeaders.getFirst("Host")).getOrElse("")
        .split("\\.")(0).split(":")(0)
    }
  }

  private def handler(f: HttpExchange => Unit): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      try f(ex)
      catch { case NonFatal(e) => try serverError(ex, e) catch { case NonFatal(_) => () } }
      finally ex.close()
  }

  private def writeUrl(segmentId: String): String =
    s"http://$hostname:${if (write0 > 0) write0 else writePort}/?segment=$segmentId"

  // -------------------------------------------------------------- read :6444

  private val readHandler = handler { ex =>
    val segment = segmentOf(ex)
    val sql = body(ex)
    // everything that can 500 — the single-SELECT gate, segment
    // existence, analysis — throws HERE, before headers go out ...
    val it = engine.resultJsonIter(engine.read(segment, sql))
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // small results buffer and go out with Content-Length in ONE write
    // (r19): the common serving case is a few rows, and per-chunk
    // writes pay streaming overhead for nothing. Past the budget the
    // response switches to chunked and rows stream, memory-bounded —
    // a mid-stream executor failure can then only truncate the body,
    // which is also the reference's behavior (read.py:46-48).
    val budget = 1 << 16
    val head = new java.io.ByteArrayOutputStream(budget)
    while (it.hasNext && head.size() < budget)
      head.write(it.next().getBytes(UTF_8))
    if (!it.hasNext) {
      ex.sendResponseHeaders(200, head.size().toLong)
      val os = ex.getResponseBody
      head.writeTo(os)
      os.close()
    } else {
      ex.sendResponseHeaders(200, 0) // length 0 = chunked: rows stream
      val os = ex.getResponseBody
      head.writeTo(os)
      it.foreach(chunk => os.write(chunk.getBytes(UTF_8)))
      os.close()
    }
  }

  // ------------------------------------------------------------- write :6222

  private val writeHandler = handler { ex =>
    val segment = segmentOf(ex)
    val out = engine.write(segment, body(ex)) // "OK\n"
    respond(ex, 200, "text/plain", out)
  }

  // --------------------------------------------------- segment manager :6112

  private def json(fields: (String, Any)*): String = {
    val node = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Int) => node.put(k, v.toLong)
      case (k, v) => node.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(node)
  }

  private val managerHandler = handler { ex =>
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    (method, path) match {
      // deprecated api: POST a bare segment id, get the write url back
      // as text (segment_manager.py:12-18)
      case ("POST", "/") =>
        val segmentId = body(ex).trim
        engine.provisionWritable(segmentId)
        respond(ex, 200, "text/plain", writeUrl(segmentId))

      case ("POST", "/provision") => provision(ex)
      case ("POST", "/promote") => promote(ex)

      case ("GET", "/schema") =>
        respond(ex, 200, "application/json",
          mapper.writeValueAsString(engine.schemas.list().toArray))

      case (m, SchemaSqlPath(id)) => schemaSql(ex, m, id)
      case (m, SchemaPath(id)) => schema(ex, m, id)

      case ("DELETE", SegmentPath(id)) => deleteSegment(ex, id)

      // known routes with the wrong verb are the reference's 405s
      // (flask method routing, segment_manager.py:12-52)
      case (_, "/") | (_, "/provision") | (_, "/promote") =>
        respond(ex, 405, "text/plain", "405 Method Not Allowed\n")

      case _ => respond(ex, 404, "text/plain", "404 Not Found\n")
    }
  }

  private val SchemaPath = "/schema/([^/]+)".r
  private val SchemaSqlPath = "/schema/([^/]+)/sql".r
  private val SegmentPath = "/segment/([^/]+)".r

  /** POST /provision (segment_manager.py:20-38): JSON in, the
    * reference's result dict out; client errors (the cold-storage
    * refusal) answer 400 `{"error": msg}`. */
  private def provision(ex: HttpExchange): Unit = {
    val req = mapper.readTree(body(ex))
    val segmentId = req.get("segment").asText()
    val schemaId =
      if (req.hasNonNull("schema")) req.get("schema").asText() else "default"
    try {
      engine.provisionWritable(segmentId, schemaId)
      respond(ex, 200, "application/json", json(
        "write_url" -> writeUrl(segmentId),
        "result" -> "success",
        "size" -> engine.store.segmentSizeBytes(segmentId),
        "schema" -> schemaId))
    } catch {
      // client-caused refusals — the cold-storage range (sync.py:
      // 1050-1068) and a hostile segment id — are the reference's
      // ClientError → 400 {'error': msg}; an unknown schema id is a
      // plain Exception there → falls through to the 500 handler
      case e: IllegalStateException =>
        respond(ex, 400, "application/json", json("error" -> e.getMessage))
      case e: IllegalArgumentException if !e.getMessage.contains("no such schema") =>
        respond(ex, 400, "application/json", json("error" -> e.getMessage))
    }
  }

  /** POST /promote (segment_manager.py:40-52): flushes the segment to
    * the durable root; answers the remote path. An unlocked segment is
    * the reference's "not currently writable" 500 (sync.py:727-733). */
  private def promote(ex: HttpExchange): Unit = {
    val req = mapper.readTree(body(ex))
    val segmentId = req.get("segment").asText()
    if (engine.writeLockHolder(segmentId).isEmpty)
      throw new IllegalStateException(
        s"Segment $segmentId is not currently writable")
    val root = durableRoot.getOrElse(
      throw new IllegalStateException("no durable root configured"))
    val remote = engine.promote(segmentId, root)
    // the reference's result dict documents the path AND the segment
    // size on disk (segment_manager.py:42-45)
    respond(ex, 200, "application/json", json(
      "remote_path" -> remote,
      "size" -> engine.store.segmentSizeBytes(segmentId)))
  }

  /** GET/PUT /schema/<id> (segment_manager.py:60-103): JSON document
    * form, with the reference's exact 400 texts for unparseable input,
    * wrong key set, url/body id mismatch, and invalid schema sql. */
  private def schema(ex: HttpExchange, method: String, id: String): Unit =
    method match {
      case "GET" =>
        engine.schemas.get(id) match {
          case Some(sql) =>
            respond(ex, 200, "application/json", json("id" -> id, "sql" -> sql))
          case None => respond(ex, 404, "text/plain", "404 Not Found\n")
        }
      case "PUT" =>
        val node =
          try mapper.readTree(body(ex))
          catch {
            case NonFatal(_) =>
              return respond(ex, 400, "text/plain",
                "input could not be parsed as json")
          }
        if (node == null || !node.isObject)
          return respond(ex, 400, "text/plain", "input could not be parsed as json")
        val keys = {
          val it = node.fieldNames()
          val b = Set.newBuilder[String]
          while (it.hasNext) b += it.next()
          b.result()
        }
        if (keys != Set("id", "sql"))
          return respond(ex, 400, "text/plain",
            s"input json has keys ${keys.mkString("{", ", ", "}")} (should be {'id', 'sql'})")
        if (node.get("id").asText() != id)
          return respond(ex, 400, "text/plain",
            s"id in json '${node.get("id").asText()}' does not match id in url '$id'")
        putSchema(ex, id, node.get("sql").asText())
      case _ => respond(ex, 405, "text/plain", "405 Method Not Allowed\n")
    }

  /** GET/PUT /schema/<id>/sql (segment_manager.py:68-75, 105-115): raw
    * sql in and out. */
  private def schemaSql(ex: HttpExchange, method: String, id: String): Unit =
    method match {
      case "GET" =>
        engine.schemas.get(id) match {
          case Some(sql) => respond(ex, 200, "application/sql", sql)
          case None => respond(ex, 404, "text/plain", "404 Not Found\n")
        }
      case "PUT" => putSchema(ex, id, body(ex))
      case _ => respond(ex, 405, "text/plain", "405 Method Not Allowed\n")
    }

  /** Shared create-or-update: 400 with the reference's validation text,
    * 201 on create, 204 on update (segment_manager.py:96-103). */
  private def putSchema(ex: HttpExchange, id: String, sql: String): Unit =
    engine.schemas.validate(sql) match {
      case Some(err) =>
        respond(ex, 400, "text/plain", s"schema sql failed validation: $err")
      case None =>
        val created = engine.schemas.get(id).isEmpty
        engine.schemas.put(id, sql)
        respond(ex, if (created) 201 else 204, "text/plain", "")
    }

  /** DELETE /segment/<id> (segment_manager.py:117-129): 204 deleted,
    * 404 unknown id, 400 refused (write-locked). */
  private def deleteSegment(ex: HttpExchange, id: String): Unit = {
    if (!engine.store.segmentExists(id))
      return respond(ex, 404, "text/plain", "404 Not Found\n")
    try {
      engine.deleteSegment(id)
      respond(ex, 204, "text/plain", "")
    } catch {
      case _: IllegalStateException =>
        respond(ex, 400, "text/plain", "400 Bad Request\n")
    }
  }
}

object HttpFacade {
  /** Name prefix of the facade's request threads. */
  val ThreadPrefix = "graft-http-"
}
