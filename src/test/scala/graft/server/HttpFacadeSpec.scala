package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpecBase
import graft.engine.{SchemaRegistry, SegmentStore, TroughEngine}

/** The reference wire contract, end to end over real HTTP: provision →
  * write → read round trips with the reference's byte shapes, status
  * codes, and error texts (read.py, write.py, wsgi/segment_manager.py).
  * Servers bind ephemeral ports; requests go through the JDK client. */
class HttpFacadeSpec extends SparkSpecBase
    with org.scalatest.BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("graft-http").toString
  private lazy val durable = Files.createTempDirectory("graft-http-durable").toString
  // nodeName 'test01' matches the reference test fixture's
  // settings['HOSTNAME'] so the byte-exact lock message ports verbatim
  private lazy val engine = {
    val store = new SegmentStore(spark, root,
      coldPredicate = _.startsWith("cold"))
    new TroughEngine(spark, store, new SchemaRegistry, nodeName = "test01")
  }
  private lazy val facade =
    new HttpFacade(engine, readPort = 0, writePort = 0, syncPort = 0,
      durableRoot = Some(durable)).start()

  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = facade.stop()

  private def req(port: Int, path: String): HttpRequest.Builder =
    HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))

  private def send(r: HttpRequest): HttpResponse[String] =
    client.send(r, HttpResponse.BodyHandlers.ofString(UTF_8))

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    send(req(port, path).POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build())

  // ------------------------------------------------------------- lifecycle

  test("provision → write → read round trip with reference byte shapes") {
    val prov = post(facade.boundSyncPort, "/provision",
      """{"segment": "http1", "schema": "default"}""")
    assert(prov.statusCode() == 200)
    assert(prov.headers().firstValue("Content-Type").get().startsWith("application/json"))
    assert(prov.body().contains("\"result\":\"success\""))
    assert(prov.body().contains(
      s""""write_url":"http://localhost:${facade.boundWritePort}/?segment=http1""""))

    val wr = post(facade.boundWritePort, "/?segment=http1",
      "CREATE TABLE test (id INTEGER PRIMARY KEY AUTOINCREMENT, test varchar(4));" +
        "INSERT INTO test (test) VALUES ('test');")
    assert(wr.statusCode() == 200)
    assert(wr.body() == "OK\n") // write.py:44 exact

    val rd = post(facade.boundReadPort, "/?segment=http1", "select * from test;")
    assert(rd.statusCode() == 200)
    assert(rd.headers().firstValue("Content-Type").get().startsWith("application/json"))
    // the reference read-test shape (test_read.py:21-27): exact bytes
    assert(rd.body() == """[{"id":1,"test":"test"}]""" + "\n")
  }

  test("REAL values ride the wire in python repr shape (read.py:44 ujson)") {
    // goldens generated by python json.dumps (== repr; modern ujson
    // renders floats identically): fixed notation up to 1e16, then
    // scientific with no forced '.0' mantissa, two-digit-minimum
    // exponent; Java's Double.toString would write 1.23456785E7 here
    val goldens = Seq(
      12345678.5 -> "12345678.5",
      1e7 -> "10000000.0",
      123456.0 -> "123456.0",
      0.5 -> "0.5",
      1e16 -> "1e+16",
      9999999999999998.0 -> "9999999999999998.0",
      1.5e16 -> "1.5e+16",
      1e-5 -> "1e-05",
      1e-4 -> "0.0001",
      0.30000000000000004 -> "0.30000000000000004",
      1.0 / 3.0 -> "0.3333333333333333",
      java.lang.Double.MIN_VALUE -> "5e-324",
      java.lang.Double.MAX_VALUE -> "1.7976931348623157e+308",
      2.5e15 -> "2500000000000000.0",
      42.19642857142857 -> "42.19642857142857",
      100.0 / 7.0 -> "14.285714285714286",
      -12345678.5 -> "-12345678.5",
      -1e-7 -> "-1e-07")
    for ((d, want) <- goldens)
      assert(graft.engine.JsonShape.pyFloat(d) == want, s"pyFloat($d)")

    post(facade.boundSyncPort, "/provision", """{"segment": "httpreal"}""")
    post(facade.boundWritePort, "/?segment=httpreal",
      "CREATE TABLE r (k INTEGER PRIMARY KEY, x REAL);" +
        "INSERT INTO r VALUES (1, 12345678.5), (2, 1.0e16), (3, 0.00001);")
    val rd = post(facade.boundReadPort, "/?segment=httpreal",
      "SELECT k, x FROM r ORDER BY k;")
    assert(rd.body() ==
      "[{\"k\":1,\"x\":12345678.5},\n{\"k\":2,\"x\":1e+16},\n" +
        "{\"k\":3,\"x\":1e-05}]\n")
  }

  test("ujson1 mode renders the pinned fork's double_precision=10 shape (VERDICT r10)") {
    // goldens from public ultrajson 1.x behavior (pre-2.0 default
    // double_precision=10, modp_dtoa-style encoder): fraction rounded
    // to 10 decimal places, trailing zeros stripped, bare .0 kept;
    // |v| past 1e16-1 via C %.15e; sub-precision magnitudes collapse
    // to 0.0 and -0.0 loses its sign (both faithful fork behaviors)
    val goldens = Seq(
      1.0 / 3.0 -> "0.3333333333",
      0.1 -> "0.1",
      2.5 -> "2.5",
      3.0 -> "3.0",
      -4.75 -> "-4.75",
      12345678.5 -> "12345678.5",
      100.0 / 7.0 -> "14.2857142857",
      1e-11 -> "0.0",
      -0.0 -> "0.0",
      0.30000000000000004 -> "0.3",
      1.5e16 -> "1.500000000000000e+16",
      -1.5e16 -> "-1.500000000000000e+16")
    for ((d, want) <- goldens)
      assert(graft.engine.JsonShape.ujson1Float(d) == want, s"ujson1Float($d)")
    // both shapes agree wherever <= 10 fractional digits suffice
    Seq(0.5, 123456.0, 12345678.5, 1e-4).foreach { d =>
      assert(graft.engine.JsonShape.ujson1Float(d) ==
        graft.engine.JsonShape.pyFloat(d), s"shapes disagree at $d")
    }
    // the flag routes the WIRE through the fork shape
    System.setProperty("graft.wire.floatShape", "ujson1")
    try {
      post(facade.boundSyncPort, "/provision", """{"segment": "httpujson1"}""")
      post(facade.boundWritePort, "/?segment=httpujson1",
        "CREATE TABLE r (k INTEGER PRIMARY KEY, x REAL);" +
          "INSERT INTO r VALUES (1, 0.3333333333333333), (2, 2.5);")
      val rd = post(facade.boundReadPort, "/?segment=httpujson1",
        "SELECT k, x FROM r ORDER BY k;")
      assert(rd.body() ==
        "[{\"k\":1,\"x\":0.3333333333},\n{\"k\":2,\"x\":2.5}]\n")
    } finally System.clearProperty("graft.wire.floatShape")
  }

  test("read: multi-row stream shape is rows joined by ',\\n' (read.py:33-52)") {
    post(facade.boundSyncPort, "/provision", """{"segment": "http2"}""")
    post(facade.boundWritePort, "/?segment=http2",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT);" +
        "INSERT INTO t VALUES (1, 'a'), (2, NULL);")
    val rd = post(facade.boundReadPort, "/?segment=http2", "SELECT k, v FROM t ORDER BY k;")
    assert(rd.body() == "[{\"k\":1,\"v\":\"a\"},\n{\"k\":2,\"v\":null}]\n")
  }

  test("read: Host-header first label addresses the segment (read.py:74)") {
    // the JDK client refuses to forge Host — speak HTTP/1.1 raw
    val sql = "SELECT count(*) AS n FROM t;"
    val sock = new java.net.Socket("localhost", facade.boundReadPort)
    try {
      val out = sock.getOutputStream
      out.write(
        (s"POST / HTTP/1.1\r\nHost: http2.example.com:${facade.boundReadPort}\r\n" +
          s"Content-Length: ${sql.length}\r\nConnection: close\r\n\r\n" + sql)
          .getBytes(UTF_8))
      out.flush()
      val resp = new String(sock.getInputStream.readAllBytes(), UTF_8)
      assert(resp.startsWith("HTTP/1.1 200"))
      assert(resp.contains("[{\"n\":2}]\n")) // chunk framing follows the body
    } finally sock.close()
  }

  test("read gate: non-SELECT and multi-statement answer the reference 500 text") {
    for (bad <- Seq("DROP TABLE t;", "SELECT 1; SELECT 2;")) {
      val rd = post(facade.boundReadPort, "/?segment=http2", bad)
      assert(rd.statusCode() == 500)
      assert(rd.body() ==
        "500 Server Error: Exactly one SELECT query per request, please.\n")
    }
  }

  test("read: unknown segment is a 500, not a hang or empty 200") {
    val rd = post(facade.boundReadPort, "/?segment=nosuch", "SELECT 1;")
    assert(rd.statusCode() == 500)
    assert(rd.body().startsWith("500 Server Error: "))
  }

  test("write without a lock answers the reference refusal (write.py:55-57)") {
    val wr = post(facade.boundWritePort, "/?segment=neverprovisioned",
      "CREATE TABLE t (id INTEGER);")
    assert(wr.statusCode() == 500)
    assert(wr.body().contains("cannot write to segment 'neverprovisioned'"))
    assert(wr.body().contains("no write lock set"))
  }

  // -------------------------------------------------------- segment manager

  test("deprecated POST / answers the write url as text (segment_manager.py:12-18)") {
    val r = post(facade.boundSyncPort, "/", "http3")
    assert(r.statusCode() == 200)
    assert(r.body() == s"http://localhost:${facade.boundWritePort}/?segment=http3")
  }

  test("provision of a cold-range segment is the ClientError 400 (sync.py:1050-1068)") {
    val r = post(facade.boundSyncPort, "/provision", """{"segment": "cold9"}""")
    assert(r.statusCode() == 400)
    assert(r.body().startsWith("{\"error\":"))
    assert(r.body().contains("cold"))
  }

  test("schema CRUD: PUT sql 201/204, GETs, reference 400 texts (segment_manager.py:54-115)") {
    val put1 = send(req(facade.boundSyncPort, "/schema/crawlstats/sql")
      .PUT(HttpRequest.BodyPublishers.ofString(
        "CREATE TABLE stats (bucket VARCHAR(100), n INTEGER);", UTF_8)).build())
    assert(put1.statusCode() == 201) // created
    val put2 = send(req(facade.boundSyncPort, "/schema/crawlstats/sql")
      .PUT(HttpRequest.BodyPublishers.ofString(
        "CREATE TABLE stats (bucket VARCHAR(100), n INTEGER, w REAL);", UTF_8)).build())
    assert(put2.statusCode() == 204) // updated

    val list = send(req(facade.boundSyncPort, "/schema").GET().build())
    assert(list.statusCode() == 200)
    assert(list.body().contains("\"crawlstats\"") && list.body().contains("\"default\""))

    val sql = send(req(facade.boundSyncPort, "/schema/crawlstats/sql").GET().build())
    assert(sql.statusCode() == 200)
    assert(sql.body().contains("w REAL"))

    val doc = send(req(facade.boundSyncPort, "/schema/crawlstats").GET().build())
    assert(doc.statusCode() == 200)
    assert(doc.body().startsWith("{\"id\":\"crawlstats\",\"sql\":"))

    assert(send(req(facade.boundSyncPort, "/schema/nosuch").GET().build())
      .statusCode() == 404)
    assert(send(req(facade.boundSyncPort, "/schema/nosuch/sql").GET().build())
      .statusCode() == 404)

    // the JSON document form's validation cascade, reference texts
    val badJson = send(req(facade.boundSyncPort, "/schema/x")
      .PUT(HttpRequest.BodyPublishers.ofString("{nope", UTF_8)).build())
    assert(badJson.statusCode() == 400)
    assert(badJson.body() == "input could not be parsed as json")

    val badKeys = send(req(facade.boundSyncPort, "/schema/x")
      .PUT(HttpRequest.BodyPublishers.ofString("""{"id":"x","extra":1}""", UTF_8)).build())
    assert(badKeys.statusCode() == 400)
    assert(badKeys.body().contains("should be {'id', 'sql'}"))

    val badId = send(req(facade.boundSyncPort, "/schema/x")
      .PUT(HttpRequest.BodyPublishers.ofString(
        """{"id":"y","sql":"CREATE TABLE t (id INTEGER);"}""", UTF_8)).build())
    assert(badId.statusCode() == 400)
    assert(badId.body().contains("does not match id in url"))

    val badSql = send(req(facade.boundSyncPort, "/schema/x")
      .PUT(HttpRequest.BodyPublishers.ofString(
        """{"id":"x","sql":"INSERT INTO t VALUES (1);"}""", UTF_8)).build())
    assert(badSql.statusCode() == 400)
    assert(badSql.body().startsWith("schema sql failed validation: "))

    val goodDoc = send(req(facade.boundSyncPort, "/schema/x")
      .PUT(HttpRequest.BodyPublishers.ofString(
        """{"id":"x","sql":"CREATE TABLE t (id INTEGER);"}""", UTF_8)).build())
    assert(goodDoc.statusCode() == 201)
  }

  test("promote flushes to the durable root and answers remote_path") {
    post(facade.boundSyncPort, "/provision", """{"segment": "http4"}""")
    post(facade.boundWritePort, "/?segment=http4",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT);INSERT INTO t VALUES (1,'x');")
    val r = post(facade.boundSyncPort, "/promote", """{"segment": "http4"}""")
    assert(r.statusCode() == 200)
    val path = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(r.body()).get("remote_path").asText()
    assert(path.startsWith(durable))
    assert(Files.isDirectory(java.nio.file.Path.of(path)))

    val unlocked = post(facade.boundSyncPort, "/promote", """{"segment": "nolock"}""")
    assert(unlocked.statusCode() == 500)
    assert(unlocked.body().contains("not currently writable"))
  }

  test("DELETE /segment: 400 while locked, 204 after release, 404 unknown (segment_manager.py:117-129)") {
    post(facade.boundSyncPort, "/provision", """{"segment": "http5"}""")
    val locked = send(req(facade.boundSyncPort, "/segment/http5").DELETE().build())
    assert(locked.statusCode() == 400)

    engine.releaseWriteLock("http5")
    val ok = send(req(facade.boundSyncPort, "/segment/http5").DELETE().build())
    assert(ok.statusCode() == 204)
    assert(!engine.store.segmentExists("http5"))

    val gone = send(req(facade.boundSyncPort, "/segment/http5").DELETE().build())
    assert(gone.statusCode() == 404)
  }

  test("unknown manager routes answer 404") {
    assert(send(req(facade.boundSyncPort, "/nope").GET().build()).statusCode() == 404)
  }

  // ------------------- assertions folded in from the r7 engine-facade spec

  test("read: empty result is [] (test_read.py:17-36)") {
    post(facade.boundSyncPort, "/provision", """{"segment": "http-empty"}""")
    post(facade.boundWritePort, "/?segment=http-empty",
      "CREATE TABLE test (id INTEGER PRIMARY KEY AUTOINCREMENT, test varchar(4));")
    val r = post(facade.boundReadPort, "/?segment=http-empty",
      "SELECT * FROM \"test\";")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
    assert(r.body() == "[]\n")
  }

  test("write: empty script is the reference error (test_write.py:14-23)") {
    val r = post(facade.boundWritePort, "/?segment=http2", "")
    assert(r.statusCode() == 500)
    assert(r.body() == "500 Server Error: No query provided.\n")
  }

  test("write: SELECT in a write script is a clean 500 (test_write.py:24-36)") {
    val r = post(facade.boundWritePort, "/?segment=http2", "SELECT * FROM \"t\";")
    assert(r.statusCode() == 500)
    assert(r.body().startsWith("500 Server Error:"))
    assert(r.body().contains("unsupported write statement: SELECT"))
  }

  test("write refusal without a lock is the reference's exact bytes (test_write.py:50-65)") {
    // segment id from the Host header, like the reference test's
    // HTTP_HOST='TEST.host' env. The JDK HttpClient refuses to spoof
    // Host, so this one goes over a raw socket.
    val payload = "INSERT INTO test (test) VALUES (\"test\")"
    val sock = new java.net.Socket("localhost", facade.boundWritePort)
    try {
      val out = sock.getOutputStream
      out.write(
        ("POST / HTTP/1.1\r\nHost: TEST.host\r\n" +
          s"Content-Length: ${payload.length}\r\nConnection: close\r\n\r\n" + payload)
          .getBytes(UTF_8))
      out.flush()
      val raw = new String(sock.getInputStream.readAllBytes(), UTF_8)
      assert(raw.startsWith("HTTP/1.1 500 "))
      val bodyStart = raw.indexOf("\r\n\r\n") + 4
      assert(raw.substring(bodyStart) ==
        "500 Server Error: This node (settings['HOSTNAME']='test01') cannot write " +
          "to segment 'TEST'. There is no write lock set, or the write lock " +
          "authorizes another node. Write lock: None\n")
    } finally sock.close()
  }

  test("manager: wrong verbs answer 405 (flask method routing)") {
    assert(send(req(facade.boundSyncPort, "/").GET().build()).statusCode() == 405)
    assert(send(req(facade.boundSyncPort, "/provision").GET().build()).statusCode() == 405)
    assert(send(req(facade.boundSyncPort, "/promote").GET().build()).statusCode() == 405)
    assert(post(facade.boundSyncPort, "/schema/default", "{}").statusCode() == 405)
    assert(post(facade.boundSyncPort, "/schema/default/sql", "").statusCode() == 405)
  }

  test("provision is idempotent, JSON and deprecated text forms (test_segment_manager.py:24-62)") {
    for (_ <- 1 to 2) {
      val r = post(facade.boundSyncPort, "/provision", """{"segment": "http-idem"}""")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      assert(node.get("result").asText() == "success")
      assert(node.get("schema").asText() == "default")
      assert(node.get("write_url").asText()
        .endsWith(s":${facade.boundWritePort}/?segment=http-idem"))
    }
    for (_ <- 1 to 2) {
      val r = post(facade.boundSyncPort, "/", "http-idem-txt")
      assert(r.statusCode() == 200)
      assert(r.body().endsWith(s":${facade.boundWritePort}/?segment=http-idem-txt"))
    }
  }

  test("provision with a schema incl. index, then write/read round trip (test_segment_manager.py:64-101)") {
    val schema = "CREATE TABLE test (id INTEGER PRIMARY KEY AUTOINCREMENT, " +
      "test varchar(4));\nCREATE INDEX ix_test ON test (test);"
    val put = send(req(facade.boundSyncPort, "/schema/test1/sql")
      .PUT(HttpRequest.BodyPublishers.ofString(schema, UTF_8)).build())
    assert(put.statusCode() == 201)
    val prov = post(facade.boundSyncPort, "/provision",
      """{"segment":"http-sch1", "schema":"test1"}""")
    assert(prov.statusCode() == 200)
    val w = post(facade.boundWritePort, "/?segment=http-sch1",
      "INSERT INTO test (test) VALUES (\"test\");")
    assert(w.body() == "OK\n")
    val rd = post(facade.boundReadPort, "/?segment=http-sch1", "SELECT * FROM test;")
    assert(rd.statusCode() == 200)
    assert(rd.body() == "[{\"id\":1,\"test\":\"test\"}]\n")
  }

  test("provision refusals: hostile id is 400 {'error'}, unknown schema is 500") {
    val bad = post(facade.boundSyncPort, "/provision", """{"segment": "_nope"}""")
    assert(bad.statusCode() == 400)
    assert(bad.body().startsWith("{\"error\":"))
    assert(bad.body().contains("must match"))
    // unknown schema id is the reference's plain Exception → 500
    val noSchema = post(facade.boundSyncPort, "/provision",
      """{"segment": "ok-seg", "schema": "nope"}""")
    assert(noSchema.statusCode() == 500)
    assert(noSchema.body().contains("no such schema"))
  }

  test("fanout over the wire: one poisoned segment reports, the rest sum (shell/__init__.py:248-262)") {
    // the reference shell fans one query out as per-segment HTTP reads
    // and gathers with return_exceptions=True: a failing segment's 500
    // is reported, every other segment's rows still count. Exercise
    // that contract end to end — 5 segments, one WITHOUT the queried
    // table (its read answers the 500 error text), plus one unknown
    // segment id.
    val segs = (1 to 5).map(i => s"fan$i")
    segs.foreach { s =>
      assert(post(facade.boundSyncPort, "/provision",
        s"""{"segment": "$s", "schema": "default"}""").statusCode() == 200)
    }
    segs.zipWithIndex.foreach { case (s, i) =>
      val ddl =
        if (s == "fan3") "CREATE TABLE other (x INTEGER);" // poisoned
        else "CREATE TABLE fdocs (id INTEGER PRIMARY KEY, v TEXT);" +
          (1 to i + 1).map(k => s"INSERT INTO fdocs (v) VALUES ('r$k');")
            .mkString
      assert(post(facade.boundWritePort, s"/?segment=$s", ddl)
        .statusCode() == 200)
    }
    val results = (segs :+ "fan-ghost").map { s =>
      s -> post(facade.boundReadPort, s"/?segment=$s",
        "select id, v from fdocs;")
    }.toMap
    // good segments answer 200 with their rows; counts sum like the
    // shell's n_rows accumulation
    val good = Seq("fan1", "fan2", "fan4", "fan5")
    good.foreach(s => assert(results(s).statusCode() == 200, s))
    val nRows = good.map(s =>
      results(s).body().count(_ == '{')).sum
    assert(nRows == 1 + 2 + 4 + 5, s"row counts: $nRows")
    // the poisoned segment reports its own error, isolated
    assert(results("fan3").statusCode() == 500)
    assert(results("fan3").body().toLowerCase.contains("no such table") ||
      results("fan3").body().toLowerCase.contains("table_or_view_not_found") ||
      results("fan3").body().toLowerCase.contains("cannot be found"),
      results("fan3").body())
    assert(results("fan-ghost").statusCode() == 500)
    // and the good segments were really unaffected — re-read one
    assert(post(facade.boundReadPort, "/?segment=fan5",
      "select count(*) from fdocs;").body().contains("5"))
  }

  test("stop() ends the facade's request threads") {
    def facadeThreads(): Set[Thread] =
      Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(t => t.isAlive && t.getName.startsWith(HttpFacade.ThreadPrefix)).toSet
    val before = facadeThreads()
    val f = new HttpFacade(engine, readPort = 0, writePort = 0, syncPort = 0).start()
    Seq(f.boundReadPort, f.boundWritePort, f.boundSyncPort).foreach(p =>
      send(req(p, "/nope").GET().build()))
    assert((facadeThreads() -- before).size >= 3)
    f.stop()
    val deadline = System.nanoTime() + 2000000000L
    while ((facadeThreads() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert((facadeThreads() -- before).isEmpty)
  }
}
