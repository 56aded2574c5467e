package graft.sinks

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec

/** A loopback fake speaking just enough MAPI v9 to exercise the client:
  * challenge, digest check, redirect, COPY INTO capture. A COPY FROM
  * STDIN's rows are the records that follow the statement; a COPY FROM a
  * file list's rows are read from the listed files when the statement
  * arrives, as a server reading a shared mount would. */
final class FakeMonetServer(user: String, password: String,
    redirectsFirst: Boolean = false, connections: Int = 1,
    failCopy: Boolean = false) {
  val salt = "testsalt1234"
  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort

  @volatile var receivedCopySql: String = _
  @volatile var receivedCopySqls: Seq[String] = Nil
  @volatile var receivedRows: Seq[String] = Nil
  @volatile var authedDigest: String = _
  @volatile var connectionsServed: Int = 0
  private val done = new CountDownLatch(1)

  private def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString
  private def sha512(s: String) =
    hex(MessageDigest.getInstance("SHA-512").digest(s.getBytes(UTF_8)))

  private val expectedDigest = sha512(sha512(password) + salt)

  // sequential accept loop: concurrent clients queue in the listen
  // backlog, which is exactly how a one-ingest-at-a-time server behaves
  private def serveOne(): Unit = {
    val sock = server.accept()
    try {
      val s = new MapiBlockStream(sock.getInputStream, sock.getOutputStream)
      def challengeAndAuth(): Boolean = {
        s.writeMessage(s"$salt:mserver:9:RIPEMD160,SHA512,SHA256,SHA1:LIT:SHA512:".getBytes(UTF_8))
        val resp = s.readMessage()
        val parts = resp.split(":", -1)
        authedDigest = parts(2)
        parts(1) == user && parts(2) == s"{SHA512}$expectedDigest"
      }
      if (redirectsFirst) {
        challengeAndAuth() // first round: answer with a merovingian redirect
        s.writeMessage("^mapi:merovingian://proxy?database=demo".getBytes(UTF_8))
      }
      val ok = challengeAndAuth()
      if (!ok) {
        s.writeMessage("!InvalidCredentialsException:checkLogin".getBytes(UTF_8))
      } else {
        s.writeMessage(Array.emptyByteArray) // prompt: authenticated

        // one statement message
        val msg = s.readMessage()
        require(msg.startsWith("s"), s"expected statement marker, got '${msg.take(20)}'")
        val lines = msg.drop(1).split("\n", -1).toSeq
        receivedCopySql = lines.head
        synchronized { receivedCopySqls = receivedCopySqls :+ lines.head }
        if (failCopy && receivedCopySql.startsWith("COPY")) {
          s.writeMessage("!COPY INTO: insufficient privileges (forced)".getBytes(UTF_8))
        } else if (receivedCopySql.contains("FROM STDIN")) {
          // CSV records follow in the same message, closed by an empty line
          val rows = lines.tail.takeWhile(_.nonEmpty)
          receivedRows = receivedRows ++ rows
          s.writeMessage(s"&2 ${rows.size} -1\n".getBytes(UTF_8))
        } else if (receivedCopySql.startsWith("COPY")) {
          val fromList = receivedCopySql.split(" FROM ", 2)(1).split(" USING ", 2)(0)
          val rows = "'([^']*)'".r.findAllMatchIn(fromList).map(_.group(1)).toSeq.flatMap { f =>
            val src = scala.io.Source.fromFile(f)
            try src.getLines().toVector finally src.close()
          }
          receivedRows = receivedRows ++ rows
          s.writeMessage(s"&2 ${rows.size} -1\n".getBytes(UTF_8))
        } else {
          s.writeMessage("&2 0 -1\n".getBytes(UTF_8))
        }
      }
      connectionsServed += 1
    } finally sock.close()
  }

  private val thread = new Thread(() => {
    try (0 until connections).foreach(_ => serveOne())
    finally { server.close(); done.countDown() }
  })
  thread.setDaemon(true)
  thread.start()

  def awaitDone(): Unit = done.await(10, TimeUnit.SECONDS)
}

class MapiSpec extends SparkSpec {

  // -------------------------------------------------------------- framing

  test("block framing round-trips messages larger than one block") {
    val payload = ("x" * 20000) + "tail"
    val buf = new ByteArrayOutputStream()
    new MapiBlockStream(new ByteArrayInputStream(Array.emptyByteArray), buf)
      .writeMessage(payload.getBytes(UTF_8))
    val bytes = buf.toByteArray
    // 20004 bytes → blocks of 8190, 8190, 3624; headers are 2-byte LE
    val h0 = (bytes(0) & 0xFF) | ((bytes(1) & 0xFF) << 8)
    assert(h0 == (8190 << 1), "first block: full, not last")
    val read = new MapiBlockStream(new ByteArrayInputStream(bytes),
      new ByteArrayOutputStream()).readMessage()
    assert(read == payload)
  }

  test("streamed writes chunk identically to one-shot writes") {
    val chunks = Seq("abc", "d" * 9000, "", "ef\n", "g" * 8187)
    val oneShot = new ByteArrayOutputStream()
    new MapiBlockStream(new ByteArrayInputStream(Array.emptyByteArray), oneShot)
      .writeMessage(chunks.mkString.getBytes(UTF_8))
    val streamed = new ByteArrayOutputStream()
    new MapiBlockStream(new ByteArrayInputStream(Array.emptyByteArray), streamed)
      .writeMessageStream(chunks.iterator.map(_.getBytes(UTF_8)))
    assert(java.util.Arrays.equals(oneShot.toByteArray, streamed.toByteArray))
  }

  test("empty message is a single last-flagged zero-length block") {
    val buf = new ByteArrayOutputStream()
    new MapiBlockStream(new ByteArrayInputStream(Array.emptyByteArray), buf)
      .writeMessage(Array.emptyByteArray)
    assert(buf.toByteArray.toSeq == Seq[Byte](1, 0))
  }

  // ----------------------------------------------------------------- auth

  test("challenge parse + v9 login response digest") {
    val ch = MapiAuth.parseChallenge(
      "s9Lp2:merovingian:9:RIPEMD160,SHA512,SHA256:LIT:SHA512:")
    assert(ch.salt == "s9Lp2" && ch.version == 9 &&
      ch.passwordAlgo == "SHA512" && ch.hashes.contains("SHA256"))
    val resp = MapiAuth.loginResponse(ch, "monetdb", "monetdb", "demo")
    // digest = SHA512(hex(SHA512(password)) ++ salt), chosen algo SHA512
    val inner = MessageDigest.getInstance("SHA-512")
      .digest("monetdb".getBytes(UTF_8)).map(b => f"$b%02x").mkString
    val outer = MessageDigest.getInstance("SHA-512")
      .digest((inner + "s9Lp2").getBytes(UTF_8)).map(b => f"$b%02x").mkString
    assert(resp == s"LIT:monetdb:{SHA512}$outer:sql:demo:")
  }

  test("unsupported protocol version is rejected") {
    val ch = MapiAuth.parseChallenge("salt:be:8:MD5:LIT:SHA512:")
    intercept[IllegalArgumentException] {
      MapiAuth.loginResponse(ch, "u", "p", "db")
    }
  }

  // ------------------------------------------------- live loopback session

  test("C2 end-to-end: DataFrame streamed as COPY INTO FROM STDIN") {
    val srv = new FakeMonetServer("monetdb", "secret")
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 5).toDF("id")
      .withColumn("name",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("n\"q\\"), col("id")))
      .withColumn("maybe",
        org.apache.spark.sql.functions.when(col("id") % 2 === 0, col("id")))
    val affected = MonetSink.copyViaStdinDistributed(df.coalesce(1), "127.0.0.1",
      srv.port, "monetdb", "secret", "demo", "sys", "target")
    srv.awaitDone()
    assert(affected == 5)
    assert(srv.receivedCopySql ==
      """COPY 5 RECORDS INTO "sys"."target" FROM STDIN USING DELIMITERS ',','\n','"' NULL AS '\\N' LOCKED;""")
    assert(srv.receivedRows.size == 5)
    // reference CSV dialect: quoted values, \-escaped specials, bare \N null
    assert(srv.receivedRows.head == """"0","n\"q\\0","0"""")
    assert(srv.receivedRows(1) == """"1","n\"q\\1",\N""")
  }

  test("C2 distributed: every non-empty partition opens its own MAPI connection") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // round-robin repartition(3) → exactly 3 non-empty partitions, 10 rows each
    val srv = new FakeMonetServer("monetdb", "secret", connections = 3)
    val df = spark.range(0, 30).toDF("id")
      .withColumn("name", concat(lit("row"), col("id")))
      .repartition(3)
    assert(MonetSink.copyViaStdinDistributed(df, "127.0.0.1", srv.port,
      "monetdb", "secret", "demo", "sys", "target") == 30)
    srv.awaitDone()
    assert(srv.connectionsServed == 3)
    // all 30 rows arrive across the 3 independent COPY statements
    assert(srv.receivedRows.size == 30)
    assert(srv.receivedRows.toSet ==
      (0 until 30).map(i => s""""$i","row$i"""").toSet)
    // every per-partition COPY carries its own exact count: the
    // reference's RECORDS pre-allocation hint (CopyTool.java:984-985)
    assert(srv.receivedCopySqls == Seq.fill(3)(
      """COPY 10 RECORDS INTO "sys"."target" FROM STDIN USING DELIMITERS ',','\n','"' NULL AS '\\N' LOCKED;"""))
  }

  test("C2 distributed with recordsHint: each partition's COPY carries its exact count") {
    // uneven partitions (0..4 filtered to 3 rows, 5..9 kept whole): each
    // hint is its own partition's count, not a share of the total
    val srv = new FakeMonetServer("monetdb", "secret", connections = 2)
    val df = spark.range(0, 10, 1, 2).toDF("id").where("id < 3 OR id >= 5")
    assert(MonetSink.copyViaStdinDistributed(df, "127.0.0.1", srv.port,
      "monetdb", "secret", "demo", "sys", "target") == 8)
    srv.awaitDone()
    assert(srv.receivedRows.size == 8)
    assert(srv.receivedCopySqls.sorted == Seq(3, 5).map(n =>
      s"""COPY $n RECORDS INTO "sys"."target" FROM STDIN USING DELIMITERS ',','\\n','"' NULL AS '\\\\N' LOCKED;"""))
  }

  test("C1 multi-file COPY SQL lists every part file with the records hint") {
    assert(MonetSink.copyIntoSqlFiles("sys", "t", 42L,
      Seq("/mnt/shared/part-0.txt", "/mnt/shared/part-1.txt")) ==
      """COPY 42 RECORDS INTO "sys"."t" FROM '/mnt/shared/part-0.txt', '/mnt/shared/part-1.txt' USING DELIMITERS ',','\n','"' NULL AS '\\N' LOCKED""")
    intercept[IllegalArgumentException] {
      MonetSink.copyIntoSqlFiles("sys", "t", 42L, Seq.empty)
    }
  }

  test("C1 execution: distributed part files + one COPY FROM file-list statement") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val srv = new FakeMonetServer("monetdb", "secret")
    val dir = java.nio.file.Files.createTempDirectory("copyfiles").toString
    val df = spark.range(0, 12).toDF("id")
      .withColumn("name", concat(lit("row"), col("id")))
      .repartition(3)
    MonetSink.copyViaFiles(df, "127.0.0.1", srv.port, "monetdb", "secret",
      "demo", "sys", "target", dir, records = 12L)
    srv.awaitDone()
    val sql = srv.receivedCopySql
    assert(sql.startsWith("""COPY 12 RECORDS INTO "sys"."target" FROM '"""), sql)
    // the FROM list names one part file per partition, under the
    // per-table subdirectory (concurrent loads must not share a dir)
    val files = "'([^']*)'".r.findAllMatchIn(sql.split(" USING ", 2)(0))
      .map(_.group(1)).toSeq
    assert(files.length == 3)
    files.foreach(f => assert(f.startsWith(s"$dir/sys.target/part-"), f))
    // and the files held the full CSV payload in the reference dialect
    // when the server read them
    assert(srv.receivedRows.size == 12)
    assert(srv.receivedRows.toSet == (0 until 12).map(i => s""""$i","row$i"""").toSet)
  }

  test("C1 execution cleans its staged CSV after a successful COPY (default)") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val srv = new FakeMonetServer("monetdb", "secret")
    val dir = java.nio.file.Files.createTempDirectory("copyfiles_gc").toString
    val df = spark.range(0, 4).toDF("id")
      .withColumn("name", concat(lit("r"), col("id")))
    MonetSink.copyViaFiles(df, "127.0.0.1", srv.port, "monetdb", "secret",
      "demo", "sys", "target", dir, records = 4L)
    srv.awaitDone()
    assert(srv.receivedCopySql.startsWith("COPY 4 RECORDS"))
    // reference parity: the temp CSV does not outlive the load
    assert(!new java.io.File(dir, "sys.target").exists())
  }

  test("authentication failure surfaces the server error") {
    val srv = new FakeMonetServer("monetdb", "secret")
    val e = intercept[MapiProtocolException] {
      MapiClient.connect("127.0.0.1", srv.port, "monetdb", "WRONG", "demo")
    }
    assert(e.getMessage.contains("InvalidCredentials"))
  }

  test("merovingian redirect re-authenticates on the same socket") {
    val srv = new FakeMonetServer("monetdb", "secret", redirectsFirst = true)
    val client = MapiClient.connect("127.0.0.1", srv.port, "monetdb", "secret", "demo")
    client.query("SELECT 1")
    client.close()
    srv.awaitDone()
    assert(srv.receivedCopySql == "SELECT 1;")
  }

  test("C7 truncate over MAPI emits the MonetDB-style DELETE FROM") {
    val srv = new FakeMonetServer("monetdb", "secret")
    MonetSink.truncateViaMapi("127.0.0.1", srv.port, "monetdb", "secret",
      "demo", "sys", "My Table")
    srv.awaitDone()
    // identifier policy applies (lowercase + sanitize + quote)
    assert(srv.receivedCopySql == "DELETE FROM \"sys\".\"my_table\";")
  }

  // -------------------------------------------------------------- cascade

  test("C4 cascade falls file -> stdin -> insert and reports the winner") {
    import MonetSink._
    val order = scala.collection.mutable.ListBuffer.empty[String]
    def step(name: String, fail: Boolean): () => Unit = () => {
      order += name
      if (fail) throw new RuntimeException(s"$name failed")
    }
    // all succeed → file wins, nothing else attempted
    assert(loadWithCascade(step("file", false), step("stdin", false),
      step("insert", false)) == CopyIntoFromFile)
    assert(order.toSeq == Seq("file"))
    order.clear()
    // file fails → stdin wins
    assert(loadWithCascade(step("file", true), step("stdin", false),
      step("insert", false)) == CopyIntoFromStdin)
    assert(order.toSeq == Seq("file", "stdin"))
    order.clear()
    // file + stdin fail → insert wins
    assert(loadWithCascade(step("file", true), step("stdin", true),
      step("insert", false)) == BatchedInsert)
    assert(order.toSeq == Seq("file", "stdin", "insert"))
    order.clear()
    // everything fails → exception naming every rung and its message,
    // the first rung's exception as cause, the later two suppressed
    val e = intercept[IllegalStateException] {
      loadWithCascade(step("file", true), step("stdin", true),
        step("insert", true))
    }
    assert(e.getMessage == "unable to load data: " +
      "COPY INTO (file) failed: file failed; " +
      "COPY INTO (stdin) failed: stdin failed; " +
      "batched INSERT failed: insert failed")
    assert(e.getCause.getMessage == "file failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq ==
      Seq("stdin failed", "insert failed"))
  }
}
