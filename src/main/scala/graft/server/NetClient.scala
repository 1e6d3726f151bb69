package graft.server

import java.io.{BufferedReader, BufferedWriter, IOException, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.lang.{Op, Parser}

/** Socket client for [[TcpServer]] — the reference's client
  * (/root/reference/src/client/client.c) against our wire protocol.
  *
  * Sends one operator line at a time and drains that line's response
  * before sending the next (the reference's request/response lockstep,
  * client.c:295-342): data lines (prefix '|') go to `out` stripped of the
  * prefix — so end-user output is byte-identical to the in-process CLI —
  * and `-ERR` statuses go to `err`. Blank lines and `#` comments are
  * consumed client-side, like the batch client. Returns true iff any line
  * failed; errors are per-line and the session continues (client.c:88-104).
  */
object NetClient {

  /** Read timeout on the client socket: generous (a status line can lag
    * a full Spark job behind a big query), but FINITE — a server that
    * dies without closing the connection must surface as a connection
    * error, not a client blocked forever in readLine. Overridable via
    * GRAFT_NET_TIMEOUT_MS; 0 disables (the raw-blocking reference
    * behavior, client.c reads with no timeout).
    */
  val DefaultTimeoutMs: Int =
    sys.env.get("GRAFT_NET_TIMEOUT_MS").map(_.toInt).getOrElse(600000)

  /** Write one request. With `ship` on, a `load(...)` whose path is a
    * readable regular file HERE ships the file body first as a FILE
    * frame (the reference client always streams its local CSV to the
    * server, rpc_write_file rpc.c:181-206 — the server loads the
    * SPOOLED copy, so the path need not exist server-side). An
    * unreadable path — or a directory, which `isReadable` passes but
    * `Files.lines` throws on — falls through as a bare load line for
    * server-side resolution, a superset of the reference, which fails
    * DBEIONOFILE when the client can't open it.
    *
    * The frame is built in ONE pass over the source: the file streams
    * into a client-side temp spool while counting lines, and the sized
    * header + body are then framed from the SPOOL, which nothing else
    * mutates — a source file changing between a count pass and a stream
    * pass (the classic sized-frame TOCTOU) can no longer desync the
    * protocol. Memory stays O(1); disk pays one extra copy, the price
    * the reference's own spool already accepts server-side. A spool
    * short-read (filesystem error mid-frame) is surfaced as a loud
    * IOException — by then the sized header is committed, so the
    * connection is unusable and the caller must abandon it.
    */
  private def writeRequest(w: BufferedWriter, t: String, ship: Boolean): Unit = {
    Parser.parseLine(t) match {
      case Some(Op.Load(f)) if ship && Files.isRegularFile(Paths.get(f)) &&
          Files.isReadable(Paths.get(f)) =>
        val spool = Files.createTempFile("graft-send-", ".csv")
        try {
          var n = 0L
          val src = Files.lines(Paths.get(f), UTF_8)
          try {
            val sw = Files.newBufferedWriter(spool, UTF_8)
            try src.forEach { l => sw.write(l); sw.write('\n'); n += 1 }
            finally sw.close()
          } finally src.close()
          w.write(s"FILE $n"); w.newLine()
          var sent = 0L
          val s = Files.lines(spool, UTF_8)
          try s.forEach { l => w.write(l); w.newLine(); sent += 1 }
          finally s.close()
          if (sent != n)
            throw new IOException(
              s"FILE frame short: spooled $n lines, sent $sent — connection desynced, abandon it")
        } finally Files.deleteIfExists(spool)
      case _ => ()
    }
    w.write(t); w.newLine(); w.flush()
  }

  /** `ship=false` suppresses client-side CSV streaming: every
    * `load(...)` goes to the server as a bare line for server-side path
    * resolution, regardless of local readability. Use it when the file
    * is known co-located (same host / shared FS) and the measurement of
    * interest is the bare server-side load, not the wire transfer.
    */
  def run(host: String, port: Int, lines: Iterator[String],
          out: String => Unit, err: String => Unit,
          timeoutMs: Int = DefaultTimeoutMs, ship: Boolean = true): Boolean = {
    val sock = new Socket(host, port)
    try {
      if (timeoutMs > 0) sock.setSoTimeout(timeoutMs)
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      val w = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))
      var failed = false
      var quit = false
      val it = lines.iterator
      while (!quit && it.hasNext) {
        val t = it.next().trim
        // a user-authored `quit` ends the session exactly like the
        // client's own shutdown: the server sends NO status for it, so
        // waiting for one would misreport a clean exit as an error
        if (t == "quit") quit = true
        else if (t.nonEmpty && !t.startsWith("#")) {
          writeRequest(w, t, ship)
          var done = false
          while (!done) {
            val resp = in.readLine()
            if (resp == null)
              throw new IOException("connection closed by server mid-response")
            if (resp.startsWith("|")) out(resp.substring(1))
            else if (resp == "+OK") done = true
            else if (resp.startsWith("-ERR ")) {
              failed = true; err(resp.substring(5)); done = true
            } else throw new IOException(s"malformed response line: $resp")
          }
        }
      }
      // polite shutdown: the server ends the session on `quit` or EOF
      w.write("quit"); w.newLine(); w.flush()
      failed
    } catch {
      case e: java.net.SocketTimeoutException =>
        throw new IOException(
          s"no response from server within ${timeoutMs}ms (server dead?)", e)
    } finally {
      try sock.close() catch { case _: IOException => () }
    }
  }

  /** Usage: NetClient <host> <port> [scriptFile | --interactive]
    * (neither -> stdin). Mirrors [[graft.tools.Cli]]'s surface with the
    * engine behind a socket instead of in-process.
    */
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: NetClient <host> <port> [scriptFile | --interactive]")
      sys.exit(2)
    }
    val (host, port) = (args(0), args(1).toInt)
    val interactive = args.contains("--interactive") || args.contains("-i")
    var failed = false
    try {
      if (interactive) {
        // one connection for the whole REPL: the session env persists
        // across prompts, like the reference's interactive client; the
        // prompt is printed as each line is read
        val prompted = Iterator.continually {
          print("graft> "); Console.flush(); scala.io.StdIn.readLine()
        }.takeWhile(_ != null)
        failed = run(host, port, prompted, println, System.err.println)
        println()
      } else {
        val script =
          if (args.length > 2) new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(args(2))))
          else scala.io.Source.stdin.mkString
        failed = run(host, port, script.linesIterator,
          println, System.err.println)
      }
    } catch {
      case e: IOException =>
        System.err.println(s"connection error: ${e.getMessage}")
        failed = true
    }
    if (failed) sys.exit(1)
  }
}
