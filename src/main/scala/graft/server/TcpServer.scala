package graft.server

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{LinkedBlockingQueue, RejectedExecutionException, ThreadPoolExecutor, TimeUnit}
import scala.util.control.NonFatal

import graft.core.Engine
import graft.lang.{Op, Parser}

/** TCP server: the reference's client/server topology over the Spark
  * engine.
  *
  * The reference is a threaded TCP server — an accept loop hands each
  * connection to a threadpool worker that owns the connection's session
  * environment for its lifetime (/root/reference/src/server/server.c:967-1006,
  * one thread per session server.c:795-871). This is the same topology on
  * the JVM: an accept thread, a fixed worker pool (default 16, the
  * reference's default threadpool size, README.md:63-66), and one
  * [[graft.core.Session]] per connection over the SHARED SparkSession —
  * the pattern Spark's own Thrift Server uses for concurrent clients.
  * Sessions are isolated (per-connection variable environments); the
  * catalog is shared and synchronized; Spark schedules the concurrent
  * jobs.
  *
  * Wire protocol (line-oriented; the framed-RPC analog of
  * /root/reference/src/common/rpc.c:16-31 without the binary header):
  *
  *   request  :=  one operator line, '\n'-terminated
  *              | "FILE" SP nLines '\n' <nLines lines> load-line '\n'
  *   response :=  zero or more data lines, each prefixed '|',
  *                then exactly one status line: `+OK` or `-ERR <DBE msg>`
  *
  * The FILE form is the reference's client-streamed CSV load
  * (rpc.c:151-206 ships the CLIENT's file as a sized RPC_FILE payload;
  * the server spools it under its dbdir, server.c:818-839, and the load
  * evaluates against the SPOOL, never a server-side path): the client
  * sends the CSV body — framed by line count, the lossless unit for the
  * reference's line-oriented CSVs (csv.c reads by line) — immediately
  * followed by the `load("...")` line it belongs to. The server spools
  * the body to `dbDir/load-*.csv.tmp`, evaluates the load against the
  * spool, deletes it, and answers ONE status for the whole request. A
  * bare `load(...)` line without a preceding FILE frame still resolves
  * the path server-side (a superset of the reference, which ALWAYS
  * ships: in-process scripts and co-located files skip the copy).
  *
  * Data lines carry the reference client's text formats (ids / values one
  * per line, `(a,b,c)` tuples — client.c:44-128); the '|' prefix exists so
  * a negative value line can never be confused with an `-ERR` status. As
  * in the reference, results STREAM: each data line is written as the
  * engine's emission iterator produces it (rpc.c:209-357 streams over the
  * socket), so server memory is bounded by one Spark partition regardless
  * of result size. Errors are per-line and non-fatal — the server renders
  * the DBE* message and stays in its request loop (server.c:856-859).
  * `quit` (or closing the connection) ends the session.
  *
  * Concurrency bound: like the reference's threadpool (16 workers,
  * README.md:63-66), `threads` caps concurrent SESSIONS — an idle
  * connection holds its worker (the reference blocks its thread on the
  * socket the same way), and connection 17 queues until one frees.
  * The wait queue is BOUNDED by `backlog`: a connection beyond
  * threads+backlog is answered `-ERR DBESERVER: at capacity` and closed
  * immediately rather than parked invisibly — so the server's half-open
  * exposure is at most threads+backlog sockets, loud past that, instead
  * of an unbounded executor queue that `idleTimeoutMs` can never reap
  * (the timeout arms only once a worker starts reading). Deployments
  * serving untrusted or flaky clients should set `idleTimeoutMs` > 0: a
  * connection silent that long is treated as gone (session disposed,
  * worker released), which is what bounds the half-open-connection
  * exposure of the ACTIVE workers.
  */
final class TcpServer(engine: Engine, port: Int = 0, threads: Int = 16,
                      idleTimeoutMs: Int = 0, backlog: Int = 32)
    extends AutoCloseable {

  private val serverSocket = new ServerSocket(port)
  private val pool = new ThreadPoolExecutor(threads, threads,
    0L, TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable](backlog max 1),
    (r: Runnable) => {
      val t = new Thread(r, "graft-tcp-worker"); t.setDaemon(true); t
    })
  @volatile private var closed = false
  // sockets of sessions a worker is CURRENTLY serving: close() must
  // close these too — shutdownNow's interrupt does not wake a thread
  // blocked in a socket read, so without this an idle-but-connected
  // client would hang until its own read timeout while its worker
  // keeps serving against an engine whose lock may already be released
  private val active =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** The bound port (useful with port=0: an ephemeral port for tests). */
  def boundPort: Int = serverSocket.getLocalPort

  private val acceptor = new Thread(() => {
    try while (!closed) {
      val sock = serverSocket.accept()
      try pool.execute(new SessionTask(sock, serve))
      catch {
        case _: RejectedExecutionException =>
          // saturation is answered, not queued: one status line (the
          // wire protocol's error form) then close — the client sees a
          // DBE error instead of an indefinite hang
          try {
            val w = new BufferedWriter(
              new OutputStreamWriter(sock.getOutputStream, UTF_8))
            w.write(s"-ERR DBESERVER: at capacity ($threads sessions, " +
              s"$backlog queued)")
            w.newLine(); w.flush()
          } catch { case _: java.io.IOException => () }
          finally { try sock.close() catch { case _: java.io.IOException => () } }
      }
    } catch {
      // close() closes the listening socket to break accept()
      case _: SocketException if closed => ()
    }
  }, "graft-tcp-accept")
  acceptor.setDaemon(true)

  /** Start accepting connections; returns the bound port. */
  def start(): Int = { acceptor.start(); boundPort }

  private def serve(sock: Socket): Unit = {
    val session = engine.newSession()
    active.add(sock)
    // re-check AFTER registering: a task dequeued just before close()
    // is returned by neither shutdownNow (already running) nor the
    // active sweep (not yet registered when it swept) — the add-then-
    // check here against close()'s set-then-sweep covers every
    // interleaving (one side is guaranteed to see the other)
    if (closed) {
      active.remove(sock)
      try sock.close() catch { case _: java.io.IOException => () }
      session.dispose()
      return
    }
    try {
      if (idleTimeoutMs > 0) sock.setSoTimeout(idleTimeoutMs)
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))

      def status(s: String): Unit = { out.write(s); out.newLine(); out.flush() }
      def reply(err: Option[String]): Unit = status(err.fold("+OK")("-ERR " + _))

      // the reference's RPC_FILE arm (server.c:818-839): spool the
      // client-streamed CSV body under the dbdir, evaluate the load
      // that follows against the spool, delete it, answer one status
      def fileLoad(header: String): Unit = {
        val nLines = header.stripPrefix("FILE").trim.toLong
        require(nLines >= 0, s"negative FILE line count: $nLines")
        val spool = java.nio.file.Files.createTempFile(
          engine.spoolDir, "load-", ".csv.tmp")
        // the status goes out only after the spool is gone: a client that
        // looks at the db dir once it has its answer finds no spool
        val answer = try {
          val w = java.nio.file.Files.newBufferedWriter(spool, UTF_8)
          try {
            var i = 0L
            while (i < nLines) {
              val l = in.readLine()
              if (l == null)
                throw new java.io.EOFException(
                  s"connection closed mid-FILE frame ($i of $nLines lines)")
              w.write(l); w.write('\n')
              i += 1
            }
          } finally w.close()
          val opLine = in.readLine()
          if (opLine == null)
            throw new java.io.EOFException("connection closed after FILE frame")
          Parser.parseLine(opLine.trim) match {
            case Some(Op.Load(_)) => session.run(Op.Load(spool.toString), _ => ())
            case _ => Some(
              s"DBEPARSE: FILE frame must be followed by load(...), got: $opLine")
          }
        } finally java.nio.file.Files.deleteIfExists(spool)
        reply(answer)
      }

      var line = in.readLine()
      while (line != null) {
        val t = line.trim
        if (t == "quit") { line = null }
        else {
          if (t.startsWith("FILE ")) {
            try fileLoad(t)
            catch {
              // a header whose count is unparseable or negative leaves
              // the framed body UNKNOWABLE — there is no count to drain,
              // and staying in the loop would misparse CSV rows as
              // operator lines, shifting every later response. Answer
              // loud, then end the session (line = null -> socket close)
              case _: NumberFormatException =>
                status(s"-ERR DBEPARSE: malformed FILE frame: $t (closing)")
                line = null
              case e: IllegalArgumentException =>
                status(s"-ERR DBEPARSE: ${e.getMessage} (closing)")
                line = null
            }
          } else if (t.nonEmpty && !t.startsWith("#")) {
            // the per-line contract of Session.run: the session survives
            // an error; a stopped SparkSession ends the service
            reply(session.runLine(t, l => {
              out.write("|"); out.write(l); out.newLine()
            }))
          } else status("+OK") // blank / comment: acknowledged, no work
          if (line != null) line = in.readLine()
        }
      }
    } catch {
      case _: java.io.IOException => () // client went away mid-response
      case NonFatal(_) if closed  => ()
    } finally {
      active.remove(sock)
      try sock.close() catch { case _: java.io.IOException => () }
      session.dispose() // the env dies with the connection (server.c:72-78)
    }
  }

  /** Stop accepting and drop the worker pool. In-flight responses are
    * cut, matching a server process stop; the engine/catalog are NOT
    * closed — the owner decides the store's lifetime.
    */
  override def close(): Unit = {
    closed = true
    try serverSocket.close() catch { case _: java.io.IOException => () }
    // queued (accepted but unserved) tasks are returned, not run: close
    // their sockets so parked clients see an immediate EOF instead of
    // hanging until their own read timeout
    pool.shutdownNow().forEach {
      case t: SessionTask =>
        try t.sock.close() catch { case _: java.io.IOException => () }
      case _ => ()
    }
    // ACTIVE sessions too: interrupt does not wake a blocked socket
    // read; closing the socket does (the worker's readLine throws, the
    // serve loop's IOException arm runs, the session is disposed)
    active.forEach { s =>
      try s.close() catch { case _: java.io.IOException => () }
    }
  }
}

/** A queued session carries its socket so [[TcpServer.close]] can EOF
  * parked clients: `shutdownNow` merely discards queued Runnables, and
  * a discarded bare lambda would leave its accepted-but-unserved socket
  * open until the client's own read timeout.
  */
private final class SessionTask(val sock: Socket, serveFn: Socket => Unit)
    extends Runnable {
  override def run(): Unit = serveFn(sock)
}
