package graft.server

import graft.core.Engine

/** Standalone server binary — the reference's `./server` role
  * (/root/reference/src/server/server.c:967-1006): owns the store and
  * serves [[TcpServer]]'s wire protocol until killed. One server process
  * per dbDir (the engine's single-writer lock enforces it).
  *
  * Usage: ServerMain <dbDir> [port] [--read-only] [--refresh-ms=N]
  * (port 0 or omitted -> ephemeral; the bound port is printed as
  * `graft-server listening on <port>`). `--read-only` serves a READ
  * REPLICA: the engine opens without the writer lock/lease (any number
  * of replica servers can run beside the one writer server), pinned to
  * the committed catalog snapshot at start; mutating ops answer -ERR
  * DBEUNSUPPORTED. `--refresh-ms=N` (replicas only) re-pins the
  * snapshot every N ms via [[Engine.refresh]] — the replica then
  * tracks the writer's commits within N ms instead of serving its
  * start-time snapshot forever.
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: ServerMain <dbDir> [port] [--read-only] [--refresh-ms=N]")
      sys.exit(2)
    }
    val dbDir = args(0)
    // STRICT flags: a typo'd --readonly silently starting a WRITER (and
    // stealing the lock a real writer needs) is the worst failure mode
    // a flag parser can have — unknown dash-args and a dash-leading
    // dbDir are refused loudly instead
    if (dbDir.startsWith("-")) {
      System.err.println(s"dbDir must come first, got flag-like: $dbDir")
      sys.exit(2)
    }
    val RefreshMs = raw"--refresh-ms=(\d+)".r
    args.drop(1).filter(_.startsWith("-")).filterNot(_ == "--read-only")
      .filterNot(RefreshMs.matches(_))
      .foreach { bad =>
        System.err.println(
          s"unknown flag: $bad (supported: --read-only, --refresh-ms=N)")
        sys.exit(2)
      }
    val readOnly = args.contains("--read-only")
    // toLongOption + positivity: `\d+` alone admits 0 (a busy-loop of
    // full catalog reloads hammering the store) and 20+ digit values
    // (NumberFormatException at startup, after the usage checks passed)
    val refreshMs = args.collectFirst { case RefreshMs(n) =>
      n.toLongOption.filter(_ > 0).getOrElse {
        System.err.println(s"bad --refresh-ms (positive millis expected): $n")
        sys.exit(2)
      }
    }
    if (refreshMs.isDefined && !readOnly) {
      System.err.println("--refresh-ms requires --read-only (a writer is always current)")
      sys.exit(2)
    }
    val port = args.drop(1).find(!_.startsWith("-")).map(_.toInt).getOrElse(0)
    // shared engine session (GraftSession: join knobs, UTC, parquet
    // nanos) — the server serves the same plans bench/verify exercise
    val spark = graft.GraftSession.fromEnv("graft-server")
    val engine = new Engine(spark, dbDir, readOnly = readOnly)
    val server = new TcpServer(engine,
      port = port,
      threads = sys.env.getOrElse("GRAFT_SERVER_THREADS", "16").toInt,
      // non-zero by default: the server reads MULTI-LINE payloads (the
      // FILE frame), so a client that lies about its line count would
      // otherwise park a worker in readLine forever. 10 min is generous
      // for any real inter-line gap; set 0 to restore the reference's
      // raw-blocking behavior for trusted co-located clients. KNOWN
      // TRADE: an interactive REPL user idle past the timeout is
      // disconnected and loses their session variables — deployments
      // serving humans at a prompt should set GRAFT_IDLE_TIMEOUT_MS=0
      // (or high); the default favors not leaking workers to dead
      // clients.
      idleTimeoutMs = sys.env.getOrElse("GRAFT_IDLE_TIMEOUT_MS", "600000").toInt)
    refreshMs.foreach { ms =>
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(ms)
          // best-effort: a transient store error leaves the previous
          // snapshot serving; the next tick retries
          try engine.refresh()
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }, "graft-replica-refresh")
      t.setDaemon(true)
      t.start()
    }
    val bound = server.start()
    println(s"graft-server listening on $bound")
    Console.flush()
    // release the store and the port on SIGTERM/SIGINT, like the
    // reference's graceful stop (restart pattern: close() + new Engine)
    sys.addShutdownHook {
      server.close()
      engine.close()
      spark.stop()
    }
    // serve until killed
    Thread.currentThread().join()
  }
}
