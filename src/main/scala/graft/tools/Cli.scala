package graft.tools

import graft.core.{Engine, FatalSessionError, Session}

/** Script-runner CLI — the engine's user surface, playing the role of the
  * reference's client (/root/reference/src/client/client.c): feed it a
  * script file (or stdin) of operator lines, results go to stdout in the
  * reference's text formats (ids / values one per line, `(a,b,c)` tuples).
  *
  * Like the reference client, errors are per-line and non-fatal: a failed
  * op prints its DBE* message to stderr and the session continues
  * (client.c:88-104 renders RPC_ERROR and keeps going; server.c:856-859
  * sends the error and stays in its request loop); the exit code is 1 if
  * any line failed. `--interactive` gives the reference's REPL mode
  * (client.c:237-262): a prompt, one op per line, same session throughout.
  *
  * Usage: Cli <dbDir> [scriptFile | --interactive] [--read-only]
  * [--vacuum[=retainMs]] (no script and not interactive -> stdin).
  * `--read-only` opens the store WITHOUT the writer lock/lease — any
  * number of reader CLIs can run concurrently, alongside a live writer
  * or server, each pinned to the committed catalog snapshot at open;
  * mutating ops fail DBEUNSUPPORTED. `--vacuum` reclaims unreferenced
  * copy-on-write version dirs after the script ([[Engine.vacuum]]).
  */
object Cli {

  /** Evaluate operator-language lines against a session with the
    * reference client's error contract ([[Session.run]]): each failed
    * line emits exactly one `DBE*: detail` message via `err` and
    * evaluation CONTINUES. Blank lines and `#` comments are skipped.
    * Returns true iff any line failed. (Extracted from main so CliSpec
    * can pin the error text and the error-then-continue semantics
    * without forking a JVM.)
    */
  def runScript(session: Session, lines: Iterator[String],
                out: String => Unit, err: String => Unit): Boolean = {
    var failed = false
    lines.map(_.trim).filter(t => t.nonEmpty && !t.startsWith("#"))
      .foreach(t => session.runLine(t, out).foreach { m => failed = true; err(m) })
    failed
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: Cli <dbDir> [scriptFile | --interactive] [--read-only] [--vacuum[=retainMs]]")
      sys.exit(2)
    }
    val dbDir = args(0)
    // strict flags: an unknown dash-arg must not silently fall through
    // (a typo'd --read-only would open the store as a WRITER, and a
    // missing script file would hang on stdin)
    if (dbDir.startsWith("-")) {
      System.err.println(s"dbDir must come first, got flag-like: $dbDir")
      sys.exit(2)
    }
    args.drop(1).filter(_.startsWith("-"))
      .filterNot(a => Set("--interactive", "-i", "--read-only")(a) ||
        a == "--vacuum" || a.startsWith("--vacuum="))
      .foreach { bad =>
        System.err.println(
          s"unknown flag: $bad (supported: --interactive/-i, --read-only, --vacuum[=retainMs])")
        sys.exit(2)
      }
    val interactive = args.contains("--interactive") || args.contains("-i")
    val readOnly = args.contains("--read-only")
    // maintenance flag: reclaim unreferenced copy-on-write version dirs
    // AFTER the script (Engine.vacuum) — `--vacuum` uses the 7-day
    // default retention, `--vacuum=<ms>` overrides it (0 = everything
    // unreferenced right now)
    val vacuumRetain: Option[Long] = args.drop(1).collectFirst {
      case "--vacuum" => Engine.DefaultVacuumRetainMs
      case a if a.startsWith("--vacuum=") =>
        a.stripPrefix("--vacuum=").toLongOption.filter(_ >= 0).getOrElse {
          System.err.println(s"bad --vacuum retention (non-negative millis expected): $a")
          sys.exit(2)
        }
    }
    if (readOnly && vacuumRetain.isDefined) {
      // fail BEFORE the script runs, not with a stack trace after it
      System.err.println("--vacuum requires a writer engine; drop --read-only")
      sys.exit(2)
    }
    // shared engine session (GraftSession: join knobs, UTC, parquet
    // nanos) — the CLI serves the same plans bench/verify exercise
    val spark = graft.GraftSession.fromEnv("graft-cli")
    val engine = new Engine(spark, dbDir, readOnly = readOnly)
    val session = engine.newSession()
    var failed = false

    try {
      if (interactive) {
        print("graft> "); Console.flush()
        scala.io.Source.stdin.getLines().foreach { line =>
          failed |= runScript(session, Iterator.single(line),
            println, System.err.println)
          print("graft> "); Console.flush()
        }
        println()
      } else {
        val script = args.drop(1).find(!_.startsWith("-")) match {
          case Some(f) => new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f)))
          case None => scala.io.Source.stdin.mkString
        }
        failed = runScript(session, script.linesIterator,
          println, System.err.println)
      }
      vacuumRetain.foreach { ms =>
        val st = engine.vacuum(ms)
        System.err.println(
          s"vacuum: ${st.deleted} version dir(s) deleted, ${st.kept} kept, " +
            s"${st.reclaimedBytes} bytes reclaimed across ${st.columns} column(s)")
      }
    } catch {
      case e: FatalSessionError =>
        System.err.println(e.getMessage)
        failed = true
    } finally {
      engine.close() // release the single-writer lock on clean shutdown
      spark.stop()
    }
    if (failed) sys.exit(1)
  }
}
