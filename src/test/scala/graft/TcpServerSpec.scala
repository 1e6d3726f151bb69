package graft

import graft.core.Engine
import graft.server.{NetClient, TcpServer}
import graft.tools.Cli

/** The client/server topology end-to-end over real sockets: the engine
  * behind [[TcpServer]] must behave byte-identically to the in-process
  * CLI — same output lines, same DBE* error text, same error-then-continue
  * session semantics — and concurrent connections must get isolated
  * variable environments over the shared catalog (the reference's
  * one-thread-per-session contract, server.c:795-871).
  */
class TcpServerSpec extends SparkSpec {

  private def withServer[A](engine: Engine)(f: Int => A): A = {
    val server = new TcpServer(engine, port = 0, threads = 8)
    val port = server.start()
    try f(port) finally server.close()
  }

  private def netRun(port: Int, script: String)
      : (Boolean, Seq[String], Seq[String]) = {
    val out = collection.mutable.Buffer[String]()
    val err = collection.mutable.Buffer[String]()
    val failed = NetClient.run("127.0.0.1", port, script.linesIterator,
      out += _, err += _)
    (failed, out.toSeq, err.toSeq)
  }

  test("a script over the socket matches the in-process CLI byte for byte") {
    val script =
      """create(na,"unsorted")
        |create(nb,"sorted")
        |insert(na,-5,nb,2)
        |insert(na,7,nb,4)
        |insert(na,3,nb,6)
        |s=select(nb,2,6)
        |af=fetch(na,s)
        |print(af)
        |tot=sum(af)
        |print(tot)
        |tuple(af,af)
        |""".stripMargin

    // in-process reference run
    val cliEngine = new Engine(spark, tmpDir("tcp_cli_db"))
    val cliOut = collection.mutable.Buffer[String]()
    val cliFailed = Cli.runScript(cliEngine.newSession(),
      script.linesIterator, cliOut += _, _ => ())
    cliEngine.close()
    assert(!cliFailed)

    // socket run against a fresh store
    val engine = new Engine(spark, tmpDir("tcp_db"))
    try withServer(engine) { port =>
      val (failed, out, err) = netRun(port, script)
      assert(!failed)
      assert(err.isEmpty)
      assert(out == cliOut.toSeq)
      // the negative value streamed as a data line, not a status
      assert(out.contains("-5"))
    } finally engine.close()
  }

  test("errors arrive as -ERR with exact DBE text and the session continues") {
    val engine = new Engine(spark, tmpDir("tcp_err_db"))
    try withServer(engine) { port =>
      val script =
        """create(ea,"unsorted")
          |insert(ea,8)
          |garbage(((
          |z=select(nope)
          |a=select(ea)
          |af=fetch(ea,a)
          |mx=max(af)
          |print(mx)
          |""".stripMargin
      val (failed, out, err) = netRun(port, script)
      assert(failed)
      assert(err == Seq(
        "DBEPARSE: cannot parse: garbage(((",
        "DBECOLSELECT: no such column nope"))
      // lines after the failures still ran in the same session
      assert(out == Seq("8"))
    } finally engine.close()
  }

  test("concurrent connections get isolated sessions over the shared catalog") {
    val engine = new Engine(spark, tmpDir("tcp_conc_db"))
    try withServer(engine) { port =>
      // shared data, written once
      val (setupFailed, _, setupErr) = netRun(port,
        """create(ca,"unsorted")
          |insert(ca,1)
          |insert(ca,2)
          |insert(ca,3)
          |insert(ca,4)
          |""".stripMargin)
      assert(!setupFailed, setupErr.mkString("; "))

      // 4 clients concurrently bind the SAME variable names to different
      // selections; each must read back its own value
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val runs = (1 to 4).map { k =>
        Future {
          val (failed, out, err) = netRun(port,
            s"""x=select(ca,$k)
               |xf=fetch(ca,x)
               |print(xf)
               |""".stripMargin)
          (k, failed, out, err)
        }
      }
      Await.result(Future.sequence(runs), 120.seconds).foreach {
        case (k, failed, out, err) =>
          assert(!failed, s"client $k: ${err.mkString("; ")}")
          assert(out == Seq(k.toString), s"client $k saw $out")
      }
    } finally engine.close()
  }

  test("a 400k-row result streams over the socket complete") {
    // volume case for the network sink: the server writes each emission
    // line as the iterator produces it (SCALE.md's streaming bound —
    // the cap-exceeding guarantee itself is EngineSpec's
    // emission-streams case; serve() consumes the same iterator)
    val engine = new Engine(spark, tmpDir("tcp_big_db"))
    try withServer(engine) { port =>
      val csv = new java.io.File(tmpDir("tcp_big_csv"), "big.csv")
      val pw = new java.io.PrintWriter(csv)
      pw.println("ba")
      (0 until 400000).foreach(i => pw.println(i % 1000000))
      pw.close()
      val script =
        s"""create(ba,"unsorted")
           |load("${csv.getAbsolutePath}")
           |v=select(ba)
           |vals=fetch(ba,v)
           |print(vals)
           |""".stripMargin
      var n = 0L
      var sum = 0L
      val failed = NetClient.run("127.0.0.1", port, script.linesIterator,
        line => { n += 1; sum += line.toLong }, e => fail(s"error: $e"))
      assert(!failed)
      assert(n == 400000L)
      // 400k rows of i % 1000000 with i < 400k: sum = 0+1+...+399999
      assert(sum == 399999L * 400000L / 2L)
    } finally engine.close()
  }

  test("idleTimeoutMs drops a silent connection, freeing its worker") {
    val engine = new Engine(spark, tmpDir("tcp_idle_db"))
    // ONE worker: a silent connection pins the whole server until the
    // idle timeout disposes it — the second client's service IS the
    // proof the worker was released
    val server = new graft.server.TcpServer(engine, port = 0, threads = 1,
      idleTimeoutMs = 1000)
    val port = server.start()
    try {
      val idle = new java.net.Socket("127.0.0.1", port)
      try {
        val (failed, out, err) = netRun(port,
          """create(ia,"unsorted")
            |insert(ia,1)
            |p=select(ia)
            |v=fetch(ia,p)
            |print(v)
            |""".stripMargin)
        assert(!failed, err.mkString("; "))
        assert(out == Seq("1"))
      } finally idle.close()
    } finally {
      server.close()
      engine.close()
    }
  }

  test("concurrent socket clients appending to one column never lose an insert") {
    val engine = new Engine(spark, tmpDir("tcp_mut_db"))
    try withServer(engine) { port =>
      val (f0, _, e0) = netRun(port, "create(ma,\"unsorted\")\n")
      assert(!f0, e0.mkString("; "))
      // 4 clients interleave 5 appends each; the catalog serializes
      // appends, so all 20 must land with distinct ids and sum intact
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (1 to 4).map { k =>
        Future {
          val script = (1 to 5).map(j => s"insert(ma,${k * 100 + j})")
            .mkString("", "\n", "\n")
          netRun(port, script)
        }
      }
      Await.result(Future.sequence(writers), 300.seconds).foreach {
        case (failed, _, err) => assert(!failed, err.mkString("; "))
      }
      val (f1, out, e1) = netRun(port,
        """p=select(ma)
          |v=fetch(ma,p)
          |c=count(v)
          |s=sum(v)
          |print(c)
          |print(s)
          |""".stripMargin)
      assert(!f1, e1.mkString("; "))
      // sum over k=1..4, j=1..5 of (100k + j) = 100*5*(1+2+3+4) + 4*15
      assert(out == Seq("20", (100 * 5 * 10 + 4 * 15).toString))
    } finally engine.close()
  }

  test("a user-authored quit ends the session cleanly, skipping later lines") {
    val engine = new Engine(spark, tmpDir("tcp_quit_db"))
    try withServer(engine) { port =>
      val (failed, out, err) = netRun(port,
        """create(qa,"unsorted")
          |insert(qa,5)
          |p=select(qa)
          |v=fetch(qa,p)
          |print(v)
          |quit
          |print(v)
          |garbage(((
          |""".stripMargin)
      // clean exit: no error for the quit itself, and nothing after it
      // ran (the second print emits nothing, the garbage never parses)
      assert(!failed, err.mkString("; "))
      assert(err.isEmpty)
      assert(out == Seq("5"))
    } finally engine.close()
  }

  test("a second connection does not see the first connection's variables") {
    val engine = new Engine(spark, tmpDir("tcp_env_db"))
    try withServer(engine) { port =>
      val (f1, _, _) = netRun(port,
        """create(va,"unsorted")
          |insert(va,9)
          |v=select(va)
          |""".stripMargin)
      assert(!f1)
      // new connection, same server: `v` must be gone (per-connection env)
      val (f2, out2, err2) = netRun(port, "print(v)\n")
      assert(f2)
      assert(out2.isEmpty)
      assert(err2 == Seq("DBENOVAR: no such variable v"))
    } finally engine.close()
  }

  test("FILE frame loads a CSV that exists only client-side (on NO server path)") {
    import java.nio.charset.StandardCharsets.UTF_8
    val engine = new Engine(spark, tmpDir("tcp_fileload_db"))
    try withServer(engine) { port =>
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, UTF_8))
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8))
        def req(lines: String*): (String, Seq[String]) = {
          lines.foreach { l => w.write(l); w.newLine() }
          w.flush()
          val data = collection.mutable.Buffer[String]()
          var status: String = null
          while (status == null) {
            val r = in.readLine()
            assert(r != null, "server closed mid-response")
            if (r.startsWith("|")) data += r.substring(1) else status = r
          }
          (status, data.toSeq)
        }
        assert(req("create(fa,\"unsorted\")")._1 == "+OK")
        assert(req("create(fb,\"sorted\")")._1 == "+OK")
        // the body crosses the wire; the load PATH exists on no filesystem
        val (st, _) = req("FILE 4", "fa,fb", "10,1", "20,2", "30,3",
          "load(\"/client-only/never-created.csv\")")
        assert(st == "+OK")
        assert(req("p=select(fb,2,3)")._1 == "+OK")
        assert(req("v=fetch(fa,p)")._1 == "+OK")
        assert(req("print(v)") == (("+OK", Seq("20", "30"))))
        // a BARE load of the same path must fail server-side: the success
        // above came from the spooled body, not path resolution
        val (bare, _) = req("load(\"/client-only/never-created.csv\")")
        assert(bare.startsWith("-ERR DBE"), bare)
        assert(req("print(v)") == (("+OK", Seq("20", "30"))))
        // spool cleaned up after the load
        val leftovers = new java.io.File(engine.dbDir).listFiles()
          .filter(_.getName.endsWith(".csv.tmp"))
        assert(leftovers.isEmpty, leftovers.mkString(", "))
        // malformed frame header: the body length is UNKNOWABLE, so the
        // server answers loud and ENDS the session — staying in the loop
        // would misparse body rows as operator lines, shifting every
        // later response on the connection
        val (bad, _) = req("FILE notanumber")
        assert(bad.startsWith("-ERR DBEPARSE"), bad)
        assert(in.readLine() == null, "session must close after unusable FILE header")
      } finally sock.close()
    } finally engine.close()
  }

  test("a FILE load's spool is deleted before its status is sent") {
    import java.nio.charset.StandardCharsets.UTF_8
    val engine = new Engine(spark, tmpDir("tcp_spool_db"))
    try withServer(engine) { port =>
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, UTF_8))
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8))
        def req(lines: String*): String = {
          lines.foreach { l => w.write(l); w.newLine() }
          w.flush()
          in.readLine()
        }
        def spools(): Seq[String] = new java.io.File(engine.dbDir).listFiles()
          .map(_.getName).filter(_.endsWith(".csv.tmp")).toSeq
        for (i <- 0 until 20) {
          assert(req(s"""create(s$i,"unsorted")""") == "+OK")
          val body = (0 until 50).map(j => s"${i * 100 + j}")
          val st = req(Seq(s"FILE ${body.size + 1}", s"s$i") ++ body ++
            Seq("""load("/client-only/s.csv")"""): _*)
          assert(st == "+OK", s"load $i: $st")
          // checked the moment the status arrives: no grace for a late delete
          assert(spools().isEmpty, s"load $i left ${spools().mkString(", ")}")
        }
      } finally sock.close()
    } finally engine.close()
  }

  test("close() EOFs an ACTIVE idle connection promptly") {
    import java.nio.charset.StandardCharsets.UTF_8
    val engine = new Engine(spark, tmpDir("tcp_activeclose_db"))
    val server = new TcpServer(engine)
    val port = server.start()
    try {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setSoTimeout(10000)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, UTF_8))
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8))
        // one round-trip pins a worker on this connection, then idle
        w.write("create(za,\"unsorted\")"); w.newLine(); w.flush()
        assert(in.readLine() == "+OK")
        // shutdownNow's interrupt cannot wake a blocked socket read —
        // close() must close the active socket so the client sees EOF
        // now, not at its own read timeout
        server.close()
        assert(in.readLine() == null,
          "active idle connection must see EOF on server close")
      } finally sock.close()
    } finally {
      server.close()
      engine.close()
    }
  }

  test("a negative FILE count is answered loud and the connection closes") {
    import java.nio.charset.StandardCharsets.UTF_8
    val engine = new Engine(spark, tmpDir("tcp_negframe_db"))
    try withServer(engine) { port =>
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setSoTimeout(10000)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, UTF_8))
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8))
        w.write("FILE -3"); w.newLine(); w.flush()
        val st = in.readLine()
        assert(st != null && st.startsWith("-ERR DBEPARSE"), String.valueOf(st))
        assert(in.readLine() == null, "session must close after negative count")
      } finally sock.close()
    } finally engine.close()
  }

  test("NetClient ships a client-local CSV; data survives the file's deletion") {
    import java.nio.charset.StandardCharsets.UTF_8
    val engine = new Engine(spark, tmpDir("tcp_ship_db"))
    try withServer(engine) { port =>
      val dir = java.nio.file.Files.createTempDirectory("graft_client_csv")
      val csv = dir.resolve("client.csv")
      java.nio.file.Files.write(csv,
        java.util.Arrays.asList("ca,cb", "5,50", "6,60"), UTF_8)
      val (f1, _, e1) = netRun(port,
        s"""create(ca,"unsorted")
           |create(cb,"unsorted")
           |load("$csv")
           |""".stripMargin)
      assert(!f1, e1.mkString("; "))
      java.nio.file.Files.delete(csv)
      java.nio.file.Files.delete(dir)
      // fresh connection: the loaded columns are catalog-durable even
      // though the client file is gone
      val (f2, out2, e2) = netRun(port, "p=select(ca,6)\nv=fetch(cb,p)\nprint(v)\n")
      assert(!f2, e2.mkString("; "))
      assert(out2 == Seq("60"))
      val leftovers = new java.io.File(engine.dbDir).listFiles()
        .filter(_.getName.endsWith(".csv.tmp"))
      assert(leftovers.isEmpty, leftovers.mkString(", "))
    } finally engine.close()
  }

  test("connections beyond threads+backlog are rejected with a loud -ERR") {
    import java.nio.charset.StandardCharsets.UTF_8
    val engine = new Engine(spark, tmpDir("tcp_cap_db"))
    val server = new TcpServer(engine, port = 0, threads = 1, backlog = 1)
    val port = server.start()
    try {
      val s1 = new java.net.Socket("127.0.0.1", port)
      val s2 = new java.net.Socket("127.0.0.1", port)
      try {
        // pin the single worker to s1 (round-trip one request)
        val in1 = new java.io.BufferedReader(
          new java.io.InputStreamReader(s1.getInputStream, UTF_8))
        val w1 = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(s1.getOutputStream, UTF_8))
        w1.write("create(ka,\"unsorted\")"); w1.newLine(); w1.flush()
        assert(in1.readLine() == "+OK")
        // s2 sits in the bounded wait queue; give the acceptor a moment
        Thread.sleep(300)
        // the queue is full: s3 must be answered and closed, not parked
        val s3 = new java.net.Socket("127.0.0.1", port)
        try {
          val in3 = new java.io.BufferedReader(
            new java.io.InputStreamReader(s3.getInputStream, UTF_8))
          val line = in3.readLine()
          assert(line != null && line.startsWith("-ERR DBESERVER: at capacity"),
            String.valueOf(line))
          assert(in3.readLine() == null) // and the server closed it
        } finally s3.close()
        // close() must EOF the QUEUED connection (s2) promptly: a
        // discarded-but-unclosed socket would park the client until its
        // own read timeout
        s2.setSoTimeout(10000)
        val in2 = new java.io.BufferedReader(
          new java.io.InputStreamReader(s2.getInputStream, UTF_8))
        server.close()
        assert(in2.readLine() == null,
          "queued connection must see EOF on server close")
      } finally { s1.close(); s2.close() }
    } finally {
      server.close()
      engine.close()
    }
  }
}
