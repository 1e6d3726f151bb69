package perfbench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.core.Engine
import graft.server.TcpServer

/** A `TcpServer` on an ephemeral port and closed-loop clients, each on its
  * own connection speaking the NetClient wire protocol (one line out,
  * `|`-prefixed data lines and one `+OK`/`-ERR` status back). There is one
  * client: with three, a request's latency depended mostly on what the
  * other two were running beside it, and run medians spread by a quarter.
  *
  * Each client owns two tables, so a per-client model can check every
  * read; clients would share the catalog lock and the Spark scheduler:
  *   - I (indexed, read-only): `k` sorted, `b` b+tree, `u` unsorted;
  *   - M (unsorted): `x`, `y`, which takes inserts, updates and deletes.
  * Request mix: point 30%, range 10%, scan 20%, join 10% (reads 70%);
  * insert, update and delete 10% each (writes 30%). A delete removes the
  * rows of one x value (about one row) and an insert adds one, so M's size
  * stays level. A join request is the paper's canonical query shape
  * (select, fetch, join, fetch, max/min/count, tuple) on I, rotating the
  * four join keywords; its right input is a full select of the b+tree
  * column, the treejoin precondition.
  */
object ServerMixed extends Workload {
  val Clients = 1
  val IndexedRows = 50000
  val MutableRows = 10000
  val KDomain = IndexedRows / 4 // a point select matches about 4 rows
  val ScanWidth = 10000 // b is about unique, so a scan prints about 10^4 lines
  val RangeWidth = 500
  /** One deck of request classes. The clients draw from one shared, seeded
    * sequence of shuffled decks and stop at a deck's end, so every run times
    * whole decks: the same mix, whatever the number of requests. Range and
    * join requests take about twice as long as the rest; with a mix drawn
    * at random, their share of a ~30-request run, and with it the median,
    * moved from run to run.
    */
  val Deck = Seq("point" -> 3, "range" -> 1, "scan" -> 2, "join" -> 1,
    "insert" -> 1, "update" -> 1, "delete" -> 1).flatMap { case (c, n) => Seq.fill(n)(c) }
  val Joins = Seq("hashjoin", "sortjoin", "loopjoin", "treejoin")

  /** One client's tables, as the engine should hold them. */
  final class Model(val c: Int, seed: Long) {
    private val rnd = new java.util.Random(seed * 1000003L + c)
    val k = Array.fill(IndexedRows)(rnd.nextInt(KDomain))
    val b = Array.fill(IndexedRows)(rnd.nextInt(IndexedRows))
    val u = Array.fill(IndexedRows)(rnd.nextInt(1000))
    /** ids ordered by b, for range lookups. */
    private val byB = (0 until IndexedRows).sortBy(b(_)).toArray
    /** I's ids by b value, for joins on b. */
    val idsOfB: Map[Int, Seq[Int]] = (0 until IndexedRows).groupBy(b(_))
    val live = mutable.TreeMap.empty[Long, (Int, Int)] // M: id -> (x, y)
    for (i <- 0 until MutableRows) live(i.toLong) = (rnd.nextInt(MutableRows), rnd.nextInt(1000))
    var nextId: Long = MutableRows
    /** Requests of each class so far: point and range requests alternate
      * between I and M, so every run has the same share of each.
      */
    val issued = mutable.Map.empty[String, Int].withDefaultValue(0)

    def col(n: String) = s"c$c$n"

    def csvI: Seq[String] = s"${col("k")},${col("b")},${col("u")}" +:
      (0 until IndexedRows).map(i => s"${k(i)},${b(i)},${u(i)}")
    def csvM: Seq[String] = s"${col("x")},${col("y")}" +:
      live.values.map { case (x, y) => s"$x,$y" }.toSeq

    /** ids in I with lo <= b <= hi, ascending. */
    def bRange(lo: Int, hi: Int): Seq[Int] = {
      def lower(v: Int) = {
        var (l, h) = (0, IndexedRows)
        while (l < h) { val m = (l + h) >>> 1; if (b(byB(m)) < v) l = m + 1 else h = m }
        l
      }
      byB.slice(lower(lo), lower(hi + 1)).sorted.toSeq
    }

    def tuple(vs: Seq[Int]): String =
      if (vs.isEmpty) s"(${Int.MaxValue},${Int.MinValue},0,0)"
      else s"(${vs.min},${vs.max},${vs.foldLeft(0)(_ + _)},${vs.size})"
  }

  /** A request: its lines, the data lines it must return, and the model
    * change to apply once the server acknowledged it.
    */
  final case class Request(cls: String, lines: Seq[String], expect: Seq[String],
                           apply: () => Unit = () => ())

  /** The shared class sequence: shuffled deck after deck; a new deck
    * starts only while `more()` holds (called under this lock).
    */
  final class Classes(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private var deck: List[String] = Nil
    def next(more: () => Boolean): Option[String] = synchronized {
      if (deck.isEmpty && more()) deck = rnd.shuffle(Deck).toList
      deck match {
        case c :: rest => deck = rest; Some(c)
        case Nil => None
      }
    }
  }

  def next(m: Model, cls: String, rnd: java.util.Random): Request = {
    val onM = m.issued(cls) % 2 == 1
    m.issued(cls) += 1
    cls match {
      case "point" if onM =>
        val v = rnd.nextInt(MutableRows)
        Request(cls, Seq(s"p=select(${m.col("x")},$v)", s"pf=fetch(${m.col("y")},p)", "print(pf)"),
          m.live.values.filter(_._1 == v).map(_._2.toString).toSeq)
      case "point" =>
        val v = rnd.nextInt(KDomain)
        Request(cls, Seq(s"p=select(${m.col("k")},$v)", s"pf=fetch(${m.col("u")},p)", "print(pf)"),
          (0 until IndexedRows).filter(m.k(_) == v).map(m.u(_).toString))
      case "range" =>
        val (sel, f1, f2, vs) =
          if (onM) {
            val lo = rnd.nextInt(MutableRows)
            val hi = lo + RangeWidth / 2
            (s"r=select(${m.col("x")},$lo,$hi)", m.col("y"), m.col("x"),
              m.live.values.filter(r => r._1 >= lo && r._1 <= hi).map(r => r._1 + r._2).toSeq)
          } else {
            val lo = rnd.nextInt(IndexedRows)
            val hi = lo + RangeWidth
            (s"r=select(${m.col("b")},$lo,$hi)", m.col("u"), m.col("k"),
              m.bRange(lo, hi).map(i => m.u(i) + m.k(i)))
          }
        Request(cls, Seq(sel, s"r1=fetch($f1,r)", s"r2=fetch($f2,r)", "rm=add(r1,r2)",
          "a1=min(rm)", "a2=max(rm)", "a3=sum(rm)", "a4=count(rm)", "tuple(a1,a2,a3,a4)"),
          Seq(m.tuple(vs)))
      case "join" =>
        val lo = rnd.nextInt(IndexedRows)
        val hi = lo + RangeWidth
        val join = Joins(rnd.nextInt(Joins.size))
        val pairs = for (l <- m.bRange(lo, hi); r <- m.idsOfB.getOrElse(m.u(l), Nil)) yield (l, r)
        val (ks, us) = (pairs.map(p => m.k(p._1)), pairs.map(p => m.u(p._2)))
        Request(cls, Seq(s"jls=select(${m.col("b")},$lo,$hi)", s"jl=fetch(${m.col("u")},jls)",
          s"jrs=select(${m.col("b")})", s"jr=fetch(${m.col("b")},jrs)",
          s"pl,pr=$join(jl,jr)", s"jk=fetch(${m.col("k")},pl)", s"ju=fetch(${m.col("u")},pr)",
          "ja=max(jk)", "jb=min(ju)", "jc=count(jk)", "jd=count(ju)", "tuple(ja,jb,jc,jd)"),
          Seq(s"(${if (ks.isEmpty) Int.MinValue else ks.max},${if (us.isEmpty) Int.MaxValue else us.min}," +
            s"${pairs.size},${pairs.size})"))
      case "scan" =>
        val lo = rnd.nextInt(IndexedRows - ScanWidth)
        val hi = lo + ScanWidth - 1
        Request(cls, Seq(s"s=select(${m.col("b")},$lo,$hi)", s"sf=fetch(${m.col("u")},s)",
          "print(sf)"), m.bRange(lo, hi).map(m.u(_).toString))
      case "insert" =>
        val (x, y) = (rnd.nextInt(MutableRows), rnd.nextInt(1000))
        Request(cls, Seq(s"insert(${m.col("x")},$x,${m.col("y")},$y)"), Nil,
          () => { m.live(m.nextId) = (x, y); m.nextId += 1 })
      case "update" =>
        val lo = rnd.nextInt(MutableRows)
        val hi = lo + 2
        val v = rnd.nextInt(1000)
        Request(cls, Seq(s"q=select(${m.col("x")},$lo,$hi)", s"update(q,${m.col("y")},$v)"), Nil,
          () => m.live.mapValuesInPlace {
            case (_, (x, y)) => if (x >= lo && x <= hi) (x, v) else (x, y)
          })
      case "delete" =>
        val v = rnd.nextInt(MutableRows)
        Request(cls, Seq(s"d=select(${m.col("x")},$v)", s"delete(d,${m.col("x")},${m.col("y")})"),
          Nil, () => m.live.filterInPlace { case (_, (x, _)) => x != v })
    }
  }

  /** A client connection speaking the wire protocol. */
  final class Conn(port: Int) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(120000)
    private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
    private val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))

    /** Send `lines` one at a time; data lines, and the first error status. */
    def request(lines: Seq[String]): (Seq[String], Option[(String, String)]) = {
      val data = Vector.newBuilder[String]
      var err: Option[(String, String)] = None
      lines.foreach { l =>
        out.write(l); out.newLine(); out.flush()
        var done = false
        while (!done) {
          val r = in.readLine()
          if (r == null) throw new java.io.IOException(s"connection closed after: $l")
          if (r.startsWith("|")) data += r.substring(1)
          else {
            done = true
            if (r != "+OK" && err.isEmpty) err = Some(l -> r)
          }
        }
      }
      (data.result(), err)
    }

    /** A CSV body shipped as a FILE frame, then its load line. */
    def load(name: String, csv: Seq[String]): Option[(String, String)] = {
      out.write(s"FILE ${csv.size}"); out.newLine()
      csv.foreach { l => out.write(l); out.newLine() }
      request(Seq(s"""load("$name")"""))._2
    }

    override def close(): Unit = {
      try { out.write("quit"); out.newLine(); out.flush() } catch { case _: java.io.IOException => () }
      sock.close()
    }
  }

  final class Stack(val dir: Path, val engine: Engine, val server: TcpServer,
                    val conns: Seq[Conn]) extends AutoCloseable {
    override def close(): Unit = {
      conns.foreach(_.close()); server.close(); engine.close()
    }
  }

  /** Fresh store, server, and the connections that create and load their
    * tables over the wire, concurrently.
    */
  def setUp(ctx: Ctx, dir: Path): (Stack, Seq[Model]) = {
    val engine = new Engine(ctx.spark, dir.resolve("db").toString)
    val server = new TcpServer(engine, 0)
    val port = server.start()
    val results = parallel(0 until Clients) { c =>
      val m = new Model(c, ctx.seed)
      val conn = new Conn(port)
      val created = conn.request(Seq("k" -> "sorted", "b" -> "b+tree", "u" -> "unsorted",
        "x" -> "unsorted", "y" -> "unsorted").map { case (n, t) => s"""create(${m.col(n)},"$t")""" })._2
      val loaded = Seq(s"c${c}i.csv" -> m.csvI, s"c${c}m.csv" -> m.csvM).flatMap { case (f, csv) =>
        val (ms, err) = Harness.timeMs(conn.load(f, csv))
        ctx.rec.add("storage.load_rows", csv.size - 1)
        ctx.rec.add("storage.load_ms", ms)
        err
      }
      val errs = created ++ loaded
      errs.foreach { case (l, r) => ctx.rec.attempt(ok = false); ctx.rec.fail(s"c$c", l, r) }
      (conn, m)
    }
    (new Stack(dir, engine, server, results.map(_._1)), results.map(_._2))
  }

  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val out = new Array[Any](xs.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = xs.zipWithIndex.map { case (x, i) =>
      new Thread(() => try out(i) = f(x) catch { case e: Throwable => errs.add(e) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    Option(errs.peek()).foreach(e => throw e)
    out.toSeq.asInstanceOf[Seq[B]]
  }

  def run(ctx: Ctx): Unit = {
    val rec = ctx.rec
    var stack: Stack = null
    var models: Seq[Model] = Nil
    for (rep <- 1 to 3) {
      val s0 = System.nanoTime()
      val (st, ms) = setUp(ctx, ctx.work.resolve(s"setup$rep"))
      rec.setupS += (System.nanoTime() - s0) / 1e9
      if (stack != null) { stack.close(); Harness.deleteTree(stack.dir) }
      stack = st; models = ms
    }
    val writesDone = new java.util.concurrent.atomic.AtomicLong()
    val served = new java.util.concurrent.atomic.AtomicLong()

    val classes = new Classes(ctx.seed)
    def issue(c: Int, m: Model, rnd: java.util.Random, cls: String, timed: Boolean): Unit = {
      val req = next(m, cls, rnd)
      val s = rec.nowMs
      val t0 = System.nanoTime()
      val result =
        try Right(stack.conns(c).request(req.lines))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      rec.span(s"c$c.r${served.incrementAndGet()}", "", s"request.${req.cls}", s, rec.nowMs)
      result match {
        case Right((data, None)) if data == req.expect =>
          req.apply()
          rec.attempt(ok = true)
          if (timed) {
            rec.sample(req.cls, ms)
            if (req.cls == "scan") { rec.add("server.scan_lines", data.size); rec.add("server.scan_ms", ms) }
            if (req.cls == "update") writesDone.addAndGet(1)
            if (req.cls == "delete") writesDone.addAndGet(2)
          }
        case Right((data, err)) =>
          rec.attempt(ok = false)
          err match {
            case Some((line, status)) =>
              if (timed) rec.add("server.err_responses", 1)
              if (status.contains("at capacity")) rec.add("server.refusals", 1)
              rec.fail(s"c$c", line, status)
            case None =>
              rec.fail(s"c$c", req.lines.mkString("; "),
                s"response of ${data.size} lines differs from the model's ${req.expect.size} " +
                  s"(first got ${data.take(3).mkString(",")}; expected ${req.expect.take(3).mkString(",")})")
          }
        case Left(e) => rec.attempt(ok = false); rec.fail(s"c$c", req.lines.mkString("; "), e)
      }
    }

    val rnds = (0 until Clients).map(c => new java.util.Random(ctx.seed * 7919L + c))
    def loop(more: () => Boolean, timed: Boolean): Unit = parallel(0 until Clients) { c =>
      var cls = classes.next(more)
      while (cls.isDefined) {
        issue(c, models(c), rnds(c), cls.get, timed)
        cls = classes.next(more)
      }
    }
    // warm-up, checked but untimed: one deck, which runs every request path
    // once; with the JVM compiling at tier 1 only (run.py), later decks then
    // keep an even pace
    var warmDecks = 1
    loop(() => { warmDecks -= 1; warmDecks >= 0 }, timed = false)
    // space after set-up and a fixed number of writes (the warm-up deck's),
    // so that it does not depend on how many decks the window holds
    rec.storeBytes = Harness.bytesUnder(stack.dir)
    rec.userBytes = 4L * models.map(m => 3L * IndexedRows + 2L * m.live.size).sum
    var versions0 = 0L
    ctx.measure(deadline => loop(() => System.nanoTime() < deadline, timed = true),
      prepare = () => { versions0 = Scripts.storeState(stack.engine)._1; writesDone.set(0) })
    if (ctx.traced) {
      val (versions, parts, bytes) = Scripts.storeState(stack.engine)
      rec.add("storage.versions_written", versions - versions0)
      rec.add("storage.compactions", versions - versions0 - writesDone.get())
      rec.add("storage.part_files", parts)
      rec.add("storage.db_bytes", bytes)
      replayInProcess(ctx, stack, models.head, rnds.head)
    }
    stack.close()
    Harness.deleteTree(stack.dir)
  }

  /** Traced only, after the timed loop: each request class twice through
    * `Session.eval` in-process, on client 0's tables, to split the server's
    * request time into session work and the rest (wire, queueing, locks);
    * and one in-process create + load of a copy of M.
    */
  private def replayInProcess(ctx: Ctx, stack: Stack, m: Model, rnd: java.util.Random): Unit = {
    stack.conns.foreach(_.close())
    val session = stack.engine.newSession()
    val csv = stack.dir.resolve("replay.csv")
    Files.write(csv, ("rx,ry" +: m.csvM.tail).mkString("", "\n", "\n").getBytes(UTF_8))
    ctx.rec.inWindow = true
    try {
      Scripts.run(ctx, session, Seq("""create(rx,"unsorted")""", """create(ry,"unsorted")""",
        s"""load("$csv")"""), "replay-load")
      ctx.rec.attempt(ok = true)
    } catch {
      case f: Scripts.LineFailure =>
        ctx.rec.attempt(ok = false); ctx.rec.fail("replay", f.line, f.getCause)
    }
    try (Deck.distinct ++ Deck.distinct).zipWithIndex.foreach { case (cls, i) =>
      val req = next(m, cls, rnd)
      try {
        val out = Scripts.run(ctx, session, req.lines, s"replay$i.${req.cls}")
        ctx.rec.attempt(ok = out == req.expect)
        if (out == req.expect) req.apply()
        else ctx.rec.fail("replay", req.lines.mkString("; "), "in-process result differs from the model")
      } catch {
        case f: Scripts.LineFailure =>
          ctx.rec.attempt(ok = false); ctx.rec.fail("replay", f.line, f.getCause)
      }
    } finally { ctx.rec.inWindow = false; session.dispose() }
  }
}
