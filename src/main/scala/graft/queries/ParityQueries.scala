package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.core.Engine
import graft.lang.Op._
import graft.operators.ColumnOps

/** One correctness query per parity operator (SURVEY.md §2), exercising
  * the shared operator implementations ([[ColumnOps]], and the full
  * [[Engine]] for create/load) over the driver's parquet tables, each with
  * an equivalent DuckDB oracle in [[oracles]].
  *
  * Conventions keeping the DuckDB hash-compare deterministic:
  * every output column is explicitly cast (INT <-> INTEGER, LONG <->
  * BIGINT), no raw doubles or timestamps are emitted, and every query ends
  * with an ORDER BY on a unique key.
  */
object ParityQueries {
  type Q = (SparkSession, String) => DataFrame

  private def qty = col("l_quantity")
  private def lnum = col("l_linenumber")

  // --- selects ---

  def selectAll(s: SparkSession, d: String): DataFrame =
    ColumnOps.selectAll(Tables.liCol(s, d, lnum)).orderBy("id")

  def selectValue(s: SparkSession, d: String): DataFrame =
    ColumnOps.selectValue(Tables.liCol(s, d, lnum), 3L).orderBy("id")

  def selectRange(s: SparkSession, d: String): DataFrame =
    ColumnOps.selectRange(Tables.liCol(s, d, qty), 10L, 20L).orderBy("id")

  // --- fetch ---

  def fetchVals(s: SparkSession, d: String): DataFrame = {
    val ids = ColumnOps.selectRange(Tables.liCol(s, d, qty), 10L, 20L)
    ColumnOps.fetchSet(Tables.liCol(s, d, col("l_partkey")), ids)
      .select("id", "v").orderBy("id")
  }

  // --- joins (4 keywords, one semantic) ---

  private def joinQ(jtype: JoinType)(s: SparkSession, d: String): DataFrame = {
    val lIds = ColumnOps.selectRange(Tables.liCol(s, d, qty), 10L, 20L)
    val l = ColumnOps.fetchSet(Tables.liCol(s, d, col("l_orderkey")), lIds)
    val rIds = ColumnOps.selectRange(
      Tables.ordCol(s, d, col("o_totalprice")), 50000L, 150000L)
    val r = ColumnOps.fetchSet(Tables.ordCol(s, d, col("o_orderkey")), rIds)
    val (pairs, _) = ColumnOps.join(jtype, l, r, Seq("id"), Seq("id"))
    pairs.select(col("lid"), col("rid")).orderBy("lid", "rid")
  }
  def joinHash: Q = joinQ(HashJoin)
  def joinSort: Q = joinQ(SortJoin)
  def joinLoop: Q = joinQ(LoopJoin)
  def joinTree: Q = joinQ(TreeJoin)

  /** The hashjoin keyword under the session skew knob
    * ([[graft.operators.SkewJoin.BucketsKey]]): the plan salts the left
    * side over 8 buckets and replicates the right, the result multiset is
    * identical — oracle-checked against the same SQL as join_hash. The
    * knob rides a [[graft.GraftSession.scoped]] child, so the caller's
    * conf never holds it.
    */
  def joinSkew: Q = (s, d) =>
    joinQ(HashJoin)(graft.GraftSession.scoped(s,
      Map(graft.operators.SkewJoin.BucketsKey -> "8")), d)

  // --- aggregates ---

  private def aggQ(atype: AggType, v: org.apache.spark.sql.Column)
                  (s: SparkSession, d: String): DataFrame = {
    val ids = ColumnOps.selectRange(Tables.liCol(s, d, qty), 5L, 45L)
    val vals = ColumnOps.fetchSet(Tables.liCol(s, d, v), ids)
    ColumnOps.aggregate(atype, vals).select("v")
  }
  def aggMin: Q = aggQ(AggMin, col("l_partkey"))
  def aggMax: Q = aggQ(AggMax, col("l_partkey"))
  def aggSum: Q = aggQ(AggSum, qty)
  def aggCount: Q = aggQ(AggCount, qty)
  def aggAvg: Q = aggQ(AggAvg, col("l_partkey"))

  // --- column math (ordinal-aligned elementwise; both operands fetched
  //     from one id set, so the ordinal zip is the id equi-join — the
  //     harness exposes the alignment key as `id` for row-wise compare) ---

  private def mathQ(mtype: MathType)(s: SparkSession, d: String): DataFrame = {
    val all = ColumnOps.selectAll(Tables.liCol(s, d, qty))
    val a = ColumnOps.fetchSet(Tables.liCol(s, d, qty), all)
    val b = ColumnOps.fetchSet(Tables.liCol(s, d, lnum), all)
    ColumnOps.math(mtype, a, b, Seq("id")).select("id", "v").orderBy("id")
  }
  def mathAdd: Q = mathQ(MathAdd)
  def mathSub: Q = mathQ(MathSub)
  def mathMul: Q = mathQ(MathMul)
  def mathDiv: Q = mathQ(MathDiv)

  // --- tuple ---

  def tupleEmit(s: SparkSession, d: String): DataFrame = {
    val all = ColumnOps.selectAll(Tables.liCol(s, d, qty))
    val vs = Seq(qty, lnum, col("l_partkey"))
      .map(c => ColumnOps.fetchSet(Tables.liCol(s, d, c), all))
    ColumnOps.tupleZip(vs, Seq("id"))
      .select("id", "v1", "v2", "v3").orderBy("id")
  }

  // --- mutations (the DataFrame mechanics the engine's rewrite uses) ---

  def insertOp(s: SparkSession, d: String): DataFrame = {
    val base = Tables.liCol(s, d, col("l_partkey"))
    val newRow = base.agg((max(col("id")) + 1L).as("id"))
      .select(col("id"), lit(999999).cast(IntegerType).as("v"))
    base.union(newRow).orderBy("id")
  }

  def deleteOp(s: SparkSession, d: String): DataFrame = {
    val base = Tables.liCol(s, d, col("l_partkey"))
    val ids = ColumnOps.selectValue(Tables.liCol(s, d, lnum), 3L)
    base.join(ids, Seq("id"), "left_anti").orderBy("id")
  }

  def updateOp(s: SparkSession, d: String): DataFrame = {
    val base = Tables.liCol(s, d, col("l_partkey"))
    val ids = ColumnOps.selectValue(Tables.liCol(s, d, lnum), 3L)
    base.join(ids.withColumn("nv", lit(0)), Seq("id"), "left")
      .select(col("id"), coalesce(col("nv"), col("v")).cast(IntegerType).as("v"))
      .orderBy("id")
  }

  // --- create/load: full engine round-trip through headered CSV ---

  /** Master copies of the reference-shaped CSV, one per corpus dir —
    * the same feeder-memoization contract as
    * [[StreamQueries.memoFeed]]: producing the CSV from the parquet
    * corpus is HARNESS cost (a real deployment loads CSVs it already
    * has; the operator under test is the engine's load/serve path, which
    * still runs fresh per rep), and six entries × bench reps re-derive
    * byte-identical files. Only the feeder reads this cache.
    */
  private val refCsvCache =
    new scala.collection.concurrent.TrieMap[String, String]

  /** Write lineitem's (l_orderkey, l_linenumber, l_quantity) as the
    * reference's headered-int CSV shape under `tmp/csv`; returns the file
    * path. Shared by the load and client/server round-trip entries. Each
    * caller gets its OWN copy of the memoized master (a local-fs copy is
    * ~ms against the Spark job it replaces) — entries delete or outlive
    * their input file independently (e.g. [[serverTcpLoad]] deletes it
    * to prove the bytes crossed the socket).
    */
  private def writeRefCsv(s: SparkSession, d: String, tmp: String): String = {
    val master = refCsvCache.getOrElseUpdate(d, {
      val mtmp = java.nio.file.Files.createTempDirectory("graft_refcsv").toString
      val csvDir = s"$mtmp/csv"
      Tables.lineitem(s, d)
        .select(col("l_orderkey").cast(IntegerType).as("ra"),
          lnum.cast(IntegerType).as("rb"), qty.cast(IntegerType).as("rc"))
        .coalesce(1).write.option("header", "true").csv(csvDir)
      registerCleanup(new java.io.File(mtmp))
      new java.io.File(csvDir).listFiles()
        .find(_.getName.endsWith(".csv")).get.getAbsolutePath
    })
    val dst = java.nio.file.Paths.get(tmp, "ref.csv")
    java.nio.file.Files.copy(java.nio.file.Paths.get(master), dst)
    dst.toString
  }

  /** The returned plans/results may lazily read the temp dir, so the tree
    * can only go at JVM exit — register it (dirs first: deleteOnExit
    * deletes in reverse registration order) so repeated bench/verify runs
    * don't accumulate lineitem-sized CSVs under /tmp.
    */
  private def registerCleanup(f: java.io.File): Unit = {
    f.deleteOnExit()
    val kids = f.listFiles()
    if (kids != null) kids.foreach(registerCleanup)
  }

  /** The script that creates ra, rb, rc and loads the reference CSV. */
  private def refLoad(csv: String, rcType: String = "sorted"): String =
    s"""create(ra,"unsorted")
       |create(rb,"unsorted")
       |create(rc,"$rcType")
       |load("$csv")
       |""".stripMargin

  /** ra, rb, rc fetched at a full select of ra, as plans. */
  private def fetchAll(engine: Engine): Seq[DataFrame] = {
    val session = engine.newSession()
    Seq("p=select(ra)", "a=fetch(ra,p)", "b=fetch(rb,p)", "c=fetch(rc,p)")
      .foreach(l => session.eval(graft.lang.Parser.parseLine(l).get))
    Seq("a", "b", "c").map(v => session.getVals(v).df)
  }

  private def zipped(vals: Seq[DataFrame]): DataFrame =
    ColumnOps.tupleZip(vals, Seq("id"))
      .select("v1", "v2", "v3").orderBy("v1", "v2", "v3")

  /** `(v1,v2)` tuple lines emitted over the wire, as rows. */
  private def tupleRows(s: SparkSession, lines: Seq[String]): DataFrame = {
    import s.implicits._
    lines.map { l =>
      val p = l.stripPrefix("(").stripSuffix(")").split(',')
      (p(0).trim.toInt, p(1).trim.toInt)
    }.toDF("v1", "v2").orderBy("v1", "v2")
  }

  def createLoad(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_load").toString
    val csv = writeRefCsv(s, d, tmp)
    val engine = new Engine(s, s"$tmp/db")
    engine.execute(refLoad(csv))
    val vals = fetchAll(engine)
    // the returned plans only READ the throwaway db; release the writer
    // lock now or every bench rep leaks an open lock-file channel
    engine.close()
    registerCleanup(new java.io.File(tmp))
    zipped(vals)
  }

  /** [[createLoad]] with the Engine forced into OBJECT-STORE mode
    * (`graft.store.object`): the rename-less control plane — writer
    * LEASE instead of the OS file lock, versioned epoch-fenced catalog
    * objects instead of a rename-committed catalog.txt — carrying the
    * same load->select->fetch->tuple chain to the same oracle. Two
    * engines run in sequence (load, then a REOPEN for the query), so
    * the result can only come from state that survived a full
    * lease-release/takeover cycle and a catalog reload from the
    * versioned objects; the mode's structural invariants (no
    * catalog.txt, committed `c<seq>-e<epoch>` objects, lease cleaned
    * up) are asserted inline.
    */
  def storeObject(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_objstore").toString
    val csv = writeRefCsv(s, d, tmp)
    val dbDir = s"$tmp/db"
    sys.props("graft.store.object") = "true"
    val vals =
      try {
        val e1 = new Engine(s, dbDir)
        try e1.execute(refLoad(csv)) finally e1.close()
        val e2 = new Engine(s, dbDir) // reopen: lease takeover + catalog reload
        try fetchAll(e2)
        finally e2.close() // else a failure leaks the lease heartbeat + jvmHeld key
      } finally sys.props.remove("graft.store.object")
    require(!new java.io.File(s"$dbDir/catalog.txt").exists(),
      "object mode must not write a rename-committed catalog.txt")
    val objs = Option(new java.io.File(s"$dbDir/catalog").listFiles())
      .getOrElse(Array.empty).map(_.getName).filterNot(_.startsWith("."))
    require(objs.nonEmpty && objs.forall(_.matches(raw"c\d{20}-e\d{10}\.txt")),
      s"versioned catalog objects expected, got: ${objs.mkString(",")}")
    // clean close TOMBSTONES the lease (heartbeat 0, epoch preserved
    // for the next writer) rather than deleting it
    val lease = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dbDir/_lease")).trim.split("\t")
    require(lease.length == 3 && lease(2) == "0",
      s"lease must be tombstoned on clean close, got: ${lease.mkString(",")}")
    registerCleanup(new java.io.File(tmp))
    zipped(vals)
  }

  /** The LOCK-FREE READER path under the oracle: a writer engine loads
    * the canonical CSV and stays OPEN (holding the writer lock) while a
    * second, read-only engine — no lock, no lease — serves the
    * select->fetch chain the oracle checks. Concurrent reader-beside-
    * writer is the point: the reader must neither be refused DBELOCKED
    * nor read anything but the committed snapshot.
    */
  def storeReadOnly(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rostore").toString
    val csv = writeRefCsv(s, d, tmp)
    val writer = new Engine(s, s"$tmp/db")
    val vals =
      try {
        writer.execute(refLoad(csv))
        // reader opens WHILE the writer still holds the lock
        val reader = new Engine(s, s"$tmp/db", readOnly = true)
        try fetchAll(reader) finally reader.close()
      } finally writer.close()
    registerCleanup(new java.io.File(tmp))
    zipped(vals)
  }

  /** Storage-reclaim under the oracle: the canonical load followed by a
    * mutation CHURN (update + delete — each a copy-on-write rewrite
    * leaving its predecessor version dir behind), then [[Engine.vacuum]]
    * with zero retention, then the select->fetch->tuple chain served
    * from the vacuumed store. The oracle replays the churn in SQL, so a
    * vacuum that deleted a LIVE version (or failed to reclaim) surfaces
    * as a hash mismatch / failed invariant: before the sweep the store
    * must hold strictly more version dirs than live columns, after it
    * exactly the live ones, with bytes reclaimed and a second sweep
    * finding nothing.
    */
  def storeVacuum(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    val csv = writeRefCsv(s, d, tmp)
    val dbDir = s"$tmp/db"
    val engine = new Engine(s, dbDir)
    val vals =
      try {
        engine.execute(refLoad(csv, "unsorted") +
          """u=select(rb,3)
             |update(u,rb,0)
             |del=select(rb,5)
             |delete(del,ra,rb,rc)
             |""".stripMargin)
        def versionDirs(): Seq[java.io.File] =
          Option(new java.io.File(s"$dbDir/cols").listFiles())
            .getOrElse(Array.empty).toSeq
            .flatMap(c => Option(c.listFiles()).getOrElse(Array.empty))
            .filter(f => f.isDirectory && f.getName.matches(raw"v\d+"))
        // churn left ra/rc at v2 and rb at v3: 7 dirs, 3 live
        val before = versionDirs().size
        require(before >= 7, s"expected >=7 version dirs after churn, got $before")
        val st = engine.vacuum(retainMs = 0L)
        require(st.deleted >= 4 && st.reclaimedBytes > 0,
          s"vacuum must reclaim the churn: $st")
        val after = versionDirs().size
        require(after == 3 && st.kept == 3,
          s"exactly the live dirs must survive, got $after kept=${st.kept}")
        require(engine.vacuum(retainMs = 0L).deleted == 0,
          "second vacuum must find nothing")
        fetchAll(engine)
      } finally engine.close()
    registerCleanup(new java.io.File(tmp))
    zipped(vals)
  }

  // --- client/server topology: the same round-trip through a real TCP
  //     socket (graft.server.TcpServer / NetClient — the reference's
  //     client/TCP/threadpool architecture, server.c:967-1006) ---

  /** The canonical select->fetch->tuple chain executed by a socket CLIENT
    * against a TcpServer: CSV load, range select, two fetches, tuple
    * emission — all results streamed over the wire in the reference text
    * formats, then parsed back into rows. The driver-local parse is the
    * SINK (the reference client's stdout, client.c:106-128), bounded by
    * the emitted result, not a distributed hot path.
    *
    * `ship = false`: the CSV is co-located (same process), so this entry
    * measures the bare server-side load + query round-trip; the
    * client-STREAMED load path is [[serverTcpLoad]]'s dedicated entry.
    * Without the knob this entry's measured work would silently include
    * a second client-side CSV read plus the wire copy.
    */
  def serverTcp(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tcp").toString
    val csv = writeRefCsv(s, d, tmp)
    val engine = new Engine(s, s"$tmp/db")
    val server = new graft.server.TcpServer(engine)
    val port = server.start()
    val out = collection.mutable.Buffer[String]()
    try {
      val failed = graft.server.NetClient.run("127.0.0.1", port,
        (refLoad(csv) + """p=select(rc,10,20)
           |a=fetch(ra,p)
           |b=fetch(rb,p)
           |tuple(a,b)
           |""".stripMargin).linesIterator,
        out += _,
        e => throw new IllegalStateException(s"server error: $e"),
        ship = false)
      require(!failed, "server_tcp script failed")
    } finally {
      server.close()
      engine.close()
      registerCleanup(new java.io.File(tmp))
    }
    tupleRows(s, out.toSeq)
  }

  /** [[serverTcp]] with the CLIENT-STREAMED load (the reference's
    * rpc_write_file path, rpc.c:181-206): NetClient ships the CSV body
    * as a FILE frame, the server loads its own spool, and the client
    * file is DELETED before any query runs — so the emitted tuples can
    * only have come from data that crossed the socket. Separate
    * connections for load and query double as the catalog-durability
    * check (session variables are per-connection; the loaded columns
    * are not). The spool-cleanup invariant (no `.csv.tmp` retained
    * under the dbdir) is asserted inline.
    */
  def serverTcpLoad(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tcpload").toString
    val csv = writeRefCsv(s, d, tmp)
    val engine = new Engine(s, s"$tmp/db")
    val server = new graft.server.TcpServer(engine)
    val port = server.start()
    val out = collection.mutable.Buffer[String]()
    try {
      val err: String => Unit =
        e => throw new IllegalStateException(s"server error: $e")
      val f1 = graft.server.NetClient.run("127.0.0.1", port,
        refLoad(csv).linesIterator, _ => (), err)
      require(!f1, "server_tcp_load load script failed")
      java.nio.file.Files.delete(java.nio.file.Paths.get(csv))
      require(new java.io.File(s"$tmp/db").listFiles()
        .forall(!_.getName.endsWith(".csv.tmp")), "spool not cleaned up")
      val f2 = graft.server.NetClient.run("127.0.0.1", port,
        """p=select(rc,5,15)
          |a=fetch(ra,p)
          |b=fetch(rb,p)
          |tuple(a,b)
          |""".stripMargin.linesIterator, out += _, err)
      require(!f2, "server_tcp_load query script failed")
    } finally {
      server.close()
      engine.close()
      registerCleanup(new java.io.File(tmp))
    }
    tupleRows(s, out.toSeq)
  }

  // --- flagship: the reference's canonical join-aggregate
  //     (BASELINE.md query shape) over lineitem x orders ---

  def flagship(s: SparkSession, d: String): DataFrame = {
    val lIds = ColumnOps.selectRange(Tables.liCol(s, d, qty), 10L, 20L)
    val l = ColumnOps.fetchSet(Tables.liCol(s, d, col("l_orderkey")), lIds)
    val rIds = ColumnOps.selectRange(
      Tables.ordCol(s, d, col("o_totalprice")), 50000L, 150000L)
    val r = ColumnOps.fetchSet(Tables.ordCol(s, d, col("o_orderkey")), rIds)
    val (pairs0, outCols) = ColumnOps.join(HashJoin, l, r, Seq("id"), Seq("id"))
    val pairs = pairs0.cache()
    val lVals = ColumnOps.fetchList(
      Tables.liCol(s, d, col("l_partkey")),
      pairs.select(outCols.map(col) :+ col("lid").as("id"): _*), outCols)
    val rVals = ColumnOps.fetchList(
      Tables.ordCol(s, d, col("o_custkey")),
      pairs.select(outCols.map(col) :+ col("rid").as("id"): _*), outCols)
    val maxr = ColumnOps.aggregate(AggMax, lVals).select(col("v").as("maxr"))
    val mins = ColumnOps.aggregate(AggMin, rVals).select(col("v").as("mins"))
    val cr = ColumnOps.aggregate(AggCount, lVals).select(col("v").as("cr"))
    val cs = ColumnOps.aggregate(AggCount, rVals).select(col("v").as("cs"))
    maxr.crossJoin(mins).crossJoin(cr).crossJoin(cs)
  }

  /** 32-bit wrap emulation in DuckDB SQL (sum/math overflow parity). */
  private def wrapSql(x: String): String =
    s"CAST(((($x) + 2147483648) % 4294967296 + 4294967296) % 4294967296 - 2147483648 AS INTEGER)"

  private def liIdSqlFor(p: String) =
    s"((($p.l_orderkey*10 + $p.l_linenumber)*1000000 + $p.l_partkey)*10000 + $p.l_suppkey)*100 + CAST(trunc($p.l_quantity) AS INTEGER)"
  private val liIdSql = liIdSqlFor("lineitem")

  val queries: Map[String, Q] = Map(
    "select_all" -> selectAll,
    "select_value" -> selectValue,
    "select_range" -> selectRange,
    "fetch_vals" -> fetchVals,
    "join_hash" -> joinHash,
    "join_sort" -> joinSort,
    "join_loop" -> joinLoop,
    "join_tree" -> joinTree,
    "join_skew" -> joinSkew,
    "agg_min" -> aggMin,
    "agg_max" -> aggMax,
    "agg_sum" -> aggSum,
    "agg_count" -> aggCount,
    "agg_avg" -> aggAvg,
    "math_add" -> mathAdd,
    "math_sub" -> mathSub,
    "math_mul" -> mathMul,
    "math_div" -> mathDiv,
    "tuple_emit" -> tupleEmit,
    "insert_op" -> insertOp,
    "delete_op" -> deleteOp,
    "update_op" -> updateOp,
    "create_load" -> createLoad,
    "store_object" -> storeObject,
    "store_readonly" -> storeReadOnly,
    "store_vacuum" -> storeVacuum,
    "server_tcp" -> serverTcp,
    "server_tcp_load" -> serverTcpLoad,
  )

  private def joinSql: String =
    s"""SELECT CAST(${liIdSqlFor("l")} AS BIGINT) AS lid, CAST(o.o_orderkey AS BIGINT) AS rid
       |FROM lineitem l JOIN orders o
       |  ON CAST(l.l_orderkey AS INTEGER) = CAST(o.o_orderkey AS INTEGER)
       |WHERE CAST(trunc(l.l_quantity) AS INTEGER) BETWEEN 10 AND 20
       |  AND CAST(trunc(o.o_totalprice) AS INTEGER) BETWEEN 50000 AND 150000
       |ORDER BY lid, rid""".stripMargin

  private def aggSql(expr: String): String =
    s"""SELECT $expr AS v FROM lineitem
       |WHERE CAST(trunc(l_quantity) AS INTEGER) BETWEEN 5 AND 45""".stripMargin

  private def mathSql(expr: String): String =
    s"""SELECT CAST($liIdSql AS BIGINT) AS id,
       |  CAST($expr AS INTEGER) AS v FROM lineitem ORDER BY id""".stripMargin

  val oracles: Map[String, String] = Map(
    "select_all" ->
      s"SELECT CAST($liIdSql AS BIGINT) AS id FROM lineitem ORDER BY id",
    "select_value" ->
      s"SELECT CAST($liIdSql AS BIGINT) AS id FROM lineitem WHERE l_linenumber = 3 ORDER BY id",
    "select_range" ->
      s"SELECT CAST($liIdSql AS BIGINT) AS id FROM lineitem WHERE CAST(trunc(l_quantity) AS INTEGER) BETWEEN 10 AND 20 ORDER BY id",
    "fetch_vals" ->
      s"""SELECT CAST($liIdSql AS BIGINT) AS id, CAST(l_partkey AS INTEGER) AS v
         |FROM lineitem WHERE CAST(trunc(l_quantity) AS INTEGER) BETWEEN 10 AND 20 ORDER BY id""".stripMargin,
    "join_hash" -> joinSql,
    "join_sort" -> joinSql,
    "join_loop" -> joinSql,
    "join_tree" -> joinSql,
    "join_skew" -> joinSql,
    "agg_min" -> aggSql("CAST(MIN(CAST(l_partkey AS INTEGER)) AS INTEGER)"),
    "agg_max" -> aggSql("CAST(MAX(CAST(l_partkey AS INTEGER)) AS INTEGER)"),
    "agg_sum" -> aggSql(wrapSql("SUM(CAST(trunc(l_quantity) AS INTEGER))")),
    "agg_count" -> aggSql("CAST(COUNT(*) AS INTEGER)"),
    "agg_avg" -> aggSql(
      s"CAST(${wrapSql("SUM(CAST(l_partkey AS BIGINT))")} // COUNT(*) AS INTEGER)"),
    "math_add" -> mathSql("CAST(trunc(l_quantity) AS INTEGER) + l_linenumber"),
    "math_sub" -> mathSql("CAST(trunc(l_quantity) AS INTEGER) - l_linenumber"),
    "math_mul" -> mathSql("CAST(trunc(l_quantity) AS INTEGER) * l_linenumber"),
    "math_div" -> mathSql("CAST(trunc(l_quantity) AS INTEGER) // l_linenumber"),
    "tuple_emit" ->
      s"""SELECT CAST($liIdSql AS BIGINT) AS id,
         |  CAST(trunc(l_quantity) AS INTEGER) AS v1, CAST(l_linenumber AS INTEGER) AS v2,
         |  CAST(l_partkey AS INTEGER) AS v3 FROM lineitem ORDER BY id""".stripMargin,
    "insert_op" ->
      s"""SELECT CAST($liIdSql AS BIGINT) AS id, CAST(l_partkey AS INTEGER) AS v FROM lineitem
         |UNION ALL SELECT (SELECT CAST(MAX($liIdSql)+1 AS BIGINT) FROM lineitem), 999999
         |ORDER BY id""".stripMargin,
    "delete_op" ->
      s"""SELECT CAST($liIdSql AS BIGINT) AS id, CAST(l_partkey AS INTEGER) AS v
         |FROM lineitem WHERE l_linenumber <> 3 ORDER BY id""".stripMargin,
    "update_op" ->
      s"""SELECT CAST($liIdSql AS BIGINT) AS id,
         |  CAST(CASE WHEN l_linenumber = 3 THEN 0 ELSE l_partkey END AS INTEGER) AS v
         |FROM lineitem ORDER BY id""".stripMargin,
    "create_load" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS v1, CAST(l_linenumber AS INTEGER) AS v2,
        |  CAST(trunc(l_quantity) AS INTEGER) AS v3 FROM lineitem ORDER BY v1, v2, v3""".stripMargin,
    "store_object" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS v1, CAST(l_linenumber AS INTEGER) AS v2,
        |  CAST(trunc(l_quantity) AS INTEGER) AS v3 FROM lineitem ORDER BY v1, v2, v3""".stripMargin,
    "store_readonly" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS v1, CAST(l_linenumber AS INTEGER) AS v2,
        |  CAST(trunc(l_quantity) AS INTEGER) AS v3 FROM lineitem ORDER BY v1, v2, v3""".stripMargin,
    "store_vacuum" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS v1,
        |  CAST(CASE WHEN l_linenumber = 3 THEN 0 ELSE l_linenumber END AS INTEGER) AS v2,
        |  CAST(trunc(l_quantity) AS INTEGER) AS v3
        |FROM lineitem WHERE l_linenumber <> 5 ORDER BY v1, v2, v3""".stripMargin,
    "server_tcp" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS v1, CAST(l_linenumber AS INTEGER) AS v2
        |FROM lineitem WHERE CAST(trunc(l_quantity) AS INTEGER) BETWEEN 10 AND 20
        |ORDER BY v1, v2""".stripMargin,
    "server_tcp_load" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS v1, CAST(l_linenumber AS INTEGER) AS v2
        |FROM lineitem WHERE CAST(trunc(l_quantity) AS INTEGER) BETWEEN 5 AND 15
        |ORDER BY v1, v2""".stripMargin,
  )
}
