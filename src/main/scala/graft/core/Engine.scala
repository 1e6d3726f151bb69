package graft.core

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.lang.{Op, Parser}
import graft.lang.Op._
import graft.operators.ColumnOps
import graft.core.Intermediate.{Fused, Ids, Vals}
import graft.core.Align

/** The engine: a database directory + script interpreter.
  *
  * Replaces the reference's client/TCP/threadpool topology
  * (/root/reference/src/server/server.c) with in-process sessions over one
  * SparkSession — Spark's own cluster runtime supplies the distribution the
  * reference got from threads. Each [[Session]] holds the per-connection
  * variable environment (server.c:45-268); the catalog is shared and
  * synchronized.
  *
  * Evaluation is declarative-lazy: operators build DataFrame plans,
  * Catalyst fuses the reference's eager select->fetch->agg chains into
  * single Spark jobs, and `.collect()` happens only at emission points
  * (print/tuple/bare ops) — never mid-pipeline.
  */
final class Engine(val spark: SparkSession, val dbDir: String,
                   val readOnly: Boolean = false)
    extends AutoCloseable {
  /** Writer engines only. Acquired BEFORE the catalog touches anything:
    * a second live WRITER must fail loudly without reading or writing a
    * byte of the store. Store mode decides the mechanism: local dbDirs
    * use the OS advisory file lock + rename-commit catalog;
    * object-store dbDirs (hdfs://, s3a://, ... — or any path under
    * `-Dgraft.store.object`) use the WriterLease + versioned-object
    * catalog, which never renames.
    *
    * READ-ONLY engines take NO lock and NO lease: column versions are
    * immutable copy-on-write dirs and the live catalog is an atomic
    * file (local) or an ordering over immutable commit objects
    * (object mode), so any number of readers can open concurrently —
    * with or without a live writer — each pinned to the committed
    * SNAPSHOT at its open (reopen to observe later commits). Mutations
    * through a read-only engine fail DBEUNSUPPORTED at the catalog
    * commit seam.
    */
  private val writerLock: Option[Engine.WriterLock] =
    if (readOnly) None else Some(Engine.acquireWriterLock(spark, dbDir))
  // a throwing catalog load (malformed catalog record) must release the
  // lock on its way out — there is no Engine instance to close(), and a
  // leaked lock would turn every retry-after-repair into a misleading
  // DBELOCKED for the rest of the JVM's life
  val catalog: Catalog =
    try new Catalog(dbDir, writerLock match {
      case Some(Engine.LeaseLock(_, io, lease)) =>
        new VersionedCatalogStore(io, dbDir, lease)
      case Some(_: Engine.FileLock) => new RenameCatalogStore(dbDir)
      case None => new ReadOnlyCatalogStore(() =>
        if (Engine.isObjectStore(dbDir)) {
          val io = Engine.storeIoFor(spark, dbDir)
          val dir = s"$dbDir/catalog"
          // LIST-then-read races the live writer's catalog GC (the
          // reader holds no lease, so nothing excludes a concurrent
          // sweep deleting every listed object before the reads). The
          // writer's own init never faces this — the lease excludes
          // other writers. Retry with a fresh listing. Two DISTINCT
          // no-winner states must be told apart: a GC race (the
          // listing keeps changing — retry, and entries present but no
          // readable winner after retries is an error, never a
          // silently empty catalog) vs a STABLE all-torn store (the
          // same markerless entries twice in a row — the first writer
          // crashed mid-first-commit; a writer opens that store as an
          // empty catalog, so a reader must too, not DBEIO).
          // Store contract this leans on (writer init shares it): a
          // LIST must eventually include every committed object, and an
          // object absent from a GET after being listed is deleted, not
          // pending. A store that can serve the SAME stale listing
          // twice while hiding every committed object would open (a
          // reader or a writer alike) as empty — that exposure is a
          // fresh open's only; a LIVE replica is protected by
          // Catalog.reload's dominance guard, which refuses to move a
          // served snapshot backward or blank it.
          var out: Option[String] = None
          var settled = false
          var attempt = 0
          var prevNames: Seq[String] = null
          while (!settled) {
            val entries = io.list(dir)
              .flatMap(n => VersionedCatalogStore.parseName(n).map(_ -> n))
            if (entries.isEmpty) settled = true // genuinely empty store
            else VersionedCatalogStore.winningBody(io, dir, entries) match {
              case Some((_, body)) => out = Some(body); settled = true
              case None =>
                val names = entries.map(_._2).sorted
                if (prevNames != null && names == prevNames)
                  settled = true // stable all-torn: open empty, like a writer
                else {
                  prevNames = names
                  attempt += 1
                  if (attempt >= 5)
                    throw DbError.ioError(
                      s"cannot read a committed catalog from $dir after " +
                        "5 attempts (raced a writer's GC every time?)")
                  Thread.sleep(50L * attempt)
                }
            }
          }
          out
        } else {
          val f = java.nio.file.Paths.get(dbDir, "catalog.txt")
          if (java.nio.file.Files.exists(f))
            Some(java.nio.file.Files.readString(f))
          else None
        })
    })
    catch { case e: Throwable =>
      writerLock.foreach(Engine.releaseWriterLock); throw e
    }

  /** Where the TCP server spools client-streamed CSV bodies: the dbDir
    * itself when it's a plain local directory (spool visibility matches
    * the store's lifetime); the JVM temp dir when the store is remote
    * (a spool is transient local scratch — it must never cost an
    * object-store PUT, and `java.nio.Files` can't address s3a:// paths
    * anyway).
    */
  def spoolDir: java.nio.file.Path = writerLock match {
    case Some(_: Engine.FileLock) => java.nio.file.Paths.get(dbDir)
    case _ => java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
  }

  /** Release the single-writer lock (file lock or lease). The restart
    * pattern (stop one server process, start another on the same store)
    * is modeled as close() + new Engine; a crashed PROCESS needs no
    * close — the OS releases its file lock, and a lease simply stops
    * being heartbeated and expires. Idempotent.
    */
  override def close(): Unit =
    writerLock.foreach(Engine.releaseWriterLock)

  /** Read-only engines: re-pin to the newest committed snapshot
    * WITHOUT a full reopen — no catalog-store reconstruction, no lock
    * churn; just the winning-body selection re-run and the served map
    * swapped atomically (a read concurrent with refresh sees the old
    * snapshot or the new one, never a mix — [[Catalog.reload]]). The
    * long-lived read-replica topology's heartbeat: a replica server
    * calls this on a timer instead of paying a full engine open per
    * poll. No-op on writer engines — a writer IS the newest state.
    */
  def refresh(): Unit = if (readOnly) catalog.reload()

  /** Reclaim UNREFERENCED copy-on-write version directories — the
    * storage half of the copy-on-write contract (every delete/update/
    * compact leaves its predecessor dir behind; without a vacuum a
    * mutation-heavy store grows without bound, ~one full column copy
    * per rewrite). Public recipe: Delta Lake's VACUUM / Iceberg's
    * expire-snapshots, reduced to this engine's two-level layout.
    *
    * A version dir `cols/<name>/v<k>` is deleted iff ALL of:
    *   - it is not the column's LIVE version (current catalog), and
    *   - no RETAINED catalog object references it (object mode keeps
    *     the last [[VersionedCatalogStore]] `Keep` commits; those are
    *     exactly the snapshots a lock-free reader could have pinned at
    *     open — every one of their referenced versions survives), and
    *   - its age exceeds `retainMs` — measured from the newest FILE in
    *     the dir, not the dir entry itself (S3A reports prefix-"dir"
    *     mtime as 0, which would void the grace): the window for
    *     readers pinned BEFORE the retained history and for bound
    *     intermediates in long-lived sessions; readers must
    *     [[refresh]] or reopen within it — the same contract Delta's
    *     VACUUM retention documents.
    * Versions ABOVE the live one (a crashed predecessor's uncommitted
    * rewrite) are garbage by the same rule: nothing references them.
    *
    * Concurrency: the catalog monitor excludes every in-process
    * mutation (all writes hold it); the writer lock/lease excludes
    * other writers. In object mode each delete is additionally FENCED
    * ([[WriterLease.checkFenced]]): it executes within one TTL of a
    * verified-ours lease read, a window in which no successor can
    * legally claim — and a paused-then-resumed vacuum self-fences at
    * its next delete instead of touching dirs a successor now owns
    * (the same staleness rule catalog commits rely on). Read-only
    * engines refuse (DBEUNSUPPORTED).
    */
  def vacuum(retainMs: Long = Engine.DefaultVacuumRetainMs): Engine.VacuumStats = {
    if (readOnly)
      throw DbError.unsupported("vacuum on a read-only engine")
    // With a retention grace the sweep runs OUTSIDE the catalog monitor:
    // holding it for the full store walk (a listing + fenced delete per
    // version dir) would stall every concurrent read on catalog.require
    // for the sweep's duration. Safety without the monitor: the live
    // snapshot below only errs toward KEEPING (a concurrent rewrite's
    // old live version stays in the snapshot), and any dir a concurrent
    // mutation creates is mtime-fresh, inside the grace. Only a
    // zero-grace sweep (tests, force-reclaim) needs mutations excluded —
    // there a just-committed dir has age 0 >= retainMs and would be
    // deletable the instant the catalog moves past it.
    if (retainMs <= 0L)
      catalog.synchronized(vacuumSweep(retainMs,
        catalog.all.map(c => c.name -> c.version).toMap))
    else
      vacuumSweep(retainMs, catalog.synchronized(
        catalog.all.map(c => c.name -> c.version).toMap))
  }

  private def vacuumSweep(retainMs: Long,
                          live: Map[String, Long]): Engine.VacuumStats = {
    {
      val fence: () => Unit = writerLock match {
        case Some(Engine.LeaseLock(_, _, lease)) => () => lease.checkFenced()
        case _ => () => ()
      }
      // object mode: a lock-free reader can be pinned to ANY snapshot
      // that was the winning body since the retained history's start —
      // the union of references across every retained object (torn ones
      // included: their readable prefix only errs safe) must survive
      val retained: Map[String, Set[Long]] = writerLock match {
        case Some(Engine.LeaseLock(_, io, _)) =>
          val dir = s"$dbDir/catalog"
          io.list(dir)
            .filter(n => VersionedCatalogStore.parseName(n).isDefined)
            .flatMap(n => io.read(s"$dir/$n").toSeq.flatMap(Catalog.versionRefs))
            .groupMapReduce(_._1)(t => Set(t._2))(_ ++ _)
        case _ => Map.empty
      }
      val root = new org.apache.hadoop.fs.Path(s"$dbDir/cols")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val now = System.currentTimeMillis()
      var deleted = 0L; var kept = 0L; var bytes = 0L
      val colDirs =
        if (fs.exists(root)) fs.listStatus(root).filter(_.isDirectory)
        else Array.empty[org.apache.hadoop.fs.FileStatus]
      val VersionDir = raw"v(\d+)".r
      colDirs.foreach { cd =>
        val name = cd.getPath.getName
        val keep: Set[Long] =
          retained.getOrElse(name, Set.empty) ++ live.get(name)
        fs.listStatus(cd.getPath).filter(_.isDirectory).foreach { vd =>
          vd.getPath.getName match {
            case VersionDir(k) if !keep(k.toLong) =>
              // age/size from the dir's FILES, one listing: object-store
              // connectors (S3A) report prefix-"directory" mtime as 0,
              // which would silently void the grace — part files carry
              // real timestamps on every store. An empty dir falls back
              // to the dir mtime (nothing to lose either way).
              val files =
                try fs.listStatus(vd.getPath).filter(_.isFile)
                catch {
                  case _: java.io.FileNotFoundException =>
                    Array.empty[org.apache.hadoop.fs.FileStatus]
                }
              val mtime =
                if (files.isEmpty) vd.getModificationTime
                else files.map(_.getModificationTime).max
              if (now - mtime >= retainMs) {
                val sz = files.map(_.getLen).sum
                // fence IMMEDIATELY before the delete — nothing slow may
                // sit between the verified-ours lease read and the
                // delete, or the "within one TTL" window argument breaks
                fence()
                if (fs.delete(vd.getPath, true)) { deleted += 1; bytes += sz }
              } else kept += 1
            case VersionDir(_) => kept += 1
            case _ => () // not a version dir — never touch
          }
        }
      }
      Engine.VacuumStats(colDirs.length, deleted, kept, bytes)
    }
  }

  def column(name: String): DataFrame =
    Storage.readColumn(spark, catalog.require(name))

  /** Columns whose live data dir is known consistent with the catalog's
    * file accounting. A crash-orphaned append (see [[Session.evalInsert]])
    * can only PREDATE this process — the engine serializes its own
    * writes under `catalog.synchronized` and parquet job commits are
    * atomic — so the listing that detects one needs to run at most once
    * per column per Engine lifetime, not per append (on hdfs://-/s3a://
    * dbDirs a per-append listStatus RPC would make appends O(listing)).
    * Any fresh-version write this process performs re-establishes the
    * accounting and marks the column checked.
    *
    * This assumes ONE live writer Engine per dbDir (the reference's
    * topology too — one server process owns the store, server.c:967-1006).
    * A second concurrent Engine appending to the same dbDir could crash
    * mid-append AFTER this engine's once-per-lifetime check, leaving an
    * orphan this engine would no longer detect; interleave engines only
    * sequentially (fresh Engine per script, as GoldenChallengeSpec does),
    * never as concurrent writers.
    */
  private[core] val orphanChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def newSession(): Session = new Session(this)

  /** One-shot: run a whole script in a fresh session, return output lines
    * (materialized — tests and small batch runs; the CLI consumes
    * [[Session.eval]]'s iterator directly to keep driver memory bounded).
    */
  def execute(script: String): Seq[String] = {
    val ops = Parser.parseScript(script) match {
      case Right(o)  => o
      case Left(bad) => throw DbError.parse(bad)
    }
    val s = newSession()
    try ops.flatMap(op => s.eval(op).toSeq)
    finally s.dispose()
  }
}

/** Per-connection variable environment + operator evaluation. */
final class Session(val engine: Engine) {
  import engine.{spark, catalog}

  private val env = mutable.Map[String, Intermediate]()

  private implicit val writes: ExecutionContext = Engine.writePool

  def get(name: String): Intermediate =
    env.getOrElse(name, throw DbError.varNotFound(name))

  def getIds(name: String): Ids = get(name) match {
    case i: Ids  => i
    case _: Vals => throw DbError.varType(s"$name is a values intermediate, need positions")
  }

  def getVals(name: String): Vals = get(name) match {
    case v: Vals => v
    case _: Ids  => throw DbError.varType(s"$name is a position intermediate, need values")
  }

  /** Rebinding destroys the old value (server.c:197-268).
    *
    * A binding is a PLAN, never a cache: each consumer re-runs it. A
    * `cache()` costs a Spark job of its own when it is built, and
    * engine requests are bound by per-job cost, so that job cost more
    * than the recompute it saved (SCALE.md, "Materialization policy").
    * Reads stay exact without one: a bound plan reads its column-version
    * snapshot (`id < nextId` of an immutable version dir) whenever it
    * runs.
    */
  private def bind(name: String, value: Intermediate): Unit =
    env(name) = value

  /** End-of-connection cleanup: clear the environment. The reference
    * frees the session env when its connection dies (server.c:72-78);
    * long-running topologies (TcpServer) call this when the client
    * disconnects. Idempotent; the session stays usable (empty).
    */
  def dispose(): Unit = env.clear()

  /** [[eval]] under the reference client's per-line error contract
    * (client.c:88-104): lines go to `out`; the result is the error, if
    * any — a [[DbException]]'s message, else `DBEFILE: …`. Only a
    * stopped SparkContext is fatal ([[FatalSessionError]]).
    */
  def run(op: Op, out: String => Unit): Option[String] =
    try { eval(op).foreach(out); None }
    catch {
      case e: DbException => Some(e.getMessage)
      case scala.util.control.NonFatal(e) =>
        if (spark.sparkContext.isStopped) throw new FatalSessionError(e)
        Some(s"DBEFILE: ${e.getMessage}")
    }

  /** [[run]] for a script line; unparseable is `DBEPARSE: cannot parse`. */
  def runLine(line: String, out: String => Unit): Option[String] =
    Parser.parseLine(line) match {
      case Some(op) => run(op, out)
      case None     => Some(DbError.parse(line).getMessage)
    }

  /** Evaluate one op; returns client-visible output lines (non-assign
    * forms stream results; assignments are silent). Output formats match
    * the reference client (client.c:44-128): ids one per line, values one
    * per line, tuples as `(v1,v2,...)`.
    *
    * Emission is an ITERATOR over [[org.apache.spark.sql.Dataset
    * .toLocalIterator]]: the reference streams results over the socket
    * (rpc.c:209-357) rather than buffering them, and the Spark twin of
    * that is fetching one partition at a time — driver memory is bounded
    * by the largest partition, never the full result (one partition only
    * for a result proven small, see [[smallResult]]). Side effects
    * (binds, mutations) happen eagerly in this call; only result
    * transfer is lazy. Consume (or discard) the iterator before issuing
    * an op that mutates the columns it reads.
    */
  /** Read-only enforcement lives HERE, before an op touches anything:
    * the catalog-commit seam alone is too late — Load/Insert/Delete/
    * Update write parquet into the SHARED store (appends into the live
    * dir, copy-on-write dirs at snapshotVersion+1 that can collide with
    * the live writer's) before their catalog update would be refused.
    * A denied mutation must write zero bytes. The ReadOnlyCatalogStore
    * commit-throw remains as a backstop for direct catalog callers.
    */
  private def requireWritable(): Unit =
    if (engine.readOnly)
      throw DbError.unsupported("mutation on a read-only engine")

  def eval(op: Op): Iterator[String] = op match {

    case Create(c, stype) =>
      requireWritable()
      catalog.create(c, stype); Iterator.empty

    case Load(file) =>
      requireWritable()
      evalLoad(file); Iterator.empty

    case SelectAll(assign, c)          => evalSelect(assign, c, None)
    case SelectValue(assign, c, x)     => evalSelect(assign, c, Some((x, x)))
    case SelectRange(assign, c, lo, hi) => evalSelect(assign, c, Some((lo, hi)))

    case Fetch(assign, c, posVar) =>
      // read from the SAME meta snapshot the checks below use — a second
      // catalog read could see a concurrent mutation and diverge from
      // the length/fusion decision
      val meta = catalog.require(c)
      val ids = getIds(posVar)
      // bitmap length must match the column (storage.c:1311-1318)
      if (!ids.ordered && ids.src.nextId != meta.nextId) throw DbError.colDiffLen(c)
      // A fetch keeps its ids' alignment lineage only when no row of them
      // can be dropped. Every id is live in `ids.src` (the select source,
      // or the column a join input fetched), so that holds when the
      // target is pristine and at least as long, or shares `ids.src`'s
      // live set. Otherwise the fetch may drop tombstoned positions, and
      // two fetches from one position source could diverge row-wise; a
      // fresh tag forces the rank-zip fallback (the reference's
      // k-th-value-of-each semantics) instead of a silent id-join drop.
      // A fetch that keeps the lineage also carries its join tree over
      // the ids' source, so same-lineage siblings can zip in one tree
      // ([[fusable]]).
      val keepsLineage = (meta.pristine && ids.src.nextId <= meta.nextId) ||
        sameLive(ids.src, meta)
      val tree = Fused.fetch(ids, meta)
      val key = tree.fetches.head._1
      // select-all -> fetch fusion: a full select holds every live
      // position of its source; a target with the same live set holds
      // exactly those, so the fetch IS the base column — no join.
      // Otherwise the ids' align columns, their position as `id`, and v.
      val df = if (ids.fullSelect && sameLive(ids.src, meta))
                 Storage.readColumn(spark, meta).select("id", "v")
               else Fused.plan(spark, Seq(tree),
                 ids.align.cols.filterNot(_ == key).map(col) :+ col(key).as("id"),
                 Seq("v"), oneTask = false)
      val vals = Vals(df,
        if (keepsLineage) ids.align else Align.fresh(ids.align.cols),
        fetched = Some(meta), fullBase = ids.fullSelect, rowBound = ids.rowBound,
        tree = Some(tree).filter(_ => keepsLineage))
      emitOrBind(assign, vals)

    case Join(jtype, varL, varR, inL, inR) =>
      val l = getVals(inL)
      val r = getVals(inR)
      if (!l.hasIds) throw DbError.varType(s"join input $inL carries no positions")
      if (!r.hasIds) throw DbError.varType(s"join input $inR carries no positions")
      if (jtype == TreeJoin) {
        val ok = r.fullBase && r.fetched.exists(_.stype == BTree)
        if (!ok) throw DbError.noTree(inR)
      }
      val (pairs, outCols) =
        ColumnOps.join(jtype, l.df, r.df, l.align.cols, r.align.cols)
      // Both sides share one pair order: one fresh alignment lineage, and
      // one position source (the pair plan, keyed by lid or rid).
      val align = Align.fresh(outCols)
      def side(key: String, in: Vals): Ids =
        Ids(pairs.select(outCols.map(col) :+ col(key).as("id"): _*),
          ordered = true, align = align, src = in.fetched.get,
          pairs = Some(pairs -> key))
      bind(varL, side("lid", l))
      bind(varR, side("rid", r))
      Iterator.empty

    case Agg(atype, assign, input) =>
      val in = getVals(input)
      // avg empty pre-check: a memoized length answers without an action;
      // otherwise isEmpty (limit-1 job, cheaper than a count)
      if (atype == AggAvg &&
          tagLen.get(in.align.tag).fold(in.df.isEmpty)(_ == 0L))
        throw DbError.divZero()
      val out = Vals(ColumnOps.aggregate(atype, in.df), Align.singleton,
        aggSrc = Some((atype, in)))
      emitOrBind(assign, out)

    case Math(mtype, assign, in1, in2) =>
      val l = getVals(in1)
      val r = getVals(in2)
      mathPreCheck(l, r, checkZeros = mtype == MathDiv)
      // equal lengths are checked, so either operand's bound holds
      val bound = l.rowBound.orElse(r.rowBound)
      val out = fusable(Seq(l, r)) match {
        case Some(trees) =>
          val t = Fused.combine(trees)(cs => ColumnOps.mathExpr(mtype, cs(0), cs(1)))
          Vals(Fused.plan(spark, Seq(t), l.align.cols.map(col), Seq("v"), oneTask = false),
            l.align, rowBound = bound, tree = Some(t))
        case None =>
          val (lAligned, rAligned) = aligned(l, r)
          Vals(ColumnOps.math(mtype, lAligned.df, rAligned.df, lAligned.align.cols),
            lAligned.align, rowBound = bound)
      }
      emitOrBind(assign, out)

    case Insert(colVals) =>
      requireWritable()
      evalInsert(colVals); Iterator.empty

    case Delete(posVar, cols) =>
      requireWritable()
      // a left-anti join ignores duplicate ids: a list needs no distinct
      val ids = getIds(posVar).df.select("id")
      // delete punches holes in the position space -> fresh live-set ids;
      // the per-column rewrites overlap (independent write jobs)
      rewriteMany(cols, base =>
        base.join(ids, Seq("id"), "left_anti"), deletes = true)
      Iterator.empty

    case Update(posVar, c, value) =>
      requireWritable()
      val ids = idsOf(getIds(posVar))
      // update changes values but every position stays live
      rewrite(c, base =>
        base.join(ids.withColumn("nv", lit(value)), Seq("id"), "left")
          .select(col("id"), coalesce(col("nv"), col("v")).cast(IntegerType).as("v")),
        deletes = false)
      Iterator.empty

    case Op.Tuple(vars) =>
      val vals = vars.map(getVals)
      val lengths = vals.map(lengthOf)
      if (lengths.distinct.size > 1) throw DbError.intermDiffLen()
      // all-aggregate tuples fuse per shared input; fetches from one
      // position source zip in one join tree; other same-lineage operands
      // zip on the shared align key; otherwise rank-zip
      val out = vals.indices.map(i => s"v${i + 1}")
      // equal lengths are checked, so any operand's bound holds
      val bound = vals.flatMap(_.rowBound).minOption
      val small = smallResult(bound, out.size)
      val (zipped, cols) =
        if (vals.size > 1 && vals.forall(v =>
          v.align.tag == Align.SingletonTag && v.aggSrc.isDefined))
          (fusedAggregates(vals), Nil)
        else fusable(vals) match {
          case Some(trees) =>
            val cols = vals.head.align.cols
            (Fused.plan(spark, trees, cols.map(col), out, small), cols)
          case None => vals.map(_.align.tag).distinct match {
            case Seq(_) =>
              val cols = vals.head.align.cols
              (ColumnOps.tupleZip(vals.map(_.df), cols), cols)
            case _ =>
              val posed = vals.map(v =>
                ColumnOps.withPos(v.df.select((v.align.cols :+ "v").map(col): _*),
                  v.align.cols.map(col)).select("pos", "v"))
              (ColumnOps.tupleZip(posed, Seq("pos")), Seq("pos"))
          }
        }
      stream(zipped, cols, small, out)
        .map(row => out.indices.map(row.getInt).mkString("(", ",", ")"))

    case Print(v) => emit(get(v))
  }

  // ---- helpers ----

  private def evalSelect(assign: Option[String], c: String,
                         bounds: Option[(Long, Long)]): Iterator[String] = {
    val meta = catalog.require(c)
    // one meta snapshot for both the src recorded below and the data
    val base = Storage.readColumn(spark, meta)
    val df = bounds match {
      case None             => ColumnOps.selectAll(base)
      case Some((lo, hi)) if lo == hi => ColumnOps.selectValue(base, lo)
      case Some((lo, hi))   => ColumnOps.selectRange(base, lo, hi)
    }
    val ids = Ids(df, ordered = false, align = Align.fresh(Seq("id")),
      src = meta, fullSelect = bounds.isEmpty)
    assign match {
      case Some(v) => bind(v, ids); Iterator.empty
      case None    => emit(ids)
    }
  }

  /** Two column snapshots hold the same live positions ([[ColumnMeta]]). */
  private def sameLive(a: ColumnMeta, b: ColumnMeta): Boolean =
    a.liveSet == b.liveSet && a.nextId == b.nextId

  /** The operands' join trees, when all share one alignment lineage and
    * one position source: then each holds every row of that source (a
    * fetch keeps the lineage only if it drops none), and one join tree
    * `source ⋈ c1 ⋈ c2 ...` zips them exactly. Joining each fetch to the
    * source separately and zipping the results on the align columns
    * instead reads the source once per operand, and Spark sizes a join
    * of joins as the product of its inputs, so it plans shuffles there.
    */
  private def fusable(vs: Seq[Vals]): Option[Seq[Fused]] = {
    val ts = vs.flatMap(_.tree)
    if (ts.size == vs.size && vs.forall(_.align.tag == vs.head.align.tag) &&
        ts.forall(_.source eq ts.head.source)) Some(ts)
    else None
  }

  private def emitOrBind(assign: Option[String], v: Vals): Iterator[String] =
    assign match {
      case Some(name) => bind(name, v); Iterator.empty
      case None       => emit(v)
    }

  /** Fuse a tuple of singleton aggregate results: operands whose
    * aggregates read one input — the SAME input plan (`sameResult` on the
    * analyzed plans — e.g. `max(v)`, `min(v)`, `count(v)` of one fetch),
    * or fetches from one position source ([[fusable]] — e.g. `max` of a
    * join's left fetch and `min` of its right one, over one pair join) —
    * collapse into a single multi-expression `agg(...)`: one pass over
    * the input instead of one plan subtree (and one broadcast job) per
    * aggregate. Distinct inputs stay separate and cross-join 1x1.
    * Output columns are `v<k>` for operand position k (order-free — the
    * tuple formatter reads them by name).
    */
  private def fusedAggregates(vals: Seq[Vals]): DataFrame = {
    val groups = mutable.ArrayBuffer.empty[(Vals, mutable.ArrayBuffer[Int])]
    vals.zipWithIndex.foreach { case (v, i) =>
      val in = v.aggSrc.get._2
      groups.find { case (g, _) =>
        if (g.tree.isDefined || in.tree.isDefined) fusable(Seq(g, in)).isDefined
        else g.df.queryExecution.analyzed.sameResult(in.df.queryExecution.analyzed)
      } match {
        case Some((_, ix)) => ix += i
        case None          => groups += ((in, mutable.ArrayBuffer(i)))
      }
    }
    groups.map { case (g, ix) =>
      val ins = ix.toSeq.map(i => vals(i).aggSrc.get)
      // one group has one length, so any operand's bound holds
      val one = oneTask(ins.flatMap(_._2.rowBound).minOption)
      val (df, vs) =
        if (g.tree.isEmpty) (g.df, ins.map(_ => col("v")))
        else {
          val names = ix.toSeq.map(i => s"_a$i")
          (Fused.plan(spark, ins.map(_._2.tree.get), Nil, names, one), names.map(col))
        }
      val exs = ix.toSeq.zip(ins).zip(vs).map { case ((i, (atype, _)), v) =>
        ColumnOps.aggExpr(atype, v).as(s"v${i + 1}")
      }
      // one partition satisfies the global aggregate: no exchange job
      (if (one) df.coalesce(1) else df).agg(exs.head, exs.tail: _*)
    }.reduce(_.crossJoin(_))
  }

  /** Row counts memoized by alignment lineage: two intermediates sharing
    * a tag have the same length by construction (see [[Align]]), and an
    * intermediate reads an immutable column-version snapshot, so a count
    * computed once serves every later length check in this session — a
    * tuple of a join's two fetches pays ONE pair-production pass for its
    * length check, not one per operand. Aggregate results are singletons
    * by construction (aggregate.c:26-30): pre-seeded, never counted
    * (counting one would replay its whole input lineage).
    */
  private val tagLen = mutable.Map[Long, Long](Align.SingletonTag -> 1L)

  /** Length of a values intermediate for the DBEINTERMDIFFLEN checks. */
  private def lengthOf(v: Vals): Long =
    tagLen.getOrElseUpdate(v.align.tag, v.df.count())

  /** Math pre-checks — equal length (DBEINTERMDIFFLEN,
    * aggregate.c:112-116) and, for div, zero divisors (DBEDIVZERO) — in
    * at most ONE Spark job: the operands that genuinely need an action
    * union into a single count-by-side (+ zero-divisor sum) aggregate,
    * instead of one count job per operand. Lengths come free for
    * same-lineage operands (equal tags -> equal length) and from the
    * [[tagLen]] memo; a divisor scan memoizes its count as a side effect.
    * Length errors beat divide-by-zero, preserving the reference's check
    * order.
    */
  private def mathPreCheck(l: Vals, r: Vals, checkZeros: Boolean): Unit = {
    val sameTag = l.align.tag == r.align.tag
    val needL = !sameTag && !tagLen.contains(l.align.tag)
    val needR = (!sameTag && !tagLen.contains(r.align.tag)) || checkZeros
    var zeros = 0L
    if (needL || needR) {
      val zExpr = if (checkZeros) when(col("v") === 0, 1).otherwise(0) else lit(0)
      val sides =
        (if (needL) Seq(l.df.select(lit(0).as("side"), lit(0).as("z"))) else Nil) ++
        (if (needR) Seq(r.df.select(lit(1).as("side"), zExpr.as("z"))) else Nil)
      val row = sides.reduce(_.unionAll(_)).agg(
        coalesce(sum(when(col("side") === 0, 1L)), lit(0L)),
        coalesce(sum(when(col("side") === 1, 1L)), lit(0L)),
        coalesce(sum(col("z")), lit(0L))).head()
      if (needL) tagLen.update(l.align.tag, row.getLong(0))
      if (needR) tagLen.update(r.align.tag, row.getLong(1))
      zeros = row.getLong(2)
    }
    if (!sameTag && tagLen(l.align.tag) != tagLen(r.align.tag))
      throw DbError.intermDiffLen()
    if (zeros != 0L) throw DbError.divZero()
  }

  /** Two values intermediates, made zippable: same lineage -> as-is (the
    * align-column equi-join IS the ordinal zip); different lineages ->
    * materialize each side's ordinal rank (the only place ranks are ever
    * computed outside emission).
    */
  private def aligned(l: Vals, r: Vals): (Vals, Vals) =
    if (l.align.tag == r.align.tag) (l, r)
    else {
      def rank(v: Vals): Vals = {
        val posed = ColumnOps.withPos(
          v.df.select((v.align.cols :+ "v").map(col): _*),
          v.align.cols.map(col)).select("pos", "v")
        Vals(posed, Align.fresh(Seq("pos")))
      }
      val lp = rank(l)
      // share the rank domain: same cols, same tag -> direct pos equi-join
      (lp, rank(r).copy(align = lp.align))
    }

  /** Stream an intermediate to the client, reference text formats:
    * ordinal order = ascending align-column order (see [[Align]]). A
    * small result ([[smallResult]]) with a join tree is planned from the
    * tree in one task.
    */
  private def emit(i: Intermediate): Iterator[String] = i match {
    case ids: Ids =>
      stream(ids.df, ids.align.cols, smallResult(ids.rowBound, 1), Seq("id"))
        .map(_.getLong(0).toString)
    case vals: Vals =>
      val small = smallResult(vals.rowBound, 1)
      val df = vals.tree.filter(_ => small).fold(vals.df)(t =>
        Fused.plan(spark, Seq(t), vals.align.cols.map(col), Seq("v"), oneTask = true))
      stream(df, vals.align.cols, small, Seq("v")).map(_.getInt(0).toString)
  }

  /** The bound is at or under [[Storage.SmallSortRows]] (1M rows): a
    * result with such a bound runs in one task, one job, where a
    * parallel plan pays a job per broadcast, exchange and sampling pass.
    * Timed on select sources of 50k to 1M rows (SCALE.md "One-task rule
    * for bounded results"): the one-task point, scan, range and
    * half-table scan requests were faster than the parallel ones at
    * every size, 1M included; larger sources were not timed.
    */
  private def oneTask(bound: Option[Long]): Boolean =
    bound.exists(_ <= Storage.SmallSortRows)

  /** [[oneTask]], for a result of `nCols` int/long columns sent to the
    * driver whole: its rows must also take at most half of
    * `spark.driver.maxResultSize`.
    */
  private def smallResult(bound: Option[Long], nCols: Int): Boolean = {
    val cap = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    // an unsafe row: 8 B of null bits plus 8 B per field
    oneTask(bound) && (cap == 0L || bound.get * (8L + 8L * nCols) <= cap / 2)
  }

  /** The `out` columns of `df`'s rows in ascending `cols` order, as an
    * iterator over `toLocalIterator`, which runs one job per partition.
    *
    * A `small` result sorts in ONE task: coalesce to one partition and
    * sort within it, one result job. Any other result (join lists have
    * no bound) sorts globally: a range-partitioned sort (a sampling job
    * and a shuffle), so concatenating its partitions preserves the total
    * order while the driver holds at most one partition of rows (vs
    * `collect`'s whole-result buffer, which caps printable results at
    * `spark.driver.maxResultSize`).
    */
  private def stream(df: DataFrame, cols: Seq[String], small: Boolean,
                     out: Seq[String]): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    val sorted =
      if (cols.isEmpty) df
      else if (small) df.coalesce(1).sortWithinPartitions(cols.map(col): _*)
      else df.orderBy(cols.map(col): _*)
    sorted.select(out.map(col): _*).toLocalIterator().asScala
  }

  /** Distinct ids of a position intermediate, for update's left join,
    * where a repeated id would repeat its row. A select set is distinct
    * by construction and is used as it is; only a join list, which may
    * repeat ids, pays the distinct's shuffle.
    */
  private def idsOf(ids: Ids): DataFrame =
    if (ids.ordered) ids.df.select("id").distinct() else ids.df.select("id")

  /** Mutations (load/insert/delete/update) serialize on the shared
    * catalog: each one is a require -> write -> update read-modify-write
    * whose interleaving across sessions would duplicate positions or
    * clobber versions. Reads never take the lock (they work from an
    * immutable ColumnMeta snapshot). Single-op atomicity only — exactly
    * the reference's guarantee (per-column rwlocks, no transactions).
    */
  private def evalLoad(file: String): Unit = catalog.synchronized {
    val parsed =
      try Storage.parseCsv(spark, file)
      catch { case scala.util.control.NonFatal(e) =>
        throw DbError.ioError(s"cannot load $file: ${e.getMessage}")
      }
    // per-column writes are independent Spark jobs — run them concurrently
    // (the scheduler interleaves their stages across executor cores; the
    // shared cached CSV scan is computed once — the first writer
    // materializes it). Catalog updates stay on this thread, after all
    // writes land. EVERYTHING after the parse sits inside the try: an
    // unknown header column (or any write failure) must still release
    // the shared scan.
    // (Probed and rejected: clamping spark.sql.files.maxPartitionBytes
    // so a 10-60 MB CSV fans across cores — the finer parse was eaten
    // by extra part files and commit overhead at every probed size;
    // an alternating A/B showed on >= off at 600k and 3M rows.)
    try {
      val written = parsed.cols.map { case (name, df) =>
        val meta = catalog.require(name)
        if (meta.nextId == 0L) { // double-load ignored (storage.c:1863-1867)
          Some(Future {
            val data = df.select(col("ord").as("id"), col("v"))
            val path = meta.copy(version = meta.version + 1).dataPath
            Storage.writeColumn(data, path, meta.stype,
              rowsHint = Some(parsed.rowsUpperBound))
            (name, meta.version + 1, path, Storage.partFileCount(spark, path))
          })
        } else None
      }
      val done = written.flatten.map(Await.result(_, Duration.Inf))
      if (done.nonEmpty) {
        // exact count AFTER the writes: the coalesced fast path reads it
        // driver-side off a written column's parquet footers (no job);
        // on the two-phase path the same footer read cross-checks the
        // count pass — a scan-split drift between the offset pass and
        // the write pass (e.g. a concurrent maxPartitionBytes change)
        // would drop, duplicate or misnumber rows, and must abort BEFORE
        // the catalog commit, not corrupt ids silently. Total rows alone
        // misses an equal-total boundary re-plan (overlapping offset
        // ranges), so the id column's footer max is checked too: any
        // overlap leaves max id != rows-1.
        val (written0, maxId) = Storage.parquetIdStats(spark, done.head._3)
        val rows = parsed.exactRows match {
          case None => written0
          case Some(r) =>
            if (r != written0 ||
                (r > 0 && !maxId.contains(r - 1))) throw DbError.ioError(
              s"load $file: ordinal pass counted $r rows but the write " +
                s"landed $written0 rows, max id ${maxId.getOrElse(-1L)} " +
                "(scan splits changed mid-load)")
            r
        }
        done.foreach { case (name, version, _, base) =>
          catalog.update(name, version, rows,
            baseFiles = Some(base), rowsAtVersion = Some(rows))
          engine.orphanChecked.add(name) // fresh version dir, accounted
        }
      }
    } finally parsed.scan.unpersist(false) // release the shared CSV cache
  }

  /** Delta-file count that triggers insert compaction: appends stay O(1)
    * amortized, but a long insert streak can't leave one tiny parquet
    * file per row (a million inserts = a million files = a dead
    * listing). The reference appends into its last page in place
    * (storage.c:1495-1584); folding deltas into a fresh copy-on-write
    * version is that page-append's versioned twin.
    */
  private val CompactAfterFiles = 64

  /** One row into each named column. Every column is validated (it
    * exists, none repeats) before any byte is written, so a failed
    * insert writes nothing. The per-column appends are independent
    * Spark jobs and run concurrently, like [[rewriteMany]]'s rewrites;
    * catalog advances are committed on this thread once all have
    * finished. If one append fails, every append that landed is still
    * committed before the error is rethrown: a landed but uncommitted
    * row in a column already marked [[Engine.orphanChecked]] would have
    * its id reissued by the next insert.
    */
  private def evalInsert(colVals: Seq[(String, Int)]): Unit = catalog.synchronized {
    val names = colVals.map(_._1)
    names.diff(names.distinct).headOption.foreach(c => throw DbError.dupCol(c))
    val metas = names.map(catalog.require).map { meta0 =>
      if (meta0.nextId == 0L) meta0 // first row: a fresh version dir below
      else {
        // Crash-orphan guard: an append that died before its catalog
        // advance left an uncommitted row with id == nextId in the live
        // dir. Appending another id == nextId would DUPLICATE it once
        // nextId advances, so when the dir holds more part files than
        // the catalog accounts for, fold to a fresh version first — the
        // rewrite reads only committed rows (id < nextId), dropping the
        // orphan. The listing runs once per column per Engine lifetime
        // (orphans only predate this process — see [[Engine.orphanChecked]]).
        val c = meta0.name
        val meta =
          if (!engine.orphanChecked.contains(c) &&
              Storage.partFileCount(spark, meta0.dataPath) != meta0.expectedFiles)
            compact(c, meta0)
          else meta0
        engine.orphanChecked.add(c)
        meta
      }
    }
    // each append's write runs concurrently and yields its catalog commit
    val appends = colVals.zip(metas).map { case ((c, v), meta) =>
      Future {
        val row = spark.range(1).select(lit(meta.nextId).as("id"),
          lit(v).cast(IntegerType).as("v"))
        if (meta.nextId == 0L) {
          val path = meta.copy(version = meta.version + 1).dataPath
          Storage.writeColumn(row, path, meta.stype, rowsHint = Some(1L))
          val files = Storage.partFileCount(spark, path)
          () => catalog.update(c, meta.version + 1, 1L,
            baseFiles = Some(files), rowsAtVersion = Some(1L))
        } else {
          // O(1) append of a delta file; indexed layouts degrade
          // gracefully (the reference maintains its sorted projection on
          // insert, storage.c:1495-1584 — here clustering is a hint, not
          // correctness)
          row.write.mode("append").parquet(meta.dataPath)
          () => catalog.update(c, meta.version, meta.nextId + 1)
        }
      }
    }
    val landed = appends.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    val committed = landed.collect { case scala.util.Success(commit) => commit() }
    committed.foreach(m => engine.orphanChecked.add(m.name)) // first rows: fresh dirs
    landed.collectFirst { case scala.util.Failure(e) => e }.foreach(e => throw e)
    // delta count is pure row arithmetic — no listing needed
    committed.foreach { m =>
      if (m.deltaRows >= CompactAfterFiles) compact(m.name, m)
    }
  }

  /** Fold a version's deltas into a fresh copy-on-write version: ids
    * untouched, layout re-clustered for indexed types, atomic catalog
    * swap — readers of the old version dir are never broken. Reads only
    * catalog-committed rows (id < nextId), so crash-orphaned appends are
    * dropped.
    */
  private def compact(c: String, meta: ColumnMeta): ColumnMeta = {
    val path = meta.copy(version = meta.version + 1).dataPath
    Storage.writeColumn(Storage.readColumn(spark, meta), path,
      meta.stype, rowsHint = Some(meta.nextId))
    val updated = catalog.update(c, meta.version + 1, meta.nextId,
      baseFiles = Some(Storage.partFileCount(spark, path)),
      rowsAtVersion = Some(meta.nextId))
    engine.orphanChecked.add(c) // fresh version: accounting re-established
    updated
  }

  /** Copy-on-write rewrite of a column (delete/update): new version dir,
    * atomic catalog swap; ids survive untouched (storage.c:1787-1789 —
    * positions are never compacted or reused). Unsorted only, like the
    * reference (DBEUNSUPPORTED, storage.c:1833-1841).
    */
  private def rewrite(c: String, f: DataFrame => DataFrame,
                      deletes: Boolean): Unit =
    rewriteMany(Seq(c), f, deletes)

  /** [[rewrite]] over several columns in one operation (multi-column
    * delete): the per-column version writes are independent Spark jobs,
    * so they run concurrently — the same overlap [[evalLoad]] uses for
    * per-column load writes (guide-level: back-fill idle cores with the
    * next job's tasks instead of serializing on each write's tail).
    * Validation is up front and catalog commits happen after ALL writes
    * land, on this thread — a failed write leaves only uncommitted
    * version dirs (vacuum reclaims), never a half-advanced catalog.
    *
    * `deletes`: the rewrite may drop positions, so each group of columns
    * that shared a `(liveSet, nextId)` before it gets one fresh live-set
    * id — the group still shares a live set afterwards, and no other
    * column does (see [[ColumnMeta]]). Other rewrites keep the id.
    */
  private def rewriteMany(cs: Seq[String], f: DataFrame => DataFrame,
                          deletes: Boolean): Unit = catalog.synchronized {
    val metas = cs.map { c =>
      val meta = catalog.require(c)
      if (meta.stype != Unsorted)
        throw DbError.unsupported(s"delete/update on ${meta.stype.name} column $c")
      (c, meta)
    }
    val written = metas.map { case (c, meta) =>
      Future {
        val out = f(Storage.readColumn(spark, meta))
        // nextId over-counts tombstoned holes — fine, the hint only sizes
        // partitioning (and rewrite targets are unsorted: hint unused)
        val path = meta.copy(version = meta.version + 1).dataPath
        Storage.writeColumn(out, path, meta.stype, rowsHint = Some(meta.nextId))
        (c, meta, Storage.partFileCount(spark, path))
      }
    }
    val groups = metas.map { case (_, m) => (m.liveSet, m.nextId) }.distinct
    val first = catalog.freshLiveSet()
    written.map(Await.result(_, Duration.Inf)).foreach { case (c, meta, files) =>
      catalog.update(c, meta.version + 1, meta.nextId,
        liveSet = if (deletes)
          Some(first + groups.indexOf((meta.liveSet, meta.nextId))) else None,
        baseFiles = Some(files),
        rowsAtVersion = Some(meta.nextId))
      engine.orphanChecked.add(c) // fresh version dir, accounted
    }
  }
}

/** Single-writer lock machinery: the one-live-writer-per-dbDir assumption
  * (the reference's topology too — one server process owns the store,
  * /root/reference/src/server/server.c:967-1006) enforced LOUDLY instead
  * of trusted, with a mechanism per store kind:
  *
  *   - LOCAL dbDirs: an OS advisory lock on `dbDir/.graft.lock`
  *     (released automatically if the process dies).
  *   - OBJECT-STORE dbDirs (any URI scheme other than file:, or forced
  *     via `-Dgraft.store.object` for stores like NFS where advisory
  *     locks are unreliable): a [[WriterLease]] — TTL'd heartbeat
  *     object plus epoch fencing on every catalog commit. See
  *     [[StoreIO]] and SCALE.md §"Object-store commit story".
  *
  * In-process, both modes also guard a JVM-global set of dbDir keys —
  * `FileLock` is per-JVM, so without this a second same-JVM engine
  * would hit an opaque `OverlappingFileLockException` instead of the
  * engine's own error (and two same-JVM lease engines would race their
  * own heartbeats).
  */
object Engine {
  /** Outcome of a [[Engine.vacuum]] sweep: columns scanned, version
    * dirs deleted / retained, and bytes reclaimed (content size of the
    * deleted dirs, measured before deletion).
    */
  final case class VacuumStats(columns: Int, deleted: Long, kept: Long,
                               reclaimedBytes: Long)

  /** Default vacuum retention: 7 days, Delta Lake's published default —
    * long enough that any live reader snapshot or bound intermediate
    * has refreshed or died, short enough that churn is reclaimed.
    */
  val DefaultVacuumRetainMs: Long = 7L * 24 * 3600 * 1000

  /** Runs the per-column write jobs that a load, an insert or a
    * multi-column rewrite overlaps. Not the global pool: the caller
    * waits on these futures while it holds the catalog monitor, and a
    * global pool whose few threads are all blocked elsewhere in the JVM
    * (client code waiting on a socket, say) would never run them.
    * Threads start on demand, at most one per column of the running
    * mutation (mutations serialize), and exit after a minute idle.
    */
  private[core] val writePool: ExecutionContext =
    ExecutionContext.fromExecutor(java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-column-write")
      t.setDaemon(true)
      t
    })

  private[core] sealed trait WriterLock { def key: String }
  private[core] final case class FileLock(key: String,
                                          channel: java.nio.channels.FileChannel,
                                          lock: java.nio.channels.FileLock)
      extends WriterLock
  private[core] final case class LeaseLock(key: String, io: StoreIO,
                                           lease: WriterLease)
      extends WriterLock

  private val jvmHeld = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Object mode iff the dbDir is ANY URI form (hdfs://, s3a://,
    * gs://, abfs://, and also file://) or the override property is
    * set. file:// goes through the store protocol too — not because a
    * local disk needs a lease, but because the local fast path is
    * java.nio, which parses `file:///x` as a RELATIVE path whose first
    * segment is literally `file:`; the lock and catalog would land in
    * `./file:/x` while Spark's data plane resolves the same string to
    * `/x`. HadoopStoreIO resolves every URI form consistently with the
    * data plane. Plain paths (no scheme) keep the POSIX fast path.
    */
  private[core] def isObjectStore(dbDir: String): Boolean =
    sys.props.contains("graft.store.object") ||
      // any URI scheme, single- or double-slash (Hadoop accepts both
      // `file:/x` and `file:///x`) — java.nio would parse either as a
      // relative path whose first segment is literally `scheme:`.
      // Two+ chars: every real scheme has them (s3a, gs, hdfs, file),
      // and requiring them keeps Windows drive-letter paths (`C:/x`)
      // on the local fast path instead of the lease protocol
      raw"^[A-Za-z][A-Za-z0-9+.\-]+:/.*".r.matches(dbDir)

  /** Control-plane StoreIO for an object-mode dbDir. The override is
    * the protocol-test seam: the fault-injection soak and the CAS
    * differential fuzz install wrappers (delayed visibility, torn
    * bodies, in-memory CAS) here, so the SAME engine/lease/catalog
    * code that serves production runs under an adversarial or
    * capability-shifted store. Never set outside tests.
    */
  @volatile private[graft] var storeIoOverride: Option[String => StoreIO] = None
  private[core] def storeIoFor(spark: SparkSession, dbDir: String): StoreIO =
    storeIoOverride match {
      case Some(f) => f(dbDir)
      case None =>
        new HadoopStoreIO(spark.sparkContext.hadoopConfiguration, Some(dbDir))
    }

  private def acquireWriterLock(spark: SparkSession,
                                dbDir: String): WriterLock =
    if (isObjectStore(dbDir)) {
      val key = s"uri:$dbDir"
      if (!jvmHeld.add(key)) throw DbError.locked(dbDir)
      val io = storeIoFor(spark, dbDir)
      val lease = new WriterLease(io, dbDir,
        ttlMs = sys.props.get("graft.lease.ttl.ms").flatMap(_.toLongOption)
          .getOrElse(60000L),
        settleMs = sys.props.get("graft.lease.settle.ms").flatMap(_.toLongOption)
          .getOrElse(200L))
      try lease.acquire()
      catch { case e: Throwable => jvmHeld.remove(key); throw e }
      LeaseLock(key, io, lease)
    } else {
      val dir = java.nio.file.Paths.get(dbDir)
      java.nio.file.Files.createDirectories(dir)
      val canonical = dir.toRealPath().toString
      if (!jvmHeld.add(canonical)) throw DbError.locked(dbDir)
      val channel =
        try java.nio.channels.FileChannel.open(dir.resolve(".graft.lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case e: java.io.IOException =>
          jvmHeld.remove(canonical)
          throw DbError.ioError(s"cannot open lock file in $dbDir: ${e.getMessage}")
        }
      val lock =
        try channel.tryLock()
        catch { case scala.util.control.NonFatal(e) =>
          channel.close(); jvmHeld.remove(canonical)
          throw DbError.ioError(s"cannot lock $dbDir: ${e.getMessage}")
        }
      if (lock == null) { // held by another process
        channel.close(); jvmHeld.remove(canonical)
        throw DbError.locked(dbDir)
      }
      FileLock(canonical, channel, lock)
    }

  private def releaseWriterLock(wl: WriterLock): Unit =
    if (jvmHeld.remove(wl.key)) wl match {
      case FileLock(_, channel, lock) =>
        if (lock.isValid) lock.release()
        channel.close()
      case LeaseLock(_, _, lease) => lease.release()
    }
}
