package graft.core

import graft.lang.Op.StorageType

/** Durable column catalog for a database directory.
  *
  * The engine's only persistent objects are named integer columns
  * (reference data model: /root/reference/src/server/include/storage.h:21-47 —
  * "tables" are a client naming convention). Each column lives at
  * `dbDir/cols/<name>/v<version>/` as parquet `(id: long, v: int)`;
  * `dbDir/catalog.txt` holds one record per column. Mutations write a new
  * version directory then atomically swap the catalog (copy-on-write), so
  * concurrent readers of the old version are never broken and a crash
  * mid-rewrite leaves the previous version live.
  *
  * `nextId` mirrors the reference's `cd_nexttupleid` (storage.h:23-24):
  * positions are dense at load, stable under delete (tombstoned ids are
  * never reused), and independent per column.
  */
/** `liveSet` — which set of live positions the column has, as an id:
  * 0 = pristine (every position below nextId is live, no delete ever
  * touched it). A delete gives each group of its named columns that
  * shared a `(liveSet, nextId)` one fresh id; update, insert, load and
  * compaction keep it. So two columns with equal `(liveSet, nextId)`
  * have the SAME live positions: both descend from one delete (or from
  * none), and every later change to either added exactly the positions
  * `[old nextId, nextId)`.
  *
  * `baseFiles` — parquet part-file count right after the version's full
  * write; `rowsAtVersion` — nextId at that write. Together they give the
  * EXPECTED file count of the live version dir
  * (baseFiles + one delta file per insert since), which the insert path
  * checks to (a) trigger compaction on the delta count without listing
  * games and (b) detect a crash-orphaned delta row (appended but never
  * committed to the catalog) before it could collide with a re-issued id.
  */
final case class ColumnMeta(dbDir: String, name: String, stype: StorageType,
                            version: Long, nextId: Long,
                            liveSet: Long = 0L,
                            baseFiles: Long = 1L,
                            rowsAtVersion: Long = 0L) {
  def dataPath: String = s"$dbDir/cols/$name/v$version"
  def pristine: Boolean = liveSet == 0L
  /** Inserts appended onto this version (one delta file each). */
  def deltaRows: Long = nextId - rowsAtVersion
  def expectedFiles: Long = baseFiles + deltaRows
}

object Catalog {
  /** `(column name, version)` references in a serialized catalog body.
    * Tolerant of torn tails — unparseable lines are SKIPPED, never
    * fatal: [[Engine.vacuum]] reads every retained catalog object raw
    * (committed or torn) to build its keep-set, and a torn object's
    * readable prefix can only ADD protected versions, which errs safe.
    */
  private[core] def versionRefs(body: String): Seq[(String, Long)] =
    body.linesIterator.flatMap { line =>
      val f = line.split("\t")
      if (f.length >= 4) f(2).toLongOption.map(v => f(0) -> v) else None
    }.toSeq
}

final class Catalog(val dbDir: String, store: CatalogStore) {

  /** Local-FS catalog (today's default topology). */
  def this(dbDir: String) = this(dbDir, new RenameCatalogStore(dbDir))

  private var cols: Map[String, ColumnMeta] = parse(store.init())
  // object mode: republish the loaded state under THIS writer's fencing
  // epoch before serving anything — the takeover barrier that makes a
  // deposed predecessor's late commits unable to win the catalog
  // ordering (no-op for the local rename store)
  store.barrier(render())

  private def parse(bodyOpt: Option[String]): Map[String, ColumnMeta] = {
    val parsed = bodyOpt.toSeq.flatMap(_.linesIterator.filter(_.nonEmpty).map { line =>
      // 4-field records predate the pristine flag; they may have seen
      // deletes, so read them conservatively as non-pristine
      val fields = line.split("\t")
      if (fields.length < 4)
        throw DbError.ioError(s"malformed catalog record: $line")
      val Array(n, st, ver, nid) = fields.take(4)
      val pristine = fields.length > 4 && fields(4) == "1"
      // records before the live-set id (5 and 7 fields): pristine -> 0,
      // otherwise unknown — None here, an id no other column shares below
      val liveSet = fields.lift(7).flatMap(_.toLongOption)
        .orElse(if (pristine) Some(0L) else None)
      // shorter records predate baseFiles/rowsAtVersion; the defaults
      // (1 file, all rows at version) make the next insert's
      // expected-file check fire one conservative repair at worst
      val baseFiles = fields.lift(5).flatMap(_.toLongOption).getOrElse(1L)
      val stype = StorageType.fromString(st).getOrElse(
        throw DbError.ioError(s"bad storage type $st in catalog"))
      val (version, nextId) = (ver.toLongOption, nid.toLongOption) match {
        case (Some(v), Some(x)) => (v, x)
        case _ => throw DbError.ioError(s"malformed catalog record: $line")
      }
      val rowsAtVersion = fields.lift(6).flatMap(_.toLongOption).getOrElse(nextId)
      (ColumnMeta(dbDir, n, stype, version, nextId, baseFiles = baseFiles,
        rowsAtVersion = rowsAtVersion), liveSet)
    }.toSeq.sortBy(_._1.name))
    // unknown live sets get fresh ids past every known one, in name order
    // (deterministic: the same body always parses to the same catalog)
    val known = parsed.flatMap(_._2).maxOption.getOrElse(0L)
    val fresh = Iterator.from(1).map(known + _)
    parsed.map { case (m, live) =>
      m.name -> m.copy(liveSet = live.getOrElse(fresh.next()))
    }.toMap
  }

  private def render(m: Map[String, ColumnMeta] = cols): String =
    m.values.toSeq.sortBy(_.name)
      .map(c => s"${c.name}\t${c.stype.name}\t${c.version}\t${c.nextId}\t${if (c.pristine) "1" else "0"}\t${c.baseFiles}\t${c.rowsAtVersion}\t${c.liveSet}")
      .mkString("", "\n", "\n")

  /** Commit FIRST, assign the in-memory map only on success: a throwing
    * commit (read-only engine, fenced lease, store error) must leave
    * this catalog exactly as it was — the durable state and the served
    * state may never diverge through a failed mutation.
    */
  private def persistThenSet(next: Map[String, ColumnMeta]): Unit = {
    store.commit(render(next))
    cols = next
  }

  /** Re-pin to the newest committed snapshot: re-run the store's load
    * (for a read-only store, the full winning-body selection) and swap
    * the served map in ONE assignment — a concurrent reader sees the
    * old snapshot or the new one, never a torn mix of the two. The
    * parse happens OUTSIDE the monitor so reads are never blocked on
    * store I/O. Version dirs are immutable and never deleted, so
    * intermediates already bound against the old snapshot stay
    * readable (the documented snapshot semantics).
    */
  private[core] def reload(): Unit = {
    val next = parse(store.init())
    synchronized {
      // never move a served snapshot BACKWARD: the language has no drop
      // op and per-column (version, nextId) only grow, so a genuinely
      // newer snapshot dominates the served one column-by-column. A
      // load that is empty, misses a served column, or regresses one is
      // a transient store artifact (a stale LIST returning already-GC'd
      // names, or two refresh() racers installing out of order) and
      // must keep the old snapshot serving — the next tick catches up
      val dominates = cols.forall { case (n, m) =>
        next.get(n).exists(nm =>
          nm.version >= m.version && nm.nextId >= m.nextId)
      }
      if (dominates) cols = next
    }
  }

  def get(name: String): Option[ColumnMeta] = synchronized { cols.get(name) }

  def require(name: String): ColumnMeta =
    get(name).getOrElse(throw DbError.colSelect(name))

  def exists(name: String): Boolean = synchronized { cols.contains(name) }

  def all: Seq[ColumnMeta] = synchronized { cols.values.toSeq.sortBy(_.name) }

  /** Register a new empty column; idempotent if it already exists with
    * the SAME storage type (reference tolerates re-create of a loaded
    * column). A conflicting storage type errors (DBECOLEXISTS) — silently
    * keeping the old layout would misdirect later treejoin/delete errors.
    */
  def create(name: String, stype: StorageType): ColumnMeta = synchronized {
    cols.get(name) match {
      case Some(m) if m.stype == stype => m
      case Some(m) => throw DbError.colExists(
        s"$name (as ${m.stype.name}; re-create requested ${stype.name})")
      case None =>
        val m = ColumnMeta(dbDir, name, stype, 0L, 0L)
        persistThenSet(cols + (name -> m))
        m
    }
  }

  /** A live-set id no column holds yet, and none held before: ids only
    * grow (a delete takes the next one, and columns are never dropped).
    * Deterministic, so the same history renders the same catalog bytes.
    * Callers assigning several ids in one mutation add 0, 1, ... to it
    * while holding the monitor.
    */
  def freshLiveSet(): Long = synchronized {
    cols.values.map(_.liveSet).maxOption.getOrElse(0L) + 1L
  }

  /** Record a new data version and/or advanced nextId for `name`.
    * `liveSet` is set by deletes only (see [[ColumnMeta]]); load, insert,
    * update and compaction keep the column's id.
    */
  def update(name: String, version: Long, nextId: Long,
             liveSet: Option[Long] = None,
             baseFiles: Option[Long] = None,
             rowsAtVersion: Option[Long] = None): ColumnMeta = synchronized {
    val prev = cols.getOrElse(name, throw DbError.colSelect(name))
    val m = prev.copy(version = version, nextId = nextId,
      liveSet = liveSet.getOrElse(prev.liveSet),
      baseFiles = baseFiles.getOrElse(prev.baseFiles),
      rowsAtVersion = rowsAtVersion.getOrElse(prev.rowsAtVersion))
    persistThenSet(cols + (name -> m))
    m
  }
}
