package graft.core

/** Engine error with the reference's error-name vocabulary
  * (/root/reference/src/common/include/dberror.h:8-41) as message prefixes,
  * so golden tests can match on stable identifiers.
  */
final case class DbException(code: String, detail: String)
  extends RuntimeException(s"$code: $detail")

/** The Spark session died: every further line would fail with the same
  * misleading per-line code, so evaluation terminates instead of looping
  * on a dead session.
  */
final class FatalSessionError(cause: Throwable)
  extends RuntimeException(s"fatal: Spark session stopped: ${cause.getMessage}", cause)

object DbError {
  def colExists(c: String)      = DbException("DBECOLEXISTS", s"column $c already exists")
  def colSelect(c: String)      = DbException("DBECOLSELECT", s"no such column $c")
  def varNotFound(v: String)    = DbException("DBENOVAR", s"no such variable $v")
  def colDiffLen(c: String)     = DbException("DBECOLDIFFLEN", s"position set length does not match column $c")
  def intermDiffLen()           = DbException("DBEINTERMDIFFLEN", "intermediates have different lengths")
  def divZero()                 = DbException("DBEDIVZERO", "division by zero")
  def dupCol(c: String)         = DbException("DBEDUPCOL", s"duplicate column $c in insert")
  def unsupported(what: String) = DbException("DBEUNSUPPORTED", what)
  def noTree(v: String)         = DbException("DBENOTREE", s"treejoin right input $v must be a full select of a b+tree column")
  def varType(what: String)     = DbException("DBEVARTYPE", what)
  def parse(line: String)       = DbException("DBEPARSE", s"cannot parse: $line")
  def ioError(what: String)     = DbException("DBEFILE", what)
  def locked(dir: String)       = DbException("DBELOCKED", s"database $dir is locked by another live engine (one writer per dbDir; close() it or stop the owning process)")
}
