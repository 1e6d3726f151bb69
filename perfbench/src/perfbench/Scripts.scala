package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.core.{DbError, Engine, Session, Storage}
import graft.lang.{Op, Parser}

/** Drives op-language lines through the engine's in-process surface
  * (`Parser.parseLine` then `Session.eval`, draining each result iterator),
  * the calls the CLI and the server make, for the traced run's layer split.
  */
object Scripts {
  def opClass(op: Op): String = op match {
    case _: Op.SelectAll | _: Op.SelectValue | _: Op.SelectRange => "select"
    case _: Op.Fetch => "fetch"
    case _: Op.Join => "join"
    case _: Op.Agg => "agg"
    case _: Op.Math => "math"
    case _: Op.Tuple => "tuple"
    case _: Op.Print => "print"
    case _: Op.Load => "load"
    case _: Op.Insert => "insert"
    case _: Op.Update => "update"
    case _: Op.Delete => "delete"
    case _: Op.Create => "create"
  }

  /** A failed line: the op text and its cause. */
  final case class LineFailure(line: String, cause: Throwable) extends Exception(cause)

  /** Run `lines` in `session`, timing each call per layer; returns the
    * emitted lines. Spark jobs carry the op's span id.
    */
  def run(ctx: Ctx, session: Session, lines: Seq[String], req: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val rec = ctx.rec
    lines.zipWithIndex.foreach { case (line, i) =>
      try {
        val (parseMs, parsed) = Harness.timeMs(Parser.parseLine(line))
        val op = parsed.getOrElse(throw DbError.parse(line))
        val cls = opClass(op)
        val opReq = s"$req/$i"
        Tracing.withProps(ctx.spark, opReq, "") {
          val s = rec.nowMs
          val (evalMs, it) = Harness.timeMs(session.eval(op))
          val (drainMs, _) = Harness.timeMs(out ++= it)
          rec.append("lang.parse_us", parseMs * 1e3)
          rec.append(s"session.eval_ms.$cls", evalMs)
          if (cls == "tuple" || cls == "print") rec.append(s"session.drain_ms.$cls", drainMs)
          rec.span(opReq, req, s"op.$cls", s, rec.nowMs)
        }
      } catch {
        case scala.util.control.NonFatal(e) => throw LineFailure(line, e)
      }
    }
    out.result()
  }

  /** Storage-layer state of a store: version dirs, live part files, bytes. */
  def storeState(engine: Engine): (Long, Long, Long) = {
    val cols = Path.of(engine.dbDir, "cols")
    val versions =
      if (!Files.exists(cols)) 0L
      else Files.list(cols).iterator().asScala.map { c =>
        val s = Files.list(c)
        try s.filter(_.getFileName.toString.startsWith("v")).count() finally s.close()
      }.sum
    val parts = engine.catalog.all.map(m => Storage.partFileCount(engine.spark, m.dataPath)).sum
    (versions, parts, Harness.bytesUnder(Path.of(engine.dbDir)))
  }
}
