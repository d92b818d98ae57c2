package graft

import java.nio.file.{Files, Path}
import scala.util.Try

/** The one owner of the bench-only graded-list memo
  * (`tools/BENCH_PROTOCOL.md`; read by `ExtQueries.benchMemo` and
  * `ExtQueries.labelPropPartsMemo`). [[using]] creates a scratch directory,
  * turns memo mode on for its body, and — when the body returns or throws —
  * turns memo mode off and deletes the directory. Outside a `using` scope
  * memo mode is off, so Verify, the tests and library callers never
  * memoize. */
object BenchMemo {
  @volatile private var current: Option[String] = None

  /** The memo root while a [[using]] scope runs; None otherwise. */
  def root: Option[String] = current

  def using[T](body: => T): T = {
    require(current.isEmpty, s"bench memo already active at ${current.get}")
    val dir = Files.createTempDirectory("graft-memo")
    current = Some(dir.toString)
    try body
    finally {
      current = None
      // best effort: a failed delete must not mask the body's own exception
      Try(Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p): Unit))
    }
  }
}
