package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The bench memo's scope owns its directory: inside [[BenchMemo.using]]
  * memo mode is on and the directory exists; after it — also when the body
  * throws — memo mode is off and the directory is gone. */
class BenchMemoSpec extends AnyFunSuite {

  private def inScope(body: String => Unit): String =
    BenchMemo.using {
      val root = BenchMemo.root.getOrElse(fail("memo mode off inside the scope"))
      assert(Files.isDirectory(Paths.get(root)))
      // what a memo write leaves: nested dirs, data and commit-marker files
      val table = Files.createDirectories(Paths.get(root, "dir-1234abcd", "lp_labels"))
      Files.write(table.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
      Files.write(table.resolve("_SUCCESS"), Array.emptyByteArray)
      body(root)
      root
    }

  test("memo mode is off outside a scope") {
    assert(BenchMemo.root.isEmpty)
  }

  test("the scope deletes its directory and turns memo mode off") {
    val root = inScope(_ => ())
    assert(BenchMemo.root.isEmpty)
    assert(!Files.exists(Paths.get(root)))
  }

  test("the scope cleans up when its body throws, and rethrows") {
    var root = ""
    val e = intercept[IllegalStateException] {
      inScope { r => root = r; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(root.nonEmpty && !Files.exists(Paths.get(root)))
    assert(BenchMemo.root.isEmpty)
  }

  test("scopes do not nest") {
    intercept[IllegalArgumentException](inScope(_ => BenchMemo.using(())))
    assert(BenchMemo.root.isEmpty)
  }
}
