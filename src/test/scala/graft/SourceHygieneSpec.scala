package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source files hold text only: a raw control byte (a NUL pasted into a
  * string literal) makes git and grep treat the file as binary, so its
  * diffs and searches go silently blank. Write such characters as
  * `\uXXXX` escapes instead. */
class SourceHygieneSpec extends AnyFunSuite {

  private val roots = Seq("src", "tools", "perfbench/src")

  /** Bytes below 0x20 other than tab, LF and CR, and DEL. */
  private def isControl(b: Byte): Boolean =
    (b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r') || b == 0x7f

  test("no source file contains a raw control byte") {
    val files = roots.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
    assert(files.exists(_.toString.endsWith("SourceHygieneSpec.scala")),
      s"scan must run from the repository root, ran in ${Paths.get("").toAbsolutePath}")
    val dirty = files.flatMap { (f: Path) =>
      val bytes = Files.readAllBytes(f)
      bytes.indexWhere(isControl) match {
        case -1 => None
        case i => Some(f"$f: byte 0x${bytes(i) & 0xff}%02x at offset $i")
      }
    }
    assert(dirty.isEmpty, dirty.mkString("\n"))
  }
}
