package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** A control byte below TAB in a source file makes git classify the file
  * as binary, so every later diff of it shows up as `Bin` and escapes
  * review. Write such characters as escapes (`\u0001`), never raw. */
class SourceHygieneSpec extends AnyFunSuite {

  test("no src/**/*.scala file contains a byte below 0x09") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the project root (cwd has no $root)")
    val walk = Files.walk(root)
    val files =
      try walk.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[Path])
      finally walk.close()
    assert(files.size > 50, s"only ${files.size} scala files under $root")
    val bad = files.flatMap { f =>
      Files.readAllBytes(f).zipWithIndex
        .find { case (b, _) => b >= 0 && b < 0x09 }
        .map { case (b, i) => s"$f: byte 0x${"%02x".format(b)} at offset $i" }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
