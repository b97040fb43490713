package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** A control byte below TAB in a source file makes git classify the file
  * as binary, so every later diff of it shows up as `Bin` and escapes
  * review. Write such characters as escapes (`\u0001`), never raw.
  * Staging (temp-dir paths, corpus signatures) lives in `graft.io.Stage`
  * alone, so query files name neither the temp dir nor file mtimes, and
  * the blocked-pair policy lives in `graft.ops.Blocking` alone, so no
  * other file names its block-size column. */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the project root (cwd has no $root)")
    val walk = Files.walk(root)
    try walk.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[Path])
    finally walk.close()
  }

  test("no src/**/*.scala file contains a byte below 0x09") {
    val root = Paths.get("src")
    val files = scalaFiles(root)
    assert(files.size > 50, s"only ${files.size} scala files under $root")
    val bad = files.flatMap { f =>
      Files.readAllBytes(f).zipWithIndex
        .find { case (b, _) => b >= 0 && b < 0x09 }
        .map { case (b, i) => s"$f: byte 0x${"%02x".format(b)} at offset $i" }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no query file under src/main/scala/graft/queries stages outside graft.io.Stage") {
    val files = scalaFiles(Paths.get("src/main/scala/graft/queries"))
    assert(files.nonEmpty)
    val bad = for {
      f <- files
      (line, i) <- Files.readAllLines(f).toArray.toSeq.map(_.toString).zipWithIndex
      word <- Seq("java.io.tmpdir", "getLastModifiedTime", "createTempDirectory")
      if line.contains(word)
    } yield s"$f:${i + 1}: $word"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the block-size column __bsz appears under src/main only in graft.ops.Blocking") {
    val files = scalaFiles(Paths.get("src/main"))
    val home = Paths.get("src/main/scala/graft/ops/Blocking.scala")
    assert(files.contains(home), s"$home is missing")
    val bad = for {
      f <- files if f != home
      (line, i) <- Files.readAllLines(f).toArray.toSeq.map(_.toString).zipWithIndex
      if line.contains("__bsz")
    } yield s"$f:${i + 1}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
