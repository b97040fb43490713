package graft.io

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.SparkSpec

/** The corpus signature Bench and Verify print ([[Stage.corpus]]). */
class CorpusSigSpec extends SparkSpec {
  import spark.implicits._

  test("summary @mtime suffix is the NUMERICALLY latest table mtime, not the lexicographic max") {
    val dir = Files.createTempDirectory("graft_corpussig").toString
    Seq((0L, "a")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$dir/region.parquet")
    Seq((0L, "n", 0L)).toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
    // region at an exact second (renders "…00Z"), nation 500 ms later
    // (renders "…00.500Z"): nation is NEWER numerically but sorts BEFORE
    // region as a string ('.' < 'Z') — the ordering bug this spec pins
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    Files.setLastModifiedTime(Paths.get(s"$dir/region.parquet"),
      FileTime.fromMillis(base))
    Files.setLastModifiedTime(Paths.get(s"$dir/nation.parquet"),
      FileTime.fromMillis(base + 500))
    val newest = java.time.Instant.ofEpochMilli(base + 500).toString
    assert(newest.endsWith(".500Z"), s"fixture rendering drifted: $newest")
    val sig = Stage.corpus(dir)
    assert(sig.endsWith(s"@$newest"),
      s"summary '$sig' must carry the numerically-latest mtime $newest")
  }

  test("corpus throws on an unreadable table instead of printing a placeholder") {
    val dir = Files.createTempDirectory("graft_corpus_unreadable")
    Files.createDirectories(dir.resolve("nation.parquet"))
    Files.writeString(dir.resolve("nation.parquet").resolve("part0"), "n")
    // a table entry whose target is gone: listed, but unreadable
    val broken = dir.resolve("region.parquet")
    Files.createSymbolicLink(broken, dir.resolve("gone"))
    val e = intercept[java.io.IOException](Stage.corpus(dir.toString))
    assert(e.getMessage.contains(broken.toString), e.getMessage)
  }
}
