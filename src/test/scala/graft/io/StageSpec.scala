package graft.io

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.SparkSpec

/** The staged-artifact contract ([[Stage]]): write-new-version-then-flip
  * ([[Stage.publish]]). Version dirs are immutable once committed,
  * the MANIFEST flips atomically after commit, and GC never touches the
  * previous version or anything recent — so a reader interleaved with a
  * concurrent re-stage can never observe partial or mixed state. */
class StageSpec extends SparkSpec {

  private def famBase(family: String, dir: String) =
    Paths.get(sys.props("java.io.tmpdir"),
      s"graft_stagefam_${family}_${Stage.digest(family, dir)}")

  private def listVersions(family: String, dir: String): Seq[String] =
    Option(famBase(family, dir).toFile.listFiles).toSeq.flatten
      .map(_.getName).filter(_.startsWith("v_")).sorted

  test("a reader racing a re-stage never observes partial or mixed state") {
    val dir = Files.createTempDirectory("graft_stagespec").toString
    val family = "specrace"
    def stage(sig: String, tag: String, nFiles: Int): String =
      Stage.publish(family, sig, dir) { p =>
        Files.createDirectories(Paths.get(p))
        // multi-file artifact: a torn publish would show files from two
        // tags, or fewer than nFiles
        (1 to nFiles).foreach { i =>
          Files.writeString(Paths.get(s"$p/part$i.txt"), tag)
        }
      }
    val v1 = stage("sig1", "ONE", 4)
    def readAll(path: String): Seq[String] =
      Option(new java.io.File(path).listFiles).toSeq.flatten
        .filter(_.getName.startsWith("part")).sortBy(_.getName)
        .map(f => Files.readString(f.toPath))
    // reader thread hammers v1 while a re-stage publishes v2
    @volatile var torn: Option[Seq[String]] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && torn.isEmpty) {
        val got = readAll(v1)
        if (got != Seq.fill(4)("ONE")) torn = Some(got)
      }
    })
    reader.start()
    val v2 = stage("sig2", "TWO", 4)
    Thread.sleep(50)
    stop = true
    reader.join(5000)
    assert(torn.isEmpty, s"reader observed mixed/partial state: $torn")
    assert(v1 != v2)
    assert(readAll(v2) == Seq.fill(4)("TWO"))
    // v1 survives the flip (the grace version for in-flight readers)
    assert(readAll(v1) == Seq.fill(4)("ONE"))
    val man = Files.readString(famBase(family, dir).resolve("MANIFEST")).trim
    assert(man == "v_sig2", s"manifest did not flip: $man")
  }

  test("GC keeps the current and previous versions, deletes older ones past grace") {
    val dir = Files.createTempDirectory("graft_stagespec_gc").toString
    val family = "specgc"
    def stage(sig: String): String =
      Stage.publish(family, sig, dir) { p =>
        Files.createDirectories(Paths.get(p))
        Files.writeString(Paths.get(s"$p/x.txt"), sig)
      }
    stage("a"); stage("b")
    // age both committed versions past the 10-minute builder grace so the
    // next flip's GC judges them on manifest state alone
    val old = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60 * 60 * 1000L)
    listVersions(family, dir).foreach { v =>
      Files.setLastModifiedTime(famBase(family, dir).resolve(v), old)
    }
    stage("c")
    val vs = listVersions(family, dir)
    assert(vs == Seq("v_b", "v_c"),
      s"GC must keep current+previous only, got $vs")
    val man = Files.readString(famBase(family, dir).resolve("MANIFEST")).trim
    assert(man == "v_c")
  }

  test("a crashed (markerless) version dir is rebuilt, never served") {
    val dir = Files.createTempDirectory("graft_stagespec_crash").toString
    val family = "speccrash"
    // simulate a pre-rename-era crash: version dir exists, no marker
    val ver = famBase(family, dir).resolve("v_s")
    Files.createDirectories(ver.resolve("data"))
    Files.writeString(ver.resolve("data").resolve("x.txt"), "PARTIAL")
    val p = Stage.publish(family, "s", dir) { p =>
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(s"$p/x.txt"), "REBUILT")
    }
    assert(Files.readString(Paths.get(s"$p/x.txt")) == "REBUILT")
    assert(Files.exists(ver.resolve("_graft_ok")))
  }

  test("corpusSig of a missing table throws and names the path") {
    val dir = Files.createTempDirectory("graft_sigspec").toString
    val e = intercept[java.io.IOException](
      Stage.sig(dir, "missing"))
    assert(e.getMessage.contains(Paths.get(dir, "missing.parquet").toString),
      e.getMessage)
  }

  test("a two-table versioned key restages when only the second table's mtime moves") {
    val dir = Files.createTempDirectory("graft_stagespec_two").toString
    Seq("a", "b").foreach { t =>
      Files.createDirectories(Paths.get(dir, s"$t.parquet"))
      Files.writeString(Paths.get(dir, s"$t.parquet", "part0"), t)
    }
    var builds = 0
    def stage(): String = Stage.versioned("spectwo", dir, "a", "b") { p =>
      builds += 1
      Files.createDirectories(Paths.get(p))
    }
    val v1 = stage()
    assert(stage() == v1 && builds == 1, "an unchanged corpus restaged")
    val b = Paths.get(dir, "b.parquet")
    Files.setLastModifiedTime(b,
      FileTime.fromMillis(Files.getLastModifiedTime(b).toMillis + 1000))
    val v2 = stage()
    assert(builds == 2 && v2 != v1,
      "regenerating the second source table served the stale artifact")
  }

  test("bucketed called twice in one JVM creates once, mounts once, and scans bucketed") {
    import org.apache.spark.sql.functions.{col, sum}
    val dir = Files.createTempDirectory("graft_stagespec_bkt").toString
    spark.range(10).write.parquet(s"$dir/t.parquet")
    var builds = 0
    def stage(): String = Stage.bucketed(spark, "specbkt", dir, "t")("k", 4) {
      builds += 1
      spark.range(300).select((col("id") % 40).as("k"), col("id").as("v"))
    }
    val tbl = stage()
    try {
      val mounted = spark.table(tbl)
      assert(mounted.count() == 300)
      val plan = mounted.groupBy("k").agg(sum("v"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"mounted layout not read as bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"mounted bucketed agg still shuffles:\n$plan")
      // with the mount dropped, a second mount would be visible
      spark.sql(s"DROP TABLE $tbl")
      assert(stage() == tbl)
      assert(builds == 1, s"create ran $builds times")
      assert(!spark.catalog.tableExists(tbl), "the second call mounted again")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
