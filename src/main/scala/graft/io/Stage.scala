package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staging of corpus-derived artifacts (re-encoded table copies, indexes,
  * bucketed edge layouts): each is written once per corpus version and
  * reused by every later run, in this JVM and in others.
  *
  * The version key of an artifact is the [[sig]] of every corpus table its
  * builder reads, so regenerating any of them restages it. A table that
  * cannot be read throws (the java.nio exception names the path): a
  * fallback key would let every unreadable corpus share one artifact. */
private[graft] object Stage {

  private def tmpDir: Path = Paths.get(sys.props("java.io.tmpdir"))

  /** Collision-proof key of a (kind, corpus dir) pair: a truncated SHA-256.
    * `String.hashCode` is 32-bit — two corpus dirs could land on one stage
    * path and silently serve each other's data. */
  private[io] def digest(kind: String, dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$kind:$dir".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** (mtime millis, regular-file count) of a table path. The walk stream
    * is closed: an unclosed Files.walk leaks a directory fd per call. */
  private def stat(src: Path): (Long, Long) = {
    val mt = Files.getLastModifiedTime(src).toMillis
    val walk = Files.walk(src)
    val n =
      try walk.filter(Files.isRegularFile(_)).count()
      finally walk.close()
    (mt, n)
  }

  /** Signature of the corpus table `<dir>/<table>.parquet`: mtime millis +
    * regular-file count. Cheap (no data read), and any regeneration of the
    * table changes it. */
  def sig(dir: String, table: String): String = {
    val (mt, n) = stat(Paths.get(dir, s"$table.parquet"))
    s"${mt}_$n"
  }

  /** Print one `[corpus] <table> sig=<sig>` line per `*.parquet` table in
    * `dir`, then the corpus signature, on stderr; return that signature,
    * `<12 hex of all table sigs>@<latest table mtime, ISO>`. Bench and
    * Verify print it so an artifact names the corpus it measured. */
  def corpus(dir: String): String = {
    val list = Files.list(Paths.get(dir))
    val paths =
      try list.filter(_.getFileName.toString.endsWith(".parquet"))
        .toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString)
      finally list.close()
    require(paths.nonEmpty, s"no *.parquet table in $dir")
    val rows = paths.map { p =>
      val (mt, n) = stat(p)
      (p.getFileName.toString.stripSuffix(".parquet"), s"${mt}_$n", mt)
    }
    rows.foreach { case (t, sg, _) => System.err.println(s"[corpus] $t sig=$sg") }
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.map { case (t, sg, _) => s"$t:$sg" }.mkString("|")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val token =
      s"$hash@${java.time.Instant.ofEpochMilli(rows.map(_._3).max)}"
    System.err.println(s"[corpus] signature=$token dir=$dir")
    token
  }

  private val published = new ConcurrentHashMap[String, String]()
  private val mounted = new ConcurrentHashMap[String, String]()

  /** Path of the artifact `family` built from `tables` of the corpus at
    * `dir`, staged by `create(path)` unless this corpus version of it is
    * already published. Once per JVM it checks the published dir. */
  def versioned(family: String, dir: String, tables: String*)
               (create: String => Unit): String = {
    require(tables.nonEmpty, s"stage family $family names no source table")
    publish(family, tables.map(sig(dir, _)).mkString("-"), dir)(create)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Versioned artifact with atomic publish — write new version, then flip:
    *
    *   <base>/v_<key>/      immutable version dirs. Built in a private
    *                        temp dir, `_graft_ok` marker created INSIDE,
    *                        then ATOMIC_MOVE'd into place — no reader
    *                        ever sees a partial version.
    *   <base>/MANIFEST      one line naming the current version, flipped
    *                        by temp-file + ATOMIC_MOVE only AFTER the
    *                        version dir committed.
    *
    * Readers hold a complete version dir by construction (resolution
    * returns the version path, never the mutable base), so a re-stage
    * racing a reader can never show it partial or mixed state — the old
    * version stays intact until GC. GC runs after each flip and deletes
    * superseded `v_*` dirs EXCEPT (a) the version the manifest named
    * before this flip (grace for readers that resolved just before the
    * corpus changed), and (b) anything modified in the last 10 minutes
    * (grace for a concurrent builder between its rename and its flip).
    * The base path is keyed by (family, corpus dir), so stagings of
    * different corpora never GC each other. */
  private[io] def publish(family: String, key: String, dir: String)
                         (create: String => Unit): String =
    published.computeIfAbsent(s"$family:$key:$dir", { _ =>
      require(!family.contains("_"),
        s"stage family must be underscore-free (GC lists by prefix): $family")
      val base = tmpDir.resolve(s"graft_stagefam_${family}_${digest(family, dir)}")
      Files.createDirectories(base)
      val ver = base.resolve(s"v_$key")
      val ok = ver.resolve("_graft_ok")
      if (!Files.exists(ok)) {
        val tmp = Files.createTempDirectory(base, s"build.")
        create(tmp.resolve("data").toString)
        Files.createFile(tmp.resolve("_graft_ok"))
        if (Files.exists(ver) && !Files.exists(ok)) rmTree(ver.toFile)
        try Files.move(tmp, ver, StandardCopyOption.ATOMIC_MOVE)
        catch { case e: java.nio.file.FileSystemException =>
          // only a race loss (another JVM committed this version first)
          // is recoverable — its marker must be in place
          if (Files.exists(ok)) rmTree(tmp.toFile) else throw e
        }
        // flip the manifest to the committed version, then GC superseded
        // versions outside the grace set
        val man = base.resolve("MANIFEST")
        val prev =
          if (Files.exists(man)) Some(Files.readString(man).trim) else None
        if (!prev.contains(s"v_$key")) {
          val mtmp = Files.createTempFile(base, "MANIFEST.", ".tmp")
          Files.writeString(mtmp, s"v_$key")
          Files.move(mtmp, man, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
        val keep = Set(s"v_$key") ++ prev
        val graceMs = System.currentTimeMillis() - 10 * 60 * 1000L
        Option(base.toFile.listFiles).foreach(_.filter { f =>
          f.getName.startsWith("v_") && !keep(f.getName) &&
            f.lastModified() < graceMs
        }.foreach(rmTree))
      }
      ver.resolve("data").toString
    })

  /** A bucketed layout of `create`'s frame (bucketed and sorted by
    * `bucketCol`, [[Sinks.writeBucketed]]): the files are written once per
    * corpus version through [[versioned]]; the catalog table over them is
    * mounted once per JVM ([[Sinks.mountBucketed]]), because bucket
    * metadata lives in the in-memory catalog, which a fresh JVM lacks.
    * Returns the table name. */
  def bucketed(s: SparkSession, family: String, dir: String, tables: String*)
              (bucketCol: String, buckets: Int)(create: => DataFrame): String = {
    val tbl = s"graft_${family}_${digest(family, dir)}"
    val path = versioned(family, dir, tables: _*) { p =>
      val build = s"${tbl}_build"
      s.sql(s"DROP TABLE IF EXISTS $build")
      Sinks.writeBucketed(create, build, bucketCol, buckets,
        sortCol = Some(bucketCol), path = Some(p))
      s.sql(s"DROP TABLE IF EXISTS $build") // external: files remain
      ()
    }
    mounted.computeIfAbsent(path, { _ =>
      Sinks.mountBucketed(s, tbl, s.read.parquet(path).schema,
        bucketCol, buckets, Some(bucketCol), path)
      tbl
    })
  }

  /** Bucket count for a staged layout of `n` rows: ~2M rows per bucket,
    * 1..32 — the stage-time twin of the consumer-side parallelism policy
    * ([[graft.ext.Graph.rankParallelism]]). */
  def buckets(n: Long): Int =
    math.max(1L, math.min(32L, (n + 1999999L) / 2000000L)).toInt

  /** Record the row count of the parquet `file` in the stage dir `path`
    * as `count.txt`, inside `create`: a published dir is immutable. */
  def writeCount(s: SparkSession, path: String, file: String): Unit = {
    Files.writeString(Paths.get(path, "count.txt"),
      s.read.parquet(s"$path/$file").count().toString)
    ()
  }

  /** The row count [[writeCount]] recorded in a published stage dir. */
  def count(path: String): Long =
    Files.readString(Paths.get(path, "count.txt")).trim.toLong

  /** Stable scratch dir of a (kind, corpus dir) pair, emptied, for a
    * query that writes intermediate output on every run: a fresh temp dir
    * per run would accrete copies in the temp dir until writes start
    * failing, and a surviving streaming checkpoint would make a rerun
    * process nothing. */
  def scratch(kind: String, dir: String): String = {
    val p = tmpDir.resolve(s"graft_scratch_${kind}_${digest(kind, dir)}")
    rmTree(p.toFile)
    Files.createDirectories(p)
    p.toString
  }
}
